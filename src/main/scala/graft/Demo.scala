package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Messages
import graft.sources.Enrichment
import graft.streaming.{ConsistentState, GraftApp}
import graft.views.BmpViews

/** End-to-end walkthrough of the reference user's workflow on this
  * engine: message-bus TSV in → merged RIB state + CDC log → SQL over
  * the v_* views + geo enrichment — `runMain graft.Demo`.
  *
  * Mirrors SURVEY §3: ingest (3.1), aggregate (3.2), query (3.3).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)

    val dir = Files.createTempDirectory("graft_demo").toString

    // -- 1. inventory + NLRI messages off the bus (TSV wire format) ----
    val routers = Messages.routerFromTsv(Seq(
      "rt1\tedge1.pop\t10.8.8.1\t2024-01-01 00:00:00.000000\tinit\t\t\t\t\t\t10.8.8.1\tch1"
    ).toDF("line"))
    val peers = Messages.peerFromTsv(Seq(
      ("p1" +: "rt1" +: "" +: "1" +: "203.0.113.7" +: "transit-a" +: "203.0.113.7" +:
        "65010" +: "up" +: "0" +: "2024-01-01 00:00:01.000000" +: "1" +:
        Seq.fill(16)("")).mkString("\t")
    ).toDF("line"))
    val attrs = Messages.baseAttributeFromTsv(Seq(
      Seq("a1", "p1", "igp", "65010 174 3356", "3356", "203.0.113.7", "0", "100",
        "0", "", "65010:100", "", "", "", "", "3", "1",
        "2024-01-01 00:00:02.000000").mkString("\t")
    ).toDF("line"))

    val conf = GraftApp.Conf(s"$dir/state"); val log = s"${conf.root}/ip_rib_log"
    def prefixLine(hash: String, pfx: String, len: Int, ts: String, wd: Boolean) =
      s"$hash\tp1\ta1\t1\t3356\t$pfx\t$len\t$ts\t$wd\t0\t\t1\t1"
    def prefixBatch(lines: String*) = lines.toDF("line")
      .select(lit(GraftApp.TopicPrefix + "unicast_prefix").as("topic"), col("line"))
    // advertise 2 prefixes, then withdraw one — two micro-batches through
    // the deployed write path
    GraftApp.processBatch(prefixBatch(
      prefixLine("h1", "198.51.100.0", 24, "2024-01-01 00:00:03.000000", wd = false),
      prefixLine("h2", "203.0.113.0", 24, "2024-01-01 00:00:03.500000", wd = false)),
      0L, conf)
    GraftApp.processBatch(prefixBatch(
      prefixLine("h2", "203.0.113.0", 24, "2024-01-01 00:05:00.000000", wd = true)),
      1L, conf)

    // -- 2. register the reporting surface ------------------------------
    val rib = ConsistentState.readConsistent(spark, conf.root, Seq("ip_rib"))("ip_rib")
    val infoAsn = Seq((65010L, "Transit A Inc")).toDF("asn", "as_name")
    BmpViews.registerAll(rib, peers, attrs, routers, infoAsn,
      ribLog = Some(spark.read.parquet(log)))

    println("== v_ip_routes (active) ==")
    spark.sql("""SELECT Prefix, PrefixLen, Origin_AS, AS_Path, RouterName, PeerName
                 FROM v_ip_routes WHERE NOT isWithdrawn""").show(false)

    println("== v_ip_routes_history ==")
    spark.sql("""SELECT Prefix, event, LastModified FROM v_ip_routes_history
                 ORDER BY LastModified""").show(false)

    println("== v_peers ==")
    spark.sql("SELECT PeerName, PeerASN, as_name, peer_state FROM v_peers").show(false)

    // -- 3. geo enrichment via LPM over a loaded geo table --------------
    val geoCsv = s"$dir/geo.csv"
    Files.writeString(java.nio.file.Paths.get(geoCsv),
      Seq("4,0.0.0.0/0,ZZ,,,0.0,0.0,0.0,UTC,default",
        "4,198.51.100.0/22,NL,NH,Amsterdam,52.37,4.89,1.0,CET,example-isp")
        .mkString("\n"))
    val geo = Enrichment.loadGeoIpCsv(spark, geoCsv)
    println("== v_ip_routes_geo ==")
    BmpViews.vIpRoutesGeo(spark.table("v_ip_routes"), geo)
      .select("Prefix", "geo_ip", "country", "city").show(false)

    // -- 4. stats over the change log -----------------------------------
    println("== chg stats (1-min buckets) ==")
    graft.operators.TimeAgg.chgStats(spark.read.parquet(log), "ts_us", 60,
      col("isWithdrawn"), Seq("peer_hash_id")).orderBy("bucket").show(false)

    // -- 5. the LLM-pipeline half: curate a doc corpus end-to-end -------
    // dedup pairs → connected components → keep-list → scrub → pack
    import graft.operators.{Dedup, Packing}
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (2L, "the quick brown fox jumps over the lazy dog today!", "web"), // near-dup of 1
      (3L, "reach me at ops@example.net or 203.0.113.9 thanks", "mail"),
      (4L, "completely different content about spark and parquet", "web"),
      (5L, "the quick brown fox jumps over the lazy dog today", "crawl")) // exact dup of 1
      .toDF("doc_id", "text", "source")

    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 16, bands = 8, threshold = 0.6)
    val clusters = Dedup.dupClusters(pairs.select("id_a", "id_b"))
    println("== dup clusters ==")
    clusters.orderBy("id").show(false)

    val curated = Dedup.dedupKeepList(docs, "doc_id", clusters)
      .withColumn("text", TextFns.normalizeText(TextFns.redactPii(col("text"))))
    println("== curated (deduped + scrubbed) ==")
    curated.orderBy("doc_id").show(false)

    println("== packed into 12-token bins ==")
    Packing.packByTokenBudget(curated, "doc_id", "text", budget = 12, shards = 1)
      .orderBy("doc_id").show(false)

    // -- 6. round-6 curation surface: quality-gate, split, chunk, keep
    // only what's new vs yesterday's corpus
    import graft.operators.{Curation, TimeAgg}
    println("== repetition quality signals ==")
    Curation.repetitionSignals(curated, "doc_id", "text",
      maxTop2 = 0.5, maxTop3 = 0.5, maxDup2 = 0.5, maxDup5 = 0.5)
      .orderBy("doc_id").show(false)

    println("== leakage-safe split + 6-token chunks (stride 4) ==")
    Curation.stratifiedSplit(curated, "text").select("doc_id", "split")
      .join(Curation.chunkTokens(curated, "doc_id", "text", 6, 4), Seq("doc_id"))
      .orderBy("doc_id", "start_tok").show(false)

    println("== genuinely new vs an existing corpus (Bloom-guarded) ==")
    val yesterday = docs.filter(col("doc_id") === 4L)
    Dedup.newKeysOnly(curated, yesterday,
      Dedup.md5Hash60(TextFns.normalizeText(col("text"))), expectedItems = 10)
      .select("doc_id", "source").orderBy("doc_id").show(false)

    println("== per-user sessions over the event log (30s gap) ==")
    TimeAgg.sessionize(
      Seq((1L, 0L), (1L, 5000000L), (1L, 90000000L), (2L, 1000000L))
        .toDF("user_id", "ts_us"),
      Seq("user_id"), "ts_us", gapMicros = 30000000L)
      .orderBy("user_id", "ts_us").show(false)

    spark.stop()
  }
}
