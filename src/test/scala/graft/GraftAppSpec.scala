package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.streaming.{ConsistentState, GraftApp}
import graft.BmpLines._

/** Fault-injecting local filesystem (`faulty://` scheme) aimed at one
  * table's snapshot write, in the style of [[CrashingFs]]: while
  * `failOn` names a table, the next file created under its `v<N>`
  * directory throws (one-shot); while `stallOn` names one, creating its
  * `_SUCCESS` marker blocks until the thread is interrupted (at most a
  * minute). The marker is written by the job commit on the thread that
  * runs the write, so the stall holds a batch thread, not a task.
  */
class FaultyWriteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  private def inject(f: Path): Unit = {
    def hits(t: Option[String]) = t.exists(n => f.toString.contains(s"/$n/v"))
    if (hits(FaultyWriteFs.failOn)) {
      FaultyWriteFs.failOn = None
      throw new java.io.IOException(s"injected write failure at $f")
    }
    if (hits(FaultyWriteFs.stallOn) && f.getName == "_SUCCESS") {
      FaultyWriteFs.stalled = true
      Thread.sleep(60000)
    }
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) = {
    inject(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    inject(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object FaultyWriteFs {
  @volatile var failOn: Option[String] = None
  @volatile var stallOn: Option[String] = None
  @volatile var stalled = false
}

/** E2e over the production entrypoint's OWN wiring (not the pieces):
  * fixture TSV streams for multiple message types flow through
  * [[GraftApp.start]]'s single query — demux, parse, cascades, merges,
  * one manifest commit, view registration — and the SQL surface is
  * queried WHILE the stream runs.
  */
class GraftAppSpec extends SparkSpec {

  private def writeTopic(in: String, topic: String, file: String, lines: String*): Unit = {
    val dir = Paths.get(s"$in/topic=${GraftApp.TopicPrefix}$topic")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(file), lines.mkString("", "\n", "\n"))
  }

  private val ts0 = "2024-01-01 00:00:00.000000"
  test("GraftApp wires the full topology: stream in, consistent views out") {
    val in   = Files.createTempDirectory("graftapp_in").toString
    val root = Files.createTempDirectory("graftapp_root").toString
    val conf = GraftApp.Conf(root, triggerMs = 50,
      corpusDir = Some("/root/testdata/sf0.001"))

    // batch 1: inventory + attrs + two prefixes + a stat report
    writeTopic(in, "collector", "b1.tsv", collectorLine("c1", "started", ts0))
    writeTopic(in, "router", "b1.tsv",
      routerLine("r1", "router-one", "10.0.0.1", "2024-01-01 00:00:01.000000", "init", "c1"))
    writeTopic(in, "peer", "b1.tsv",
      peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
        "2024-01-01 00:00:02.000000"),
      // T6: loc-rib default peer (addr+bgp_id 0.0.0.0) inherits name from r1
      peerLine("p2", "r1", "0.0.0.0", "", "0.0.0.0", 65001, "up",
        "2024-01-01 00:00:02.000000"))
    writeTopic(in, "base_attribute", "b1.tsv",
      attrLine("a1", "p1", 65002, "2024-01-01 00:00:03.000000"))
    writeTopic(in, "unicast_prefix", "b1.tsv",
      prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:04.000000", withdrawn = false),
      prefixLine("u2", "p1", "a1", "198.51.100.0", 24, "2024-01-01 00:00:04.100000", withdrawn = false))
    writeTopic(in, "bmp_stat", "b1.tsv", statLine("p1", "2024-01-01 00:00:05.000000"))

    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q.processAllAvailable()

      // views are live while the stream runs, over ONE consistent snapshot
      val routes = spark.sql(
        "SELECT RouterName, PeerName, prefix, isWithdrawn FROM v_ip_routes ORDER BY prefix")
        .collect()
      assert(routes.length === 2)
      assert(routes.head.getString(0) === "router-one")
      assert(routes.head.getString(1) === "peer-one")
      assert(spark.sql("SELECT * FROM v_ip_routes_active").count() === 2)
      // T6 parity: the default peer inherited the router's name
      val p2 = spark.sql("SELECT PeerName FROM v_peers WHERE peer_hash_id = 'p2'").collect()
      assert(p2.map(_.getString(0)).toSeq === Seq("router-one"))
      assert(spark.sql("SELECT prefixes_rejected FROM stat_reports").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      assert(spark.sql("SELECT state FROM peer_events WHERE peer_hash_id='p1'")
        .collect().map(_.getString(0)).toSeq === Seq("up"))

      // the LLM-corpus surface registers alongside the BMP surface:
      // curation views are queryable over the RUNNING stream's session
      val nq = spark.sql(
        "SELECT count(*) FROM v_doc_quality WHERE n_tokens > 0 AND quality > 0")
        .collect()(0).getLong(0)
      assert(nq > 0, "v_doc_quality empty")
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_repetition WHERE passes_repetition").collect()(0).getLong(0) > 0)
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_blocklist WHERE NOT passes_blocklist").collect()(0).getLong(0) > 0)
      assert(spark.sql("SELECT count(*) FROM v_source_quality").collect()(0).getLong(0) > 0)
      assert(spark.sql("SELECT count(*) FROM v_doc_gopher WHERE n_words >= 0")
        .collect()(0).getLong(0) > 0)
      // every doc lands in exactly one LM bucket
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_lm_buckets WHERE bucket IN ('head','middle','tail')")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      // order-1 LM + DSIR views cover every doc (left-join contract)
      assert(spark.sql("SELECT count(*) FROM v_doc_bigram_lp")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_doc_dsir")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_sessions WHERE n_events > 0")
        .collect()(0).getLong(0) > 0)
      // round-8 session-2 views: curriculum quartiles partition the
      // corpus; quantiles emit 3 rows per source; sketches are bounded
      assert(spark.sql("SELECT sum(n_docs) FROM v_doc_curriculum")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_source_token_quantiles WHERE q IN ('p50','p90','p99')")
        .collect()(0).getLong(0) === 3 *
        spark.sql("SELECT count(DISTINCT source) FROM documents")
          .collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_term_cms")
        .collect()(0).getLong(0) <= 4L * 64L)
      assert(spark.sql(
        "SELECT count(*) FROM v_source_hll WHERE hll_est > 0")
        .collect()(0).getLong(0) > 0)
      // round-8 session-3 views: vocab health per source, rendezvous
      // shard ownership, the deterministic epoch order (a permutation:
      // every doc exactly once, keys distinct), winnowing fingerprints
      assert(spark.sql(
        "SELECT count(*) FROM v_source_vocab WHERE n_types <= n_tokens")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(DISTINCT source) FROM documents")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_shard WHERE shard LIKE 'n%'")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(DISTINCT shuffle_key) FROM v_doc_shuffle")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_doc_winnow")
        .collect()(0).getLong(0) > 0)
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_contam_spans WHERE n_span_tokens >= 4")
        .collect()(0).getLong(0) >= 0)
      // round-8 session-4 views: readability covers every doc; z-scores
      // cover every doc; the rollup's grand-total row equals the corpus;
      // class weights cover every label; dim stats cover every dim;
      // the purged split labels every event
      assert(spark.sql("SELECT count(*) FROM v_doc_readability")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_doc_zscore")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT n_docs FROM v_corpus_rollup WHERE source IS NULL AND lang IS NULL")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_term_pmi WHERE c_xy >= 5")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_term_pmi").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_class_weights")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(DISTINCT label) FROM embeddings")
          .collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_dim_stats")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT max(size(embedding)) FROM embeddings")
          .collect()(0).getInt(0).toLong)
      assert(spark.sql(
        "SELECT count(*) FROM v_event_split WHERE split IN ('train','embargo','valid')")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM events").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_user_features")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(DISTINCT user_id) FROM events")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_event_winsor WHERE vq_clipped BETWEEN lo AND hi")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM events").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_rank_norm WHERE rank BETWEEN 1 AND grp_n")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_source_keyness WHERE rank <= 10")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_source_keyness")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_mlm_mask WHERE action IN ('mask','random','keep')")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_doc_mlm_mask")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_vocab_coverage WHERE n_oov <= n_tokens")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(DISTINCT source) FROM documents")
          .collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_term_burstiness")
        .collect()(0).getLong(0) <= 50L)
      assert(spark.sql(
        "SELECT sum(n_docs) FROM v_corpus_health")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_doc_code_switch")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents WHERE text IS NOT NULL")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_preference_pairs WHERE high_score < low_score")
        .collect()(0).getLong(0) === 0L)
      assert(spark.sql(
        "SELECT count(*) FROM v_doc_span_corrupt WHERE span_len BETWEEN 1 AND 3")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_doc_span_corrupt")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_quality_auc").collect()(0).getLong(0) === 1L)
      assert(spark.sql(
        "SELECT count(*) FROM v_term_heavy WHERE cnt > 0")
        .collect()(0).getLong(0) >= 0L)
      assert(spark.sql("SELECT count(*) FROM v_rate_anomaly")
        .collect()(0).getLong(0) > 0L)
      assert(spark.sql(
        "SELECT count(*) FROM v_funnel WHERE stage BETWEEN 1 AND 3")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_funnel").collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_cohort_retention WHERE `offset` = 0 AND n_users > 0")
        .collect()(0).getLong(0) > 0L)
      assert(spark.sql(
        "SELECT count(*) FROM v_quality_ece WHERE pos <= n")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_quality_ece")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_lang_report WHERE tp <= n_truth")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_lang_report")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_knn_ndcg WHERE ndcg_q BETWEEN 0 AND 1000000")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM v_knn_ndcg")
          .collect()(0).getLong(0))
      // every transition row's probability mass is a valid share and
      // each from-row's counts sum to its row total
      assert(spark.sql(
        "SELECT count(*) FROM (SELECT from_type, sum(n) s, min(row_n) r " +
          "FROM v_markov_transitions GROUP BY from_type) WHERE s <> r")
        .collect()(0).getLong(0) === 0L)
      // session-9 surface: rake phrases never exceed the length cap and
      // score positive; welch rows cover every source; cramers V is a
      // valid share; mcnemar partitions n; lift table covers all rows;
      // link predictions are non-adjacent by construction (cheap row
      // sanity here; semantics are oracle-gated)
      assert(spark.sql(
        "SELECT count(*) FROM v_term_rake WHERE score_q <= 0 OR " +
          "size(split(phrase, ' ')) > 4")
        .collect()(0).getLong(0) === 0L)
      assert(spark.sql("SELECT count(*) FROM v_source_welch")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(DISTINCT source) FROM documents")
          .collect()(0).getLong(0))
      assert(spark.sql(
        "SELECT count(*) FROM v_assoc_cramers WHERE v_q BETWEEN 0 AND 1000000")
        .collect()(0).getLong(0) === 1L)
      assert(spark.sql(
        "SELECT count(*) FROM v_langid_mcnemar " +
          "WHERE both_right + both_wrong + b + c = n")
        .collect()(0).getLong(0) === 1L)
      assert(spark.sql("SELECT sum(n) FROM v_quality_lift")
        .collect()(0).getLong(0) ===
        spark.sql("SELECT count(*) FROM documents WHERE text IS NOT NULL " +
          "AND lang IS NOT NULL").collect()(0).getLong(0))
      assert(spark.sql("SELECT count(*) FROM v_event_seasonal " +
          "WHERE detr_q <> seasonal_q + resid_q " +
          "OR 1000000 * x <> trend_q + detr_q")
        .collect()(0).getLong(0) === 0L)
      assert(spark.sql(
        "SELECT count(*) FROM v_link_predictions WHERE x >= y")
        .collect()(0).getLong(0) === 0L)
      // raw tables are first-class too (join surface for operator calls)
      assert(spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0) > 0)

      // every versioned table committed at the SAME manifest step
      val man1 = ConsistentState.readManifest(spark, root)
      assert(man1.values.toSet.size === 1,
        s"manifest tore across tables: $man1")

      // batch 2, while running: withdraw u1 (M1 retain + T1 CDC)
      writeTopic(in, "unicast_prefix", "b2.tsv",
        prefixLine("u1", "p1", "", "192.0.2.0", 24, "2024-01-01 00:01:00.000000", withdrawn = true))
      q.processAllAvailable()

      val u1 = spark.sql(
        "SELECT isWithdrawn, base_hash_id FROM v_ip_routes WHERE prefix='192.0.2.0'")
        .collect()
      assert(u1.length === 1)
      assert(u1.head.getBoolean(0) === true)
      assert(u1.head.getString(1) === "a1") // retained on withdraw
      assert(spark.sql("SELECT * FROM v_ip_routes_active").count() === 1)
      // T1/T2 CDC: 2 advertises + 1 withdraw in the history log
      assert(spark.sql("SELECT * FROM ip_rib_log").count() === 3)

      val man2 = ConsistentState.readManifest(spark, root)
      assert(man2.values.toSet.size === 1)
      assert(man2("ip_rib") === man1("ip_rib") + 1)

      // cron-fed enrichment lands mid-stream (the operator runs the
      // geoip loader): next registration pass exposes geo_ip AND the
      // reference's v_ip_routes_geo (8_views.sql:76)
      import spark.implicits._
      Seq(("192.0.2.0/24", "NL", "Amsterdam"), ("198.51.100.0/24", "US", "Dallas"))
        .toDF("ip", "country", "city")
        .write.mode("overwrite").parquet(s"$root/geo_ip")
      writeTopic(in, "unicast_prefix", "b3.tsv",
        prefixLine("u3", "p1", "a1", "203.0.113.0", 24, "2024-01-01 00:02:00.000000", withdrawn = false))
      q.processAllAvailable()
      val geo = spark.sql(
        "SELECT prefix, country FROM v_ip_routes_geo ORDER BY prefix").collect()
      assert(geo.map(r => (r.getString(0), r.getString(1))).toSeq ===
        Seq(("198.51.100.0", "US"), ("203.0.113.0", null))) // withdrawn u1 absent; unmatched keeps null geo
    } finally q.stop()
  }

  test("GraftApp cascades: router-up downs stale peers; peer-up purges stale rib (T7+T9)") {
    val in   = Files.createTempDirectory("graftapp2_in").toString
    val root = Files.createTempDirectory("graftapp2_root").toString
    val conf = GraftApp.Conf(root, triggerMs = 50)

    writeTopic(in, "collector", "b1.tsv", collectorLine("c1", "started", ts0))
    writeTopic(in, "router", "b1.tsv",
      routerLine("r1", "router-one", "10.0.0.1", "2024-01-01 00:00:01.000000", "init", "c1"))
    writeTopic(in, "peer", "b1.tsv",
      peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
        "2024-01-01 00:00:02.000000"))
    writeTopic(in, "base_attribute", "b1.tsv",
      attrLine("a1", "p1", 65002, "2024-01-01 00:00:02.500000"))
    writeTopic(in, "unicast_prefix", "b1.tsv",
      prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:03.000000", withdrawn = false),
      prefixLine("u2", "p1", "a1", "198.51.100.0", 24, "2024-01-01 00:00:04.000000", withdrawn = false))

    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM v_ip_routes").count() === 2)

      // batch 2: the router reconnects at T — p1 (state ts < T) cascades
      // down (T7); p1 comes back up at T+1s with ts between u1 and u2 —
      // only u1 (older than the up) is purged (T9)
      writeTopic(in, "router", "b2.tsv",
        routerLine("r1", "router-one", "10.0.0.1", "2024-01-01 00:10:00.000000", "init", "c1"))
      q.processAllAvailable()
      val p1 = spark.sql("SELECT peer_state FROM v_peers WHERE peer_hash_id='p1'").collect()
      assert(p1.map(_.getString(0)).toSeq === Seq("down"))

      writeTopic(in, "peer", "b3.tsv",
        peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
          "2024-01-01 00:00:03.500000"))
      q.processAllAvailable()
      val left = spark.sql("SELECT prefix FROM ip_rib").collect().map(_.getString(0)).toSeq
      assert(left === Seq("198.51.100.0")) // u1 purged, u2 survived
    } finally q.stop()
  }

  test("GraftApp bucketed regime: rib buckets and T9 purge commit through _CURRENT") {
    val in   = Files.createTempDirectory("graftapp3_in").toString
    val root = Files.createTempDirectory("graftapp3_root").toString
    val conf = GraftApp.Conf(root, triggerMs = 50, ribBuckets = 8)

    writeTopic(in, "collector", "b1.tsv", collectorLine("c1", "started", ts0))
    writeTopic(in, "router", "b1.tsv",
      routerLine("r1", "router-one", "10.0.0.1", "2024-01-01 00:00:01.000000", "init", "c1"))
    writeTopic(in, "peer", "b1.tsv",
      peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
        "2024-01-01 00:00:02.000000"))
    writeTopic(in, "base_attribute", "b1.tsv",
      attrLine("a1", "p1", 65002, "2024-01-01 00:00:02.500000"))
    writeTopic(in, "unicast_prefix", "b1.tsv",
      prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:03.000000", withdrawn = false),
      prefixLine("u2", "p1", "a1", "198.51.100.0", 24, "2024-01-01 00:00:04.000000", withdrawn = false))

    // every file v_ip_routes reads belongs to a version one manifest names:
    // rib buckets through that manifest's map, the other tables' v<N>
    def readsOneManifest(): Unit = {
      val man = ConsistentState.readManifest(spark, root)
      val rib = ConsistentState.bucketMap(spark, root, "ip_rib", man("ip_rib")).get
      val allowed = rib.versions.keys.map(b => rib.dir(root, "ip_rib", b).toUri.getPath).toSeq ++
        Seq("bgp_peers", "base_attrs", "routers").map(t => s"$root/$t/v${man(t)}")
      val files = spark.table("v_ip_routes").inputFiles.map(f => new Path(f).toUri.getPath)
      assert(files.exists(_.contains("/ip_rib/")) && files.exists(_.contains("/bgp_peers/")))
      files.foreach(f => assert(allowed.exists(d => f.startsWith(d + "/")),
        s"$f is outside manifest $man"))
    }

    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q.processAllAvailable()
      // _CURRENT names every state table; rib rows live in bucket dirs
      assert(ConsistentState.readManifest(spark, root).keySet === Set("collectors", "routers",
        "bgp_peers", "base_attrs", "ip_rib", "l3vpn_rib", "ls_nodes", "ls_links", "ls_prefixes"))
      assert(new java.io.File(s"$root/ip_rib/v0").listFiles()
        .exists(_.getName.startsWith("__bucket=")))
      assert(spark.sql("SELECT * FROM v_ip_routes").count() === 2)
      readsOneManifest()

      // peer-up between the two rib timestamps purges only the older row
      writeTopic(in, "peer", "b2.tsv",
        peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
          "2024-01-01 00:00:03.500000"))
      q.processAllAvailable()
      val left = spark.sql("SELECT prefix FROM ip_rib").collect().map(_.getString(0)).toSeq
      assert(left === Seq("198.51.100.0"))
      assert(ConsistentState.readManifest(spark, root)("ip_rib") === 1)
      readsOneManifest()
    } finally q.stop()
  }

  test("GraftApp integrated maintenance: CDC folds to hours mid-stream, reads stay exact") {
    // the n-bucket rib regime and the 1-bucket default both run it
    for (ribBuckets <- Seq(8, 1)) {
      val in   = Files.createTempDirectory("graftapp4_in").toString
      val root = Files.createTempDirectory("graftapp4_root").toString
      val conf = GraftApp.Conf(root, triggerMs = 50, ribBuckets = ribBuckets,
        maintenanceEvery = 1) // fold after every micro-batch

      writeTopic(in, "peer", "b1.tsv",
        peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
          "2024-01-01 00:00:02.000000"))
      writeTopic(in, "unicast_prefix", "b1.tsv",
        prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:03.000000", withdrawn = false))

      val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
      try {
        q.processAllAvailable()
        // two more micro-batches, one hour apart — batchIds 1, 2 both
        // trigger the inline maintenance pass (maintenanceEvery = 1)
        writeTopic(in, "unicast_prefix", "b2.tsv",
          prefixLine("u2", "p1", "a1", "198.51.100.0", 24, "2024-01-01 01:00:03.000000", withdrawn = false))
        q.processAllAvailable()
        writeTopic(in, "unicast_prefix", "b3.tsv",
          prefixLine("u3", "p1", "a1", "203.0.113.0", 24, "2024-01-01 02:00:03.000000", withdrawn = false))
        q.processAllAvailable()

        val compacted = new java.io.File(s"$root/ip_rib_log_compacted")
        assert(compacted.isDirectory &&
          compacted.listFiles().exists(_.getName.startsWith("date_hour=")),
          s"maintenance never folded the CDC log to the hourly layout ($ribBuckets buckets)")
        assert(new java.io.File(compacted, "_COMPACTED_THROUGH").isFile)
        // the unified reader must see every change exactly once across the
        // compacted hours ∪ surviving raw batches seam, mid-maintenance
        val cdc = graft.streaming.Ingest.readCdcLog(spark,
          s"$root/ip_rib_log", s"$root/ip_rib_log_compacted")
        val prefixes = cdc.select("prefix").collect().map(_.getString(0)).sorted.toSeq
        assert(prefixes === Seq("192.0.2.0", "198.51.100.0", "203.0.113.0"))
        // a 1-bucket table is rewritten whole every batch: maintenance
        // stages no second rewrite, so the rib moved one version per batch
        if (ribBuckets == 1) assert(ConsistentState.readManifest(spark, root)("ip_rib") === 2)
      } finally q.stop()
    }
  }

  private def batchThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith(GraftApp.BatchThreadPrefix))

  private def tsvBatch(lines: (String, String)*) = BmpLines.batch(spark, lines: _*)

  /** A batch of every topic, each row stamped `ts`; `n` varies the keys. */
  private def allTopics(n: Int, ts: String) = tsvBatch(
    "collector" -> collectorLine("c1", "started", ts),
    "router" -> routerLine("r1", "router-one", "10.0.0.1", ts, "init", "c1"),
    "peer" -> peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up", ts),
    "base_attribute" -> attrLine(s"a$n", "p1", 65002, ts),
    "unicast_prefix" -> prefixLine(s"u$n", "p1", s"a$n", s"192.0.$n.0", 24, ts, withdrawn = false),
    "l3vpn" -> l3vpnLine(s"v$n", "p1", s"a$n", s"10.$n.0.0", ts),
    "bmp_stat" -> statLine("p1", ts),
    "ls_node" -> lsNodeLine(s"n$n", "p1", ts),
    "ls_link" -> lsLinkLine(s"l$n", "p1", ts),
    "ls_prefix" -> lsPrefixLine(s"x$n", "p1", ts))

  /** Two every-topic batches and a view registration: the second batch
    * is the steady state (every table and log already written).
    */
  private def twoBatches(conf: GraftApp.Conf): (Int, Int) = {
    GraftApp.processBatch(allTopics(1, "2024-01-01 00:00:01.000000"), 0L, conf)
    GraftApp.registerViews(spark, conf)
    JobCount(spark) {
      GraftApp.processBatch(allTopics(2, "2024-01-01 00:00:02.000000"), 1L, conf)
      GraftApp.registerViews(spark, conf)
    }
  }

  test("a steady-state micro-batch plus registerViews launches no schema-inference job") {
    val conf = GraftApp.Conf(Files.createTempDirectory("graftapp_jobs").toString)
    val (jobs, inferred) = twoBatches(conf)
    info(s"$jobs jobs")
    assert(inferred === 0, s"$inferred of $jobs jobs inferred a parquet schema")
    // before table versions and logs recorded their schemas, the same
    // batch and registration launched 80 jobs, 31 of them inference jobs
    // (9 txn.current, 9 Txn.stage read-backs, 13 registerViews reads);
    // before small tables merged in one task, 49
    assert(jobs <= 28, s"$jobs jobs")
    // u2 only: batch 1's peer-up purges p1's older u1 (T9)
    assert(spark.sql("SELECT rib_hash_id FROM v_ip_routes").collect().map(_.getString(0))
      .toSeq === Seq("u2"))
  }

  test("a steady-state batch: at most 3 jobs per small rib table and the T9 broadcast, one task each") {
    val conf = GraftApp.Conf(Files.createTempDirectory("graftapp_tables").toString,
      registerViews = false)
    GraftApp.processBatch(allTopics(1, "2024-01-01 00:00:01.000000"), 0L, conf)
    val trace = TableTrace(spark)(
      GraftApp.processBatch(allTopics(2, "2024-01-01 00:00:02.000000"), 1L, conf))
    info(trace.toSeq.sortBy(_._1).map { case (t, p) => s"$t ${p.tasksPerJob}" }.mkString(", "))
    assert(trace.size === 10, trace.keySet)
    // the fill of the cached merge join, the CDC write and the state
    // write; ip_rib and l3vpn_rib also broadcast the batch's peer-ups
    for (t <- Seq("ls_nodes", "ls_links", "ls_prefixes"))
      assert(trace(t).jobs <= 3, s"$t: ${trace(t).jobs} jobs")
    for (t <- Seq("ip_rib", "l3vpn_rib"))
      assert(trace(t).jobs <= 3 + 1, s"$t: ${trace(t).jobs} jobs")
    trace.foreach { case (t, p) =>
      assert(p.tasksPerJob.forall(_ == 1), s"$t: tasks per job ${p.tasksPerJob}")
    }
  }

  test("a batch with unparsable number cells and a seconds-precision timestamp commits under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val root = Files.createTempDirectory("graftapp_ansi").toString
    GraftApp.processBatch(tsvBatch(
      // router_count (an int, empty → 0) carries a number past int range
      "collector" -> collectorLine("c1", "started", ts0).replace("\t\t1\t", "\t\t99999999999\t"),
      // local_port (empty → null when absent) carries "x9"
      "peer" -> peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up", ts0)
        .replace("\t179\t", "\tx9\t"),
      // as_path_count (an int) carries a number past int range
      "base_attribute" -> attrLine("a1", "p1", 65002, ts0).replace("\t2\t1\t", "\t99999999999\t1\t"),
      // origin_as (empty → 0) carries "abc"; no micros in the timestamp
      "unicast_prefix" -> prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:02",
        withdrawn = false).replace("\t65002\t", "\tabc\t")), 0L,
      GraftApp.Conf(root, registerViews = false))
    val snap = ConsistentState.readConsistent(spark, root,
      Seq("ip_rib", "bgp_peers", "collectors", "base_attrs"))
    val rib = snap("ip_rib").select("hash_id", "origin_as", "ts_us").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rib === Seq(("u1", 0L, 1704067202000000L)))
    assert(snap("bgp_peers").select("local_port").collect().map(_.get(0)).toSeq === Seq(null))
    assert(snap("collectors").select("router_count").collect().map(_.getInt(0)).toSeq === Seq(0))
    assert(snap("base_attrs").select("as_path_count").collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("every table version and log records the schema inference returns") {
    val root = Files.createTempDirectory("graftapp_schemas").toString
    twoBatches(GraftApp.Conf(root))
    val man = ConsistentState.readManifest(spark, root)
    assert(man.size === 9)
    for ((t, v) <- man; w <- Seq(v - 1, v)) {
      val recorded = ConsistentState.bucketMap(spark, root, t, w).get
      assert(recorded.numBuckets === 1)
      assert(recorded.schema === spark.read.parquet(s"$root/$t/v$w").schema, s"$t v$w")
    }
    for (l <- Seq("ip_rib_log", "l3vpn_rib_log", "ls_nodes_log", "ls_links_log",
                  "ls_prefixes_log", "peer_events", "stat_reports"))
      assert(graft.operators.StateTables.logSchema(spark, s"$root/$l").get ===
        spark.read.parquet(s"$root/$l").schema, l)
  }

  test("a failed table write fails the batch after every pipeline exits; the replay commits once") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyWriteFs].getName)
    val local = Files.createTempDirectory("graftapp5_root")
    val root  = s"faulty://$local"
    val conf  = GraftApp.Conf(root, registerViews = false)
    GraftApp.processBatch(tsvBatch(
      "collector" -> collectorLine("c1", "started", ts0),
      "router" -> routerLine("r1", "router-one", "10.0.0.1", "2024-01-01 00:00:01.000000", "init", "c1"),
      "peer" -> peerLine("p1", "r1", "10.1.1.1", "peer-one", "10.1.1.1", 65001, "up",
        "2024-01-01 00:00:02.000000"),
      "base_attribute" -> attrLine("a1", "p1", 65002, "2024-01-01 00:00:03.000000"),
      "unicast_prefix" -> prefixLine("u1", "p1", "a1", "192.0.2.0", 24,
        "2024-01-01 00:00:04.000000", withdrawn = false)), 0L, conf)
    val man0 = ConsistentState.readManifest(spark, root)
    val current0 = Files.readAllBytes(local.resolve("_CURRENT"))

    // batch 1: withdraw u1, advertise u2 — two CDC rows
    val b1 = tsvBatch(
      "unicast_prefix" -> prefixLine("u1", "p1", "", "192.0.2.0", 24,
        "2024-01-01 00:01:00.000000", withdrawn = true),
      "unicast_prefix" -> prefixLine("u2", "p1", "a1", "198.51.100.0", 24,
        "2024-01-01 00:01:01.000000", withdrawn = false))
    FaultyWriteFs.failOn = Some("ls_links")
    try {
      intercept[Exception](GraftApp.processBatch(b1, 1L, conf))
      assert(FaultyWriteFs.failOn.isEmpty, "the injected fault never fired")
      assert(batchThreads.isEmpty, s"batch threads outlived the failed batch: $batchThreads")
      assert(Files.readAllBytes(local.resolve("_CURRENT")).sameElements(current0),
        "a failed batch moved _CURRENT")
    } finally FaultyWriteFs.failOn = None

    // the replay under the same batch id commits once and rewrites the
    // batch's CDC partition instead of adding to it
    GraftApp.processBatch(b1, 1L, conf)
    assert(ConsistentState.readManifest(spark, root) === man0.map { case (t, v) => t -> (v + 1) })
    val cdc = spark.read.parquet(s"$root/ip_rib_log")
    assert(cdc.filter(col("batch") === 1).count() === 2)
    assert(cdc.count() === 3)
  }

  test("query stop during a running batch returns with no batch thread alive") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyWriteFs].getName)
    val in    = Files.createTempDirectory("graftapp6_in").toString
    val local = Files.createTempDirectory("graftapp6_root")
    val conf  = GraftApp.Conf(s"faulty://$local", triggerMs = 50, registerViews = false)
    writeTopic(in, "unicast_prefix", "b1.tsv",
      prefixLine("u1", "p1", "a1", "192.0.2.0", 24, "2024-01-01 00:00:04.000000", withdrawn = false))
    FaultyWriteFs.stallOn = Some("ls_links")
    FaultyWriteFs.stalled = false
    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!FaultyWriteFs.stalled && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(FaultyWriteFs.stalled, "the batch never reached the ls_links write")
      assert(batchThreads.nonEmpty)
      val t0 = System.currentTimeMillis()
      q.stop()
      assert(System.currentTimeMillis() - t0 < 30000, "stop waited out the stalled write")
      assert(batchThreads.isEmpty, s"batch threads outlived query stop: $batchThreads")
      assert(!Files.exists(local.resolve("_CURRENT")), "a stopped batch committed")
    } finally { q.stop(); FaultyWriteFs.stallOn = None }
  }

  test("GraftApp.main's session: the submitted shuffle partitions, else default parallelism") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "7")
      assert(GraftApp.session().conf.get(key) === "7")
      spark.conf.unset(key)
      assert(GraftApp.session().conf.get(key) ===
        spark.sparkContext.defaultParallelism.toString)
    } finally spark.conf.set(key, before)
  }

  test("a rib bucket count below 1 is rejected when the Conf is built") {
    // let through, 0 would commit a 1-bucket ip_rib in batch 1 and fail
    // the recorded-count check of every later batch
    for (n <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](GraftApp.Conf("/unused", ribBuckets = n))
      assert(e.getMessage.contains("GRAFT_NUM_BUCKETS"), e.getMessage)
    }
    assert(GraftApp.Conf("/unused", ribBuckets = 1).ribBuckets === 1)
  }
}
