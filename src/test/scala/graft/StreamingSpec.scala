package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.Messages
import graft.operators.StateTables
import graft.streaming.{ConsistentState, GraftApp, Ingest}

/** Fault-injecting local filesystem (`crashy://` scheme): while armed,
  * the FIRST rename whose destination is a snapshot bucket slot throws —
  * exactly the window between park-aside and move-into-place of
  * [[graft.operators.StateTables.mergeChangedBuckets]]'s swap. Stage
  * writes (`..._stage/__bucket=`) and park renames (`..._old/__bucket=`)
  * don't match the pattern, so the crash lands after the park succeeded.
  */
class CrashyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "crashy"
  override def getUri: java.net.URI = java.net.URI.create("crashy:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (CrashyRenameFs.armed && dst.toString.contains("/snapshot/__bucket=")) {
      CrashyRenameFs.armed = false // one-shot: the restarted run proceeds
      throw new java.io.IOException("injected crash between park and move")
    }
    super.rename(src, dst)
  }
}
object CrashyRenameFs { @volatile var armed = false }

/** Real Structured Streaming path: file-source readStream → the
  * deployed [[GraftApp.start]] query (TSV parse → keyed merge → state +
  * CDC log inside `foreachBatch`), driven synchronously via
  * processAllAvailable (the micro-batch shape of the Kafka pipeline).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def line(hash: String, attr: String, ts: String, wd: Boolean) =
    s"$hash\tp1\t$attr\t1\t65001\t10.0.0.0\t8\t$ts\t$wd\t0\t\t1\t1"

  /** Drop one unicast_prefix file where [[GraftApp.fileSource]] picks it up. */
  private def writePrefixes(in: String, file: String, lines: String*): Unit = {
    val dir = java.nio.file.Paths.get(s"$in/topic=${GraftApp.TopicPrefix}unicast_prefix")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(file), lines.mkString("\n"))
  }

  private def prefixBatch(lines: String*) = lines.toDF("line")
    .select(lit(GraftApp.TopicPrefix + "unicast_prefix").as("topic"), col("line"))

  private def bucketOf(hash: String, numBuckets: Int): Int =
    Seq(("p1", hash)).toDF("peer_hash_id", "hash_id")
      .select(StateTables.bucketId(Seq("peer_hash_id", "hash_id"), numBuckets)).head().getInt(0)
  /** A second hash whose (p1, hash) key provably lands in another bucket than h1's. */
  private def otherBucketHash(numBuckets: Int): String =
    (2 to 40).map(i => s"h$i").find(h => bucketOf(h, numBuckets) != bucketOf("h1", numBuckets)).get

  test("streaming ingest merges batches and emits CDC") {
    val in  = Files.createTempDirectory("graft_stream_in").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    val conf = GraftApp.Conf(out, triggerMs = 50, registerViews = false)

    writePrefixes(in, "b1.tsv",
      line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false),
      line("h2", "a9", "2024-01-01 00:00:01.500000", wd = false))
    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q.processAllAvailable()
      // second file lands while the stream runs → new micro-batch
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      q.processAllAvailable()
    } finally q.stop()

    val st = ConsistentState.readConsistent(spark, out, Seq("ip_rib"))("ip_rib")
    assert(st.count() === 2)
    val h1 = st.filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
    assert(h1.getAs[String]("base_attr_hash_id") === "a1") // retained on withdraw
    val log = s"$out/ip_rib_log"
    assert(spark.read.parquet(log).count() === 3)          // 2 advertises + 1 withdraw

    // compaction rewrites the per-batch dirs into hour-partitioned files
    Ingest.compactLog(spark, log, s"$out/log_compact")
    val compact = spark.read.parquet(s"$out/log_compact")
    assert(compact.count() === 3)
    assert(compact.columns.contains("date_hour"))
  }

  test("bucketed streaming ingest rewrites only touched buckets per micro-batch") {
    val in  = Files.createTempDirectory("graft_bstream_in").toString
    val out = Files.createTempDirectory("graft_bstream_out").toString
    val conf = GraftApp.Conf(out, triggerMs = 50, bucketedRib = Some(16), registerViews = false)
    val snapshot = s"$out/ip_rib/snapshot"
    val h2 = otherBucketHash(16)

    writePrefixes(in, "b1.tsv",
      line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false),
      line(h2, "a9", "2024-01-01 00:00:01.500000", wd = false))
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(snapshot).listFiles()
        .filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap

    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    val (before, after) = try {
      q.processAllAvailable()
      val before = bucketFiles()
      // second batch touches ONLY h1's key
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      q.processAllAvailable()
      (before, bucketFiles())
    } finally q.stop()

    val h1Bucket = s"__bucket=${bucketOf("h1", 16)}"
    assert(after(h1Bucket) !== before(h1Bucket))
    (before.keySet - h1Bucket).foreach(b =>
      assert(after(b) === before(b), s"bucket $b was rewritten"))

    val st = spark.read.parquet(snapshot)
    assert(st.count() === 2)
    val h1 = st.filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
    assert(h1.getAs[String]("base_attr_hash_id") === "a1") // retained on withdraw
    assert(spark.read.parquet(s"$out/ip_rib_log").count() === 3) // 2 advertises + 1 withdraw
  }

  test("crash between stage-write and bucket swap: restart converges, no duplicate CDC") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashy.impl", classOf[CrashyRenameFs].getName)
    val in  = Files.createTempDirectory("graft_crash_in").toString
    val out = Files.createTempDirectory("graft_crash_out").toString
    // the whole root, checkpoint included, on the fault-injecting FS; the
    // fault only ever fires on a rename into a snapshot bucket slot
    val conf = GraftApp.Conf(s"crashy://$out", triggerMs = 50, bucketedRib = Some(16),
      registerViews = false)
    val h1b = bucketOf("h1", 16)
    writePrefixes(in, "b1.tsv",
      line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false),
      line(otherBucketHash(16), "a9", "2024-01-01 00:00:01.500000", wd = false))
    def startQ() = GraftApp.start(GraftApp.fileSource(spark, in), conf)

    val q1 = startQ()
    try {
      q1.processAllAvailable() // bootstrap batch commits cleanly
      CrashyRenameFs.armed = true
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      try q1.processAllAvailable() catch { case _: Exception => () }
      assert(q1.exception.isDefined, "injected rename failure did not fail the query")
    } finally { q1.stop(); CrashyRenameFs.armed = false }
    // the crash window is real: h1's bucket slot is gone, its old copy parked
    assert(!new java.io.File(s"$out/ip_rib/snapshot/__bucket=$h1b").exists())
    assert(new java.io.File(s"$out/ip_rib/snapshot_old/__bucket=$h1b").exists())

    // restart from the same checkpoint: the uncommitted batch replays —
    // recoverSwap restores the parked bucket, the idempotent merge
    // re-applies, the batchId-keyed CDC write keeps its own partition
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()

    val st = spark.read.parquet(s"$out/ip_rib/snapshot")
    assert(st.count() === 2)
    val h1 = st.filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
    assert(h1.getAs[String]("base_attr_hash_id") === "a1") // retained on withdraw
    assert(!new java.io.File(s"$out/ip_rib/snapshot_old").exists()) // recovery cleaned up
    val cdc = spark.read.parquet(s"$out/ip_rib_log")
    assert(cdc.count() === 3, "replay appended duplicate CDC rows")
    assert(cdc.filter(col("hash_id") === "h1").count() === 2) // advertise + withdraw
  }

  test("replay after state commit (lost checkpoint commit) keeps original CDC rows") {
    val in  = Files.createTempDirectory("graft_rp_in").toString
    val out = Files.createTempDirectory("graft_rp_out").toString
    val conf = GraftApp.Conf(out, triggerMs = 50, bucketedRib = Some(8), registerViews = false)
    val log = s"$out/ip_rib_log"
    writePrefixes(in, "b1.tsv", line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false))
    val q1 = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q1.processAllAvailable()
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(log).count() === 2) // advertise + withdraw

    // crash window: merge + CDC + swap all committed, but the streaming
    // checkpoint did NOT — on restart the source re-delivers the batch
    // and foreachBatch re-invokes processBatch with the SAME batchId
    // against the already-updated state. Drive that invocation directly
    // (restarting with a doctored commit log trips Spark's concurrent-
    // query detection).
    GraftApp.processBatch(
      prefixBatch(line("h1", "", "2024-01-01 00:00:02.000000", wd = true)), 1L, conf)
    // the replayed merge derives ZERO changes (state already withdrawn);
    // without the _SUCCESS guard it would overwrite batch=1 with an
    // empty frame — the withdraw row must survive
    val cdc = spark.read.parquet(log)
    assert(cdc.count() === 2, "replay destroyed committed CDC rows")
    assert(cdc.filter(col("isWithdrawn") === true).count() === 1)
    // and state is unchanged (idempotent merge)
    val h1 = spark.read.parquet(s"$out/ip_rib/snapshot")
      .filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
  }

  test("streaming exact dedup: first-seen wins across micro-batches, watermark-bounded state") {
    val in = Files.createTempDirectory("graft_sdedup_in").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.tsv"),
      "1\t2024-01-01 00:00:01\tsame text\n" +
        "2\t2024-01-01 00:00:02\tsame text\n" + // in-batch dup
        "3\t2024-01-01 00:00:03\tother text")
    val parsed = spark.readStream.text(in)
      .select(split(col("value"), "\t").as("f"))
      .select(col("f").getItem(0).as("id"),
        to_timestamp(col("f").getItem(1)).as("ts"),
        col("f").getItem(2).as("text"))
    val deduped = graft.operators.Dedup.streamingExact(
      parsed, md5(col("text")), "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    q.processAllAvailable()
    // next micro-batch: a cross-batch dup (state-store hit) + a new text
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.tsv"),
      "4\t2024-01-01 00:00:10\tsame text\n" +
        "5\t2024-01-01 00:00:11\tfresh text")
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sdedup").select("id").collect().map(_.getString(0)).toSet
    assert(kept === Set("1", "3", "5")) // 2 (in-batch) and 4 (cross-batch) dropped
  }

  test("streaming corpus builder: Bloom-guarded append keeps one copy per content") {
    // the incremental corpus-build loop: each micro-batch keeps only
    // rows whose content is NEW vs the accumulated corpus, then appends
    // them — newKeysOnly inside foreachBatch against the corpus dir
    val in = Files.createTempDirectory("graft_bloom_in").toString
    val corpusDir = Files.createTempDirectory("graft_bloom_corpus").toString + "/corpus"
    val key = graft.operators.Dedup.md5Hash60(
      graft.functions.TextFns.normalizeText(col("text")))
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.tsv"),
      "1\talpha text\n2\tbeta text")
    val parsed = spark.readStream.text(in)
      .select(split(col("value"), "\t").as("f"))
      .select(col("f").getItem(0).cast("long").as("doc_id"),
        col("f").getItem(1).as("text"))
    val q = parsed.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh =
          if (new java.io.File(corpusDir).exists()) {
            val corpus = batch.sparkSession.read.parquet(corpusDir)
            graft.operators.Dedup.newKeysOnly(batch, corpus, key, expectedItems = 1000)
          } else batch // bootstrap: empty corpus, everything is new
        fresh.write.mode("append").parquet(corpusDir)
        ()
      }.start()
    q.processAllAvailable()
    // batch 2: one cross-batch content dup (case/whitespace variant), one new
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.tsv"),
      "3\tALPHA   text\n4\tgamma text")
    q.processAllAvailable()
    q.stop()
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.count() === 3L)
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
  }

  test("Kafka decode seam: wire-shaped records flow through parse + merge") {
    // exactly Kafka's post-.load() schema: binary key/value, topic,
    // timestamp — decodeKafkaRecords is the seam every record crosses,
    // so this drives the full ingest path minus only the broker line
    val topic = GraftApp.TopicPrefix + "unicast_prefix"
    val wire = Seq(
      (topic, "h1".getBytes, // key = routing key
        "h1\tp1\ta1\t1\t65001\t10.0.0.0\t8\t2024-01-01 00:00:01.000000\tfalse\t0\t\t1\t1".getBytes),
      (topic, "h2".getBytes,
        "h2\tp1\ta2\t1\t65002\t10.1.0.0\t16\t2024-01-01 00:00:02.000000\ttrue\t0\t\t1\t1".getBytes))
      .toDF("topic", "key", "value")
      .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:03")))
    val decoded = Ingest.decodeKafkaRecords(wire)
    assert(decoded.columns.toSeq === Seq("topic", "msg_key", "line", "kafka_ts"))
    assert(decoded.filter(col("msg_key") === "h1").count() === 1)

    val parsed = Messages.unicastPrefixFromTsv(decoded)
    val rows = parsed.orderBy("hash_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("hash_id") === "h1")
    assert(rows(1).getAs[Boolean]("isWithdrawn") === true)

    // and on through the deployed write path
    val out = Files.createTempDirectory("graft_kafka_seam").toString
    GraftApp.processBatch(decoded, 0L, GraftApp.Conf(out))
    assert(ConsistentState.readConsistent(spark, out, Seq("ip_rib"))("ip_rib").count() === 2)
  }

  test("replacePointerFile: atomic on file scheme; fallback works without an AbstractFileSystem binding") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashy.impl", classOf[CrashyRenameFs].getName)

    def roundTrip(base: String): Unit = {
      val ptr = new org.apache.hadoop.fs.Path(base, "_CURRENT")
      val fs  = ptr.getFileSystem(conf)
      StateTables.replacePointerFile(fs, conf, ptr, "1".getBytes)
      StateTables.replacePointerFile(fs, conf, ptr, "2".getBytes) // overwrite an existing pointer
      val in = fs.open(ptr)
      val got = try new String(in.readAllBytes()).trim finally in.close()
      assert(got === "2")
      // no stray tmp or stale checksum sidecar left behind
      assert(!fs.exists(new org.apache.hadoop.fs.Path(base, "_CURRENT.tmp")))
    }

    roundTrip(Files.createTempDirectory("graft_ptr_local").toString)
    // crashy:// has no AbstractFileSystem binding → FileContext throws
    // UnsupportedFileSystemException → delete+rename fallback
    roundTrip(s"crashy://${Files.createTempDirectory("graft_ptr_crashy")}")
  }
}
