package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Messages
import graft.operators.StateTables
import graft.streaming.{ConsistentState, GraftApp, Ingest}

/** Fault-injecting local filesystem (`crashy://` scheme) that simulates
  * a process crash at the N-th filesystem mutation: [[CrashingFs.arm]]
  * restarts the count, and with `crashAt = Some(n)` the n-th mutation
  * (create, mkdirs, rename, delete) and every later one throws — nothing
  * the crashed run would have done after that point reaches the disk.
  * Reads are neither counted nor failed. Without an AbstractFileSystem
  * binding, pointer swaps on it take `replacePointerFile`'s plain-rename
  * fallback, atomic here because a local rename replaces its target.
  */
class CrashingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def getScheme: String = "crashy"
  override def getUri: java.net.URI = java.net.URI.create("crashy:///")
  private def mutate(what: String, p: Path): Unit = {
    val n = CrashingFs.count.incrementAndGet()
    if (CrashingFs.crashAt.exists(n >= _))
      throw new java.io.IOException(s"injected crash at mutation $n: $what $p")
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) = {
    mutate("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { mutate("mkdirs", f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { mutate("rename", dst); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutate("delete", p); super.delete(p, recursive)
  }
}
object CrashingFs {
  val count = new java.util.concurrent.atomic.AtomicInteger
  @volatile var crashAt: Option[Int] = None
  def arm(at: Option[Int]): Unit = { crashAt = None; count.set(0); crashAt = at }
}

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

  private def ribOf(root: String) =
    ConsistentState.readConsistent(spark, root, Seq("ip_rib"))("ip_rib")

  test("bucketed streaming ingest rewrites only touched buckets per micro-batch") {
    val in  = Files.createTempDirectory("graft_bstream_in").toString
    val out = Files.createTempDirectory("graft_bstream_out").toString
    val conf = GraftApp.Conf(out, triggerMs = 50, ribBuckets = 16, registerViews = false)
    val h2 = otherBucketHash(16)

    writePrefixes(in, "b1.tsv",
      line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false),
      line(h2, "a9", "2024-01-01 00:00:01.500000", wd = false))
    // parquet files per bucket of the committed map (a rewrite generates
    // fresh UUID part names)
    def bucketFiles(): Map[Int, Set[String]] = {
      val m = ConsistentState.bucketMap(spark, out, "ip_rib",
        ConsistentState.readManifest(spark, out)("ip_rib")).get
      m.versions.keys.map(b => b -> new java.io.File(m.dir(out, "ip_rib", b).toString)
        .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }

    val q = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    val (before, after) = try {
      q.processAllAvailable()
      val before = bucketFiles()
      // second batch touches ONLY h1's key
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      q.processAllAvailable()
      (before, bucketFiles())
    } finally q.stop()

    val h1Bucket = bucketOf("h1", 16)
    assert(after(h1Bucket) !== before(h1Bucket))
    (before.keySet - h1Bucket).foreach(b =>
      assert(after(b) === before(b), s"bucket $b was rewritten"))

    val st = ribOf(out)
    assert(st.count() === 2)
    val h1 = st.filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
    assert(h1.getAs[String]("base_attr_hash_id") === "a1") // retained on withdraw
    assert(spark.read.parquet(s"$out/ip_rib_log").count() === 3) // 2 advertises + 1 withdraw
  }

  test("crash mid-batch: restart from the checkpoint converges, no duplicate CDC") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashy.impl", classOf[CrashingFs].getName)
    val in  = Files.createTempDirectory("graft_crash_in").toString
    val out = Files.createTempDirectory("graft_crash_out").toString
    // the whole root, checkpoint included, on the fault-injecting FS
    val conf = GraftApp.Conf(s"crashy://$out", triggerMs = 50, ribBuckets = 16,
      registerViews = false)
    writePrefixes(in, "b1.tsv",
      line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false),
      line(otherBucketHash(16), "a9", "2024-01-01 00:00:01.500000", wd = false))
    def startQ() = GraftApp.start(GraftApp.fileSource(spark, in), conf)

    val q1 = startQ()
    try {
      q1.processAllAvailable() // first batch commits cleanly
      // crash at the 12th mutation from here: past the offset log write,
      // inside the batch's table writes
      CrashingFs.arm(Some(12))
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      try q1.processAllAvailable() catch { case _: Exception => () }
      assert(q1.exception.isDefined, "the injected crash did not fail the query")
    } finally { q1.stop(); CrashingFs.arm(None) }

    // restart from the same checkpoint: the uncommitted batch replays
    // over its orphan version dirs, the batchId-keyed CDC write keeps
    // its own partition
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()

    val st = ribOf(conf.root)
    assert(st.count() === 2)
    val h1 = st.filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
    assert(h1.getAs[String]("base_attr_hash_id") === "a1") // retained on withdraw
    val cdc = spark.read.parquet(s"$out/ip_rib_log")
    assert(cdc.count() === 3, "replay appended duplicate CDC rows")
    assert(cdc.filter(col("hash_id") === "h1").count() === 2) // advertise + withdraw
  }

  test("crash at every mutation of a bucketed rib merge: old or new state, CDC once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashy.impl", classOf[CrashingFs].getName)
    def prefix(hash: String, peer: String, attr: String, ts: String, wd: Boolean) =
      s"$hash\t$peer\t$attr\t1\t65001\t10.0.0.0\t8\t2024-01-01 00:00:$ts.000000\t$wd\t0\t\t1\t1"
    def ups(peer: String, ts: String) =
      Seq((peer, s"2024-01-01 00:00:$ts")).toDF("hash_id", "ts")
        .select(col("hash_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    // one ip_rib merge of batch `id` + its CDC write + the commit, as
    // GraftApp.processBatch runs it, beside a 1-bucket table (its map and
    // pruning) and, in batch 1, a log's first write (its recorded schema)
    def batch(root: String, id: Long, lines: Seq[String], peerUps: Option[DataFrame]): Unit = {
      val conf = GraftApp.Conf(root, ribBuckets = 8, registerViews = false)
      val txn = ConsistentState.begin(spark, root)
      GraftApp.mergeRib(txn, conf, id, "ip_rib", GraftApp.parse("unicast_prefix", lines.toDF("line")),
        Ingest.ipRibPolicy, peerUps)
      txn.stage("peers", Seq(s"p$id").toDF("hash_id"))
      if (id == 1L) graft.operators.StateTables.writeCdcBatch(spark,
        Seq(s"s$id").toDF("peer_hash_id"), s"$root/stat_reports", Some(id))
      txn.commit(conf.keepVersions)
    }
    def rows(root: String): Seq[String] = {
      val snap = ConsistentState.readConsistent(spark, root, Seq("ip_rib", "peers"))
      snap("ip_rib").select(concat_ws("|", col("peer_hash_id"), col("hash_id"),
        col("base_attr_hash_id"), col("ts_us"), col("isWithdrawn"))).as[String].collect().sorted.toSeq ++
        snap("peers").as[String].collect().toSeq
    }
    def stats(root: String): Seq[String] =
      graft.operators.StateTables.readLog(spark, s"$root/stat_reports")
        .select(concat_ws("|", col("peer_hash_id"), col("batch"))).as[String].collect().toSeq
    def cdc(root: String): Seq[String] = spark.read.parquet(s"$root/ip_rib_log")
      .filter(col("batch") === 1)
      .select(concat_ws("|", col("hash_id"), col("base_attr_hash_id"), col("isWithdrawn")))
      .as[String].collect().sorted.toSeq
    def copy(from: java.nio.file.Path): String = {
      val to = Files.createTempDirectory("graft_enum")
      val it = Files.walk(from)
      try it.forEach(p => if (p != from) Files.copy(p, to.resolve(from.relativize(p))))
      finally it.close()
      s"crashy://$to"
    }

    // pre-batch state: two committed batches over two peers, 8 buckets
    val base = Files.createTempDirectory("graft_enum_base")
    batch(base.toString, -1L, (1 to 6).map(i => prefix(s"h$i", if (i % 2 == 0) "p2" else "p1",
      "a0", "01", wd = false)), None)
    batch(base.toString, 0L, Seq(prefix("h1", "p1", "a2", "02", wd = false),
      prefix("h2", "p2", "a2", "02", wd = false)), None)
    // the batch under test: an attribute change, a withdraw, a new key,
    // and p1 coming up at :03 — the T9 purge drops p1's older rows
    val lines = Seq(prefix("h2", "p2", "a1", "04", wd = false),
      prefix("h4", "p2", "", "04", wd = true), prefix("h7", "p1", "a1", "04", wd = false))
    val up = Some(ups("p1", "03"))

    CrashingFs.arm(None)
    val ref = copy(base)
    batch(ref, 1L, lines, up)
    val (pre, post, postCdc) = (rows(base.toString), rows(ref), cdc(ref))
    assert(pre !== post)
    assert(postCdc.size === 3)

    var n = 1
    var reached = true
    val t0 = System.nanoTime()
    while (reached) {
      val root = copy(base)
      CrashingFs.arm(Some(n))
      val threw = scala.util.Try(batch(root, 1L, lines, up)).isFailure
      reached = CrashingFs.count.get >= n
      CrashingFs.arm(None)
      if (reached) {
        assert(threw, s"the crash at mutation $n was swallowed")
        val seen = rows(root)
        assert(seen == pre || seen == post, s"crash at mutation $n: torn state $seen")
        batch(root, 1L, lines, up) // the replay under the same batch id
        assert(rows(root) === post, s"crash at mutation $n: replay diverged")
        assert(cdc(root) === postCdc, s"crash at mutation $n: CDC not exactly once")
        assert(stats(root) === Seq("s1|1"), s"crash at mutation $n: log not exactly once")
      }
      n += 1
    }
    info(s"${n - 2} crash points in ${(System.nanoTime() - t0) / 1000000} ms")
    assert(n > 20, "the batch made fewer mutations than expected")
  }

  test("replay after state commit (lost checkpoint commit) keeps original CDC rows") {
    val in  = Files.createTempDirectory("graft_rp_in").toString
    val out = Files.createTempDirectory("graft_rp_out").toString
    val conf = GraftApp.Conf(out, triggerMs = 50, ribBuckets = 8, registerViews = false)
    val log = s"$out/ip_rib_log"
    writePrefixes(in, "b1.tsv", line("h1", "a1", "2024-01-01 00:00:01.000000", wd = false))
    val q1 = GraftApp.start(GraftApp.fileSource(spark, in), conf)
    try {
      q1.processAllAvailable()
      writePrefixes(in, "b2.tsv", line("h1", "", "2024-01-01 00:00:02.000000", wd = true))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(log).count() === 2) // advertise + withdraw

    // crash window: merge + CDC + commit all landed, but the streaming
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
    val h1 = ribOf(out).filter(col("hash_id") === "h1").head()
    assert(h1.getAs[Boolean]("isWithdrawn") === true)
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
    conf.set("fs.crashy.impl", classOf[CrashingFs].getName)

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
