package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AggJobs, MergeOps, StateTables}
import graft.streaming.ConsistentState
import graft.operators.MergeOps.MergePolicy

/** Bucketed state tables (Exchange elision on the snapshot side) and
  * the idempotent stats-job runner.
  */
class StateAndJobsSpec extends AnyFunSuite {
  // getOrCreate() may return another suite's session (builder configs
  // are ignored then) — set session-scoped confs explicitly instead.
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // force SMJ so the Exchange-elision assertion observes bucketing
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
  import spark.implicits._

  val policy = MergePolicy(
    keys = Seq("k"), withdrawnCol = "wd", orderBy = Seq("ts"),
    retainOnWithdraw = Seq("attr"), alwaysUpdate = Seq("ts"))

  /** One committed merge of `updates` into table "t" under `root`. */
  private def merge(root: String, updates: org.apache.spark.sql.DataFrame, numBuckets: Int,
                    table: String = "t"): Seq[Int] = {
    val txn = ConsistentState.begin(spark, root)
    val touched = StateTables.mergeChangedBuckets(txn, table, updates, policy, numBuckets)
    txn.commit()
    touched
  }
  private def read(root: String, table: String = "t") =
    ConsistentState.readConsistent(spark, root, Seq(table))(table)
  private def committedMap(root: String, table: String) =
    ConsistentState.bucketMap(spark, root, table,
      ConsistentState.readManifest(spark, root)(table)).get
  /** Parquet file names per bucket of the committed map (a rewrite
    * generates fresh UUID part names, so equal sets mean "not rewritten").
    */
  private def bucketFiles(root: String, table: String = "t"): Map[Int, Set[String]] = {
    val m = committedMap(root, table)
    m.versions.keys.map(b => b -> new java.io.File(m.dir(root, table, b).toString).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
  }

  test("changed-bucket merge rewrites only buckets containing updated keys") {
    val root = Files.createTempDirectory("graft_cb").toString
    val init = (1 to 200).map(i => (s"k$i", 1L, s"A$i", false))
      .toDF("k", "ts", "attr", "wd")
    merge(root, init, 16)
    val before = bucketFiles(root)
    assert(before.size === 16)

    // updates: one changed key, one brand-new key
    val updates = Seq(("k1", 2L, "A1x", false), ("k999", 2L, "NEW", false))
      .toDF("k", "ts", "attr", "wd")
    val touched = merge(root, updates, 16)
    assert(touched.size <= 2) // ≤ one bucket per distinct key

    // untouched buckets keep their exact file sets; the new version dir
    // holds only the touched buckets
    val after = bucketFiles(root)
    before.keySet.diff(touched.toSet)
      .foreach(b => assert(after(b) === before(b), s"bucket $b was rewritten"))
    touched.foreach(t => assert(after(t) !== before(t)))
    assert(new java.io.File(s"$root/t/v1").listFiles().map(_.getName)
      .filter(_.startsWith("__bucket=")).toSet === touched.map(t => s"__bucket=$t").toSet)

    // merged contents equal the reference full upsert
    val got = read(root)
    val want = MergeOps.upsert(init, updates, policy)
    assert(got.count() === 201)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.filter(col("k") === "k1").head().getAs[String]("attr") === "A1x")
    assert(got.filter(col("k") === "k999").head().getAs[String]("attr") === "NEW")
  }

  test("merge refuses a numBuckets different from the layout's recorded count") {
    val root = Files.createTempDirectory("graft_nb").toString
    val init = (1 to 50).map(i => (s"k$i", 1L, s"A$i", false))
      .toDF("k", "ts", "attr", "wd")
    merge(root, init, 16)
    val upd = Seq(("k1", 2L, "A1x", false)).toDF("k", "ts", "attr", "wd")
    val e = intercept[IllegalArgumentException](merge(root, upd, 8))
    assert(e.getMessage.contains("numBuckets=16"))
    // a 1-bucket table's map records its count, 1
    merge(root, init, 1, table = "one")
    assert(intercept[IllegalArgumentException](merge(root, upd, 8, table = "one"))
      .getMessage.contains("numBuckets=1"))
    // matching count still works
    merge(root, upd, 16)
    assert(read(root).filter(col("k") === "k1").head().getAs[String]("attr") === "A1x")
  }

  test("bucket compaction coalesces only oversized buckets, content-preserving") {
    val root = Files.createTempDirectory("graft_cpct").toString
    val init = (1 to 200).map(i => (s"k$i", 1L, s"A$i", false))
      .toDF("k", "ts", "attr", "wd")
    merge(root, init, 8)
    // rewrite k1's bucket from 3 uncoalesced shuffle partitions → up to
    // one file per partition in that bucket, the others stay at one (a
    // partition count dividing 8 would send each bucket to one partition:
    // both hash the keys with the same function)
    val confs = Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "3")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try merge(root, Seq(("k1", 2L, "A1v2", false)).toDF("k", "ts", "attr", "wd"), 8)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val before = bucketFiles(root)
    val want = read(root).collect().toSet

    def compact(): Seq[Int] = {
      val txn = ConsistentState.begin(spark, root)
      val c = StateTables.compactBuckets(txn, "t", maxFilesPerBucket = 2)
      txn.commit()
      c
    }
    val compacted = compact()
    assert(compacted.nonEmpty) // the rewritten bucket qualified
    val after = bucketFiles(root)
    compacted.foreach { b =>
      assert(after(b).size === 1, s"bucket $b not coalesced: ${after(b)}")
    }
    // healthy buckets untouched (exact file sets), content identical
    before.keySet.diff(compacted.toSet)
      .foreach(b => assert(after(b) === before(b), s"healthy bucket $b rewritten"))
    assert(read(root).collect().toSet === want)
    // idempotent: immediately re-running compacts nothing
    assert(compact().isEmpty)
  }

  test("stats job: re-run with late data converges (idempotent buckets)") {
    def logOf(rows: (Long, Long, Boolean)*) =
      rows.toSeq.toDF("ts_us", "user_id", "wd")
    val bucketUs = 60L * 1000000
    val now1 = 10 * bucketUs + 5
    // first run: events in buckets 0 and 1
    val log1 = logOf((1L, 1L, false), (bucketUs + 1, 1L, true))
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("bucket", "user_id", "withdraws", "updates")
    val s1 = AggJobs.runChgStats(empty, log1, "ts_us", 60, col("wd"), Seq("user_id"),
      horizonMicros = 20 * bucketUs, nowMicros = now1)
    assert(s1.count() === 2)

    // late event lands in bucket 1; re-run recomputes that bucket whole
    val log2 = log1.unionByName(logOf((bucketUs + 2, 1L, false)))
    val s2 = AggJobs.runChgStats(s1, log2, "ts_us", 60, col("wd"), Seq("user_id"),
      horizonMicros = 20 * bucketUs, nowMicros = now1 + 7)
    val b1 = s2.filter(col("bucket") === 60).head()
    assert(s2.count() === 2) // still one row per bucket — no dupes
    assert(b1.getAs[Long]("withdraws") === 1L && b1.getAs[Long]("updates") === 1L)

    // running again with identical inputs changes nothing
    val s3 = AggJobs.runChgStats(s2, log2, "ts_us", 60, col("wd"), Seq("user_id"),
      horizonMicros = 20 * bucketUs, nowMicros = now1 + 9)
    assert(s3.collect().toSet === s2.collect().toSet)

    // a horizon landing MID-bucket must not recompute that bucket from a
    // truncated window (would overwrite a complete row with undercounts)
    val s4 = AggJobs.runChgStats(s3, log2, "ts_us", 60, col("wd"), Seq("user_id"),
      horizonMicros = now1 + 9 - 30 * 1000000, // lower bound = 00:00:30
      nowMicros = now1 + 9)
    val b0 = s4.filter(col("bucket") === 0).head()
    assert(b0.getAs[Long]("updates") === 1L) // original complete value kept
  }

  test("stats horizon reaching past epoch 0 still recomputes bucket 0") {
    // rawStart = -1: Scala % is negative there, and the naive align-up
    // formula lands on bucketUs instead of 0, silently skipping the
    // first complete bucket
    val bucketUs = 60L * 1000000
    val log = Seq((1L, 1L, false)).toDF("ts_us", "user_id", "wd") // bucket 0
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("bucket", "user_id", "withdraws", "updates")
    val s = AggJobs.runChgStats(empty, log, "ts_us", 60, col("wd"), Seq("user_id"),
      horizonMicros = 10 * bucketUs + 1, nowMicros = 10 * bucketUs)
    assert(s.count() === 1)
  }

  test("physical retention drops aged partition dirs; survivors byte-identical") {
    import graft.operators.Retention
    val hourUs = 3600L * 1000000
    // hourly layout: 6 hours of rows starting 2024-01-01 00:00 UTC
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val rows = for (h <- 0L to 5L; i <- 1L to 20L) yield (t0 + h * hourUs + i, h * 100 + i)
    val raw = Files.createTempDirectory("graft_ret").toString
    val (logDir, hourDir) = (raw + "/log", raw + "/hourly")
    rows.toDF("ts_us", "v").withColumn("batch", col("v") % 4)
      .write.partitionBy("batch").parquet(logDir)
    graft.streaming.Ingest.compactLog(spark, logDir, hourDir)

    def fileBytes(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length()).toMap
    }
    val hoursBefore = new java.io.File(hourDir).listFiles()
      .map(_.getName).filter(_.startsWith("date_hour=")).toSet
    assert(hoursBefore.size === 6)
    val survivorBytes = fileBytes(hourDir).filterNot(_._1.contains("2024-01-01-00"))
      .filterNot(_._1.contains("2024-01-01-01"))

    // cutoff mid-hour-2: hours 0 and 1 lie entirely before it; hour 2
    // must SURVIVE (it still holds live rows past the cutoff)
    val dropped = Retention.dropAgedHours(spark, hourDir, t0 + 2 * hourUs + 30 * 1000000L)
    assert(dropped.toSet === Set("date_hour=2024-01-01-00", "date_hour=2024-01-01-01"))
    assert(fileBytes(hourDir) === survivorBytes) // byte-identical survivors
    assert(spark.read.parquet(hourDir).count() === 4 * 20)
    // idempotent
    assert(Retention.dropAgedHours(spark, hourDir, t0 + 2 * hourUs + 30 * 1000000L).isEmpty)

    // batch layout: drop compacted ids, keep the replay window
    val batchesBefore = fileBytes(logDir)
    val droppedB = Retention.dropAgedBatches(spark, logDir, minBatchId = 2)
    assert(droppedB.toSet === Set("batch=0", "batch=1"))
    assert(fileBytes(logDir) === batchesBefore.filterNot(
      kv => kv._1.contains("batch=0") || kv._1.contains("batch=1")))
    assert(spark.read.parquet(logDir).filter(col("batch") < 2).count() === 0)

    // compaction with retention folds the cutoff filter into the rewrite
    graft.streaming.Ingest.compactLog(spark, logDir, hourDir,
      retentionCutoffUs = Some(t0 + 4 * hourUs))
    val hoursAfter = new java.io.File(hourDir).listFiles()
      .map(_.getName).filter(_.startsWith("date_hour=")).toSet
    assert(hoursAfter === Set("date_hour=2024-01-01-04", "date_hour=2024-01-01-05"))
  }

  test("incremental compaction: each batch folded once, untouched hours never opened, replay exact") {
    import graft.streaming.Ingest
    val hourUs = 3600L * 1000000
    val t0 = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val raw = Files.createTempDirectory("graft_inc").toString
    val (logDir, hourDir) = (raw + "/log", raw + "/hourly")
    // production layout: each micro-batch writes its own batch=N dir
    // (StateTables.writeCdcBatch), so _SUCCESS lands INSIDE it —
    // the committed-batch signal compactLogIncremental keys on
    def writeBatch(id: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("ts_us", "v").write.mode("overwrite").parquet(s"$logDir/batch=$id")

    // batches 0..2 span hours 0-1
    writeBatch(0, Seq((t0 + 1, 1L), (t0 + hourUs + 1, 2L)))
    writeBatch(1, Seq((t0 + 2, 3L)))
    writeBatch(2, Seq((t0 + hourUs + 2, 4L)))
    val touched1 = Ingest.compactLogIncremental(spark, logDir, hourDir)
    assert(touched1 === Seq("date_hour=2024-03-01-00", "date_hour=2024-03-01-01"))

    def hourFiles(): Map[String, Set[String]] =
      new java.io.File(hourDir).listFiles().filter(_.getName.startsWith("date_hour="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = hourFiles()

    // new batches touch hour 1 and a brand-new hour 2 — hour 0 must not
    // be opened or rewritten (work ∝ new data, not log size)
    writeBatch(3, Seq((t0 + 2 * hourUs + 1, 5L)))
    writeBatch(4, Seq((t0 + hourUs + 3, 6L)))
    val touched2 = Ingest.compactLogIncremental(spark, logDir, hourDir)
    assert(touched2 === Seq("date_hour=2024-03-01-01", "date_hour=2024-03-01-02"))
    val after = hourFiles()
    assert(after("date_hour=2024-03-01-00") === before("date_hour=2024-03-01-00"),
      "untouched hour was rewritten")

    // contents equal the full-rewrite compaction (modulo provenance col)
    Ingest.compactLog(spark, logDir, raw + "/hourly_full")
    val want = spark.read.parquet(raw + "/hourly_full")
      .select("ts_us", "v", "date_hour").collect().toSet
    def got() = spark.read.parquet(hourDir)
      .select("ts_us", "v", "date_hour").collect().toSet
    assert(got() === want)

    // crash replay: marker rolled back to 2 (as if the run for batches
    // 3-4 swapped its hours but died before committing the marker) —
    // re-running must converge to identical content, zero duplicates
    // bypass the hadoop FS on purpose (simulating an older marker), so
    // its checksum sidecar must go too
    new java.io.File(hourDir, "._COMPACTED_THROUGH.crc").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(hourDir, "_COMPACTED_THROUGH"), "2")
    val touchedReplay = Ingest.compactLogIncremental(spark, logDir, hourDir)
    assert(touchedReplay === touched2)
    assert(got() === want, "replay duplicated or lost rows")

    // nothing new → no-op; and dropping folded raw batches is now safe
    assert(Ingest.compactLogIncremental(spark, logDir, hourDir).isEmpty)
    graft.operators.Retention.dropAgedBatches(spark, logDir, minBatchId = 5)
    assert(got() === want, "compacted history must survive raw-batch drops")

    // an in-flight batch (no _SUCCESS yet) blocks folding AT its id:
    // neither half-read nor skipped-over by the marker, even when a
    // later batch is already committed
    writeBatch(5, Seq((t0 + 2 * hourUs + 2, 7L)))
    assert(new java.io.File(s"$logDir/batch=5/_SUCCESS").delete())
    writeBatch(6, Seq((t0 + 2 * hourUs + 3, 8L)))
    assert(Ingest.compactLogIncremental(spark, logDir, hourDir).isEmpty)
    // the writer commits (idempotent replay rewrites the dir) → unblocked
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$logDir/batch=5/_SUCCESS"))
    assert(Ingest.compactLogIncremental(spark, logDir, hourDir) ===
      Seq("date_hour=2024-03-01-02"))
    assert(spark.read.parquet(hourDir).count() === want.size + 2)
  }

  test("schema evolution: new column merges without rewriting untouched buckets; type change refuses") {
    val root = Files.createTempDirectory("graft_evolve").toString
    val policy = MergeOps.MergePolicy(
      keys = Seq("k"), withdrawnCol = "wd", orderBy = Seq("ts"),
      retainOnWithdraw = Nil, alwaysUpdate = Seq("ts", "v"),
      evolveDefaults = Map("src" -> lit("legacy")))
    def mergeEv(updates: org.apache.spark.sql.DataFrame): Unit = {
      val txn = ConsistentState.begin(spark, root)
      StateTables.mergeChangedBuckets(txn, "t", updates, policy, 16)
      txn.commit()
    }

    // bootstrap: two keys in provably different buckets, old schema
    def bucketOf(k: String): Int = Seq(Tuple1(k)).toDF("k")
      .select(StateTables.bucketId(Seq("k"), 16)).head().getInt(0)
    val k2 = (2 to 60).map(i => s"k$i").find(k => bucketOf(k) != bucketOf("k1")).get
    mergeEv(Seq(("k1", 1L, 10L, false), (k2, 1L, 20L, false)).toDF("k", "ts", "v", "wd"))
    val k2Before = bucketFiles(root)(bucketOf(k2))

    // merge 2: updates GREW a column (src) and touch only k1's bucket
    mergeEv(Seq(("k1", 2L, 11L, false, "feedX")).toDF("k", "ts", "v", "wd", "src"))
    assert(bucketFiles(root)(bucketOf(k2)) === k2Before, "untouched bucket was rewritten")
    // the union read sees the new column: merged row has it, the
    // pre-evolution row backfills the POLICY default at merge time but
    // reads as null from its untouched (never-rewritten) file
    val snap = read(root)
    assert(snap.columns.contains("src"))
    val rows = snap.select("k", "v", "src").collect().map(r =>
      (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(rows === Set(("k1", 11L, Some("feedX")), (k2, 20L, None)))

    // merge 3: an OLD-schema update still merges (state carries the
    // union schema; the missing column rides through as its current
    // value — NULL for pre-evolution rows until migrateSnapshot)
    mergeEv(Seq((k2, 2L, 21L, false)).toDF("k", "ts", "v", "wd"))
    val rows3 = read(root).select("k", "v", "src").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(rows3 === Set(("k1", 11L, Some("feedX")), (k2, 21L, None)))

    // migrateSnapshot: uniform schema, remaining nulls backfilled
    val txn = ConsistentState.begin(spark, root)
    val migrated = StateTables.migrateSnapshot(txn, "t", defaults = Map("src" -> lit("legacy")))
    txn.commit()
    assert(migrated.nonEmpty)
    val m = committedMap(root, "t")
    val plain = spark.read.parquet( // single-footer read of every bucket now suffices
      m.versions.keys.toSeq.map(b => m.dir(root, "t", b).toString): _*)
    assert(plain.columns.contains("src"))
    assert(plain.filter(col("src").isNull).count() === 0)

    // a TYPE change refuses loudly instead of silently casting state
    val err = intercept[IllegalArgumentException] {
      mergeEv(Seq(("k1", 3L, "not-a-long", false)).toDF("k", "ts", "v", "wd"))
    }
    assert(err.getMessage.contains("changed type"))
  }

  test("readCdcLog + compaction: bootstrap's negative batch id survives the full lifecycle") {
    import graft.streaming.Ingest
    val t0 = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val raw = Files.createTempDirectory("graft_cdcneg").toString
    val (logDir, hourDir) = (raw + "/log", raw + "/hourly")
    def writeBatch(id: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("ts_us", "v").write.mode("overwrite").parquet(s"$logDir/batch=$id")
    def values(): Seq[Long] = Ingest.readCdcLog(spark, logDir, hourDir)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq

    // GraftApp.bootstrap writes CDC at batchId = -1, the stream at 0,1…
    writeBatch(-1, Seq((t0 + 1, -10L)))
    writeBatch(0, Seq((t0 + 2, 0L)))
    writeBatch(1, Seq((t0 + 3, 1L)))
    // visible BEFORE any compaction (a -1 through-sentinel hid it)
    assert(values() === Seq(-10L, 0L, 1L))

    // first fold must include the negative id, not skip past it
    assert(Ingest.compactLogIncremental(spark, logDir, hourDir).nonEmpty)
    assert(Ingest.compactedThrough(spark, hourDir) === Some(1L))
    assert(values() === Seq(-10L, 0L, 1L))

    // retention drops every folded raw dir — the bootstrap rows now only
    // live in the hourly layout, and must still read exactly once
    graft.operators.Retention.dropAgedBatches(spark, logDir, minBatchId = 2)
    assert(!new java.io.File(s"$logDir/batch=-1").exists())
    assert(values() === Seq(-10L, 0L, 1L))
  }

  test("readCdcLog: every batch exactly once across raw, compacted, and mid-maintenance states") {
    import graft.streaming.Ingest
    val hourUs = 3600L * 1000000
    val t0 = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val raw = Files.createTempDirectory("graft_cdcread").toString
    val (logDir, hourDir) = (raw + "/log", raw + "/hourly")
    def writeBatch(id: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("ts_us", "v").write.mode("overwrite").parquet(s"$logDir/batch=$id")
    def values(): Seq[Long] = Ingest.readCdcLog(spark, logDir, hourDir)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq

    // raw-only regime (before any compaction ever ran)
    writeBatch(0, Seq((t0 + 1, 0L)))
    writeBatch(1, Seq((t0 + 2, 1L), (t0 + hourUs + 1, 10L)))
    assert(values() === Seq(0L, 1L, 10L))

    // folded AND raw dirs both present (the keepRawBatches window):
    // the marker keeps the overlap from double-counting
    Ingest.compactLogIncremental(spark, logDir, hourDir)
    assert(values() === Seq(0L, 1L, 10L))
    graft.operators.Retention.dropAgedBatches(spark, logDir, minBatchId = 1)
    assert(values() === Seq(0L, 1L, 10L))

    // committed id past an in-flight gap: 2 committed, 3 in-flight
    // (no _SUCCESS), 4 committed — 3 invisible, 4 readable even though
    // compaction would stop at the gap
    writeBatch(2, Seq((t0 + hourUs + 2, 20L)))
    writeBatch(3, Seq((t0 + hourUs + 3, 30L)))
    assert(new java.io.File(s"$logDir/batch=3/_SUCCESS").delete())
    writeBatch(4, Seq((t0 + 2 * hourUs + 1, 40L)))
    assert(values() === Seq(0L, 1L, 10L, 20L, 40L))

    // fold 2 (compaction stops at the gap), then roll the marker BACK —
    // exactly the crash window between hour-swap and marker-move: the
    // compacted hours already hold batch-2 rows while the marker says 1
    // and the raw batch=2 dir still exists. Marker-authoritative read
    // must still count batch 2 exactly once.
    assert(Ingest.compactLogIncremental(spark, logDir, hourDir).nonEmpty)
    assert(values() === Seq(0L, 1L, 10L, 20L, 40L))
    // drop the checksum sidecar if one exists (the atomic pointer swap
    // writes none; pre-swap layouts may still carry one) so the direct
    // nio rewrite below can't trip Hadoop's crc verification
    new java.io.File(hourDir, "._COMPACTED_THROUGH.crc").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(hourDir, "_COMPACTED_THROUGH"), "1")
    assert(values() === Seq(0L, 1L, 10L, 20L, 40L),
      "mid-swap read double-counted a just-folded batch")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(hourDir, "_COMPACTED_THROUGH"), "2")

    // after retention physically drops every folded raw dir
    graft.operators.Retention.dropAgedBatches(spark, logDir, minBatchId = 3)
    assert(values() === Seq(0L, 1L, 10L, 20L, 40L))
  }

  test("maintenance pass: fold CDC, drop folded raw batches, retention, bucket compaction") {
    import graft.streaming.Ingest
    val root = Files.createTempDirectory("graft_maint").toString
    val log = s"$root/log"; val hours = s"$root/hourly"
    val hourUs = 3600L * 1000000
    val t0 = java.time.LocalDateTime.of(2024, 5, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    // 6 micro-batches through the production merge path: one CDC row
    // each (attr changes every time), one event-hour each
    for (id <- 0L until 6L) {
      val upd = Seq((s"k${id % 3}", t0 + id * hourUs, s"A$id", false))
        .toDF("k", "ts", "attr", "wd")
      val txn = ConsistentState.begin(spark, root)
      StateTables.mergeChangedBuckets(txn, "state", upd, policy, 8,
        logPath = Some(log), batchId = Some(id))
      txn.commit()
    }
    // at toy scale AQE coalesces every stage write to one file per
    // bucket, so compaction finds nothing to do — plant an extra
    // empty part-file in one bucket to stand in for real file churn
    val m = committedMap(root, "state")
    val bucketDir = new java.io.File(m.dir(root, "state", m.versions.keys.min).toString)
    val emptyDir = Files.createTempDirectory("graft_maint_empty").toString + "/part"
    read(root, "state").limit(0).coalesce(1).write.parquet(emptyDir)
    val part = new java.io.File(emptyDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(bucketDir, "part-churn.snappy.parquet").toPath)

    def maintain() = {
      val txn = ConsistentState.begin(spark, root)
      val r = Ingest.maintain(txn, "state", log, hours,
        retentionCutoffUs = Some(t0 + 2 * hourUs),
        keepRawBatches = 2, maxFilesPerBucket = 1, tsUsCol = "ts")
      txn.commit()
      r
    }
    val (folded, droppedB, droppedH, compacted) = maintain()

    assert(folded.size === 6)                       // all committed batches folded
    assert(droppedB === Seq("batch=0", "batch=1", "batch=2", "batch=3"))
    assert(droppedH === Seq("date_hour=2024-05-01-00", "date_hour=2024-05-01-01"))
    assert(compacted.nonEmpty)                      // churned buckets coalesced
    // raw log keeps exactly the inspection margin
    val rawLeft = new java.io.File(log).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(rawLeft === Set("batch=4", "batch=5"))
    // compacted history = hours past the cutoff, one CDC row per hour
    assert(spark.read.parquet(hours).select("k", "attr").count() === 4)
    // and the snapshot survived it all intact (planted file was empty)
    assert(read(root, "state").count() === 3)
    // a second maintenance pass is a no-op (idempotent housekeeping)
    val (f2, b2, h2, c2) = maintain()
    assert(f2.isEmpty && b2.isEmpty && h2.isEmpty && c2.isEmpty)
  }
}
