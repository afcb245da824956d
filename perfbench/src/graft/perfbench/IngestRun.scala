package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{MergeOps, StateTables}
import graft.streaming.{ConsistentState, GraftApp, Ingest}

/** The write-path workload: `GraftApp.start(GraftApp.fileSource(..),
  * Conf(root))`, unchanged, fed by one closed-loop client. The state is
  * seeded with `GraftApp.bootstrap` (the session's first, cold batch);
  * then batch k+1 is published only after a `v_ip_routes` read shows
  * batch k's keys with their latest values.
  */
object IngestRun {

  private val Keys = 50000 // unicast rows the bootstrap seeds
  private val BatchMsgs = 2000
  private val ProbeKeys = 32
  private val BatchTimeoutMs = 120000L

  private final class Sent(val b: Wire#Batch, val publishedMs: Long) {
    var visibleMs = -1.0
    var probeMs = 0.0
    var micro = mutable.ArrayBuffer.empty[Long]
    var written = 0L
    var tablesStaged = 0
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, tracer: Option[Tracer],
          work: Path, jvmStartMs: Long): Result = {
    val in = Files.createDirectories(work.resolve("in"))
    val root = work.resolve("root").toString
    val conf = GraftApp.Conf(root)
    val wire = new Wire(seed, Keys)

    val boot = Files.createDirectories(work.resolve("boot"))
    val first = wire.bootstrap()
    val boot0Msgs = first.messages
    Wire.publish(boot, "b", first)
    val b0 = System.nanoTime()
    GraftApp.bootstrap(spark, readBatch(spark, boot.resolve("b")), conf)
    val bootMs = (System.nanoTime() - b0) / 1e6
    val seen = new NewFiles(Path.of(root))
    seen.scan()

    val q = GraftApp.start(GraftApp.fileSource(spark, in.toString), conf)
    tracer.foreach(_.sampleThread("graft.streaming.GraftApp$.processBatch"))
    val sent = mutable.ArrayBuffer.empty[Sent]
    var lastId = -1L
    var failed = 0L
    var attempted = 0L
    var firstOpMs = 0L
    try {
      var stop = false
      while (!stop) {
        val b = wire.next(BatchMsgs)
        val probe = wire.probeKeys(b, ProbeKeys).flatMap(wire.expected)
        val gone = b.purged.take(8).map(wire.hashOf)
        val t0 = System.nanoTime()
        val pubMs = System.currentTimeMillis()
        if (sent.isEmpty) firstOpMs = pubMs
        Wire.publish(in, f"b${sent.size}%05d", b)
        val s = new Sent(b, pubMs)
        sent += s
        attempted += 1
        var visible = false
        val deadline = System.currentTimeMillis() + BatchTimeoutMs
        while (!visible && System.currentTimeMillis() < deadline && q.exception.isEmpty) {
          val fresh = q.recentProgress.filter(p => p.batchId > lastId)
          if (fresh.isEmpty) Thread.sleep(2)
          else {
            lastId = fresh.map(_.batchId).max
            s.micro ++= fresh.filter(_.numInputRows > 0).map(_.batchId)
            val r0 = System.nanoTime()
            visible = probeOk(spark, probe, gone)
            s.probeMs = (System.nanoTime() - r0) / 1e6
          }
        }
        if (visible) s.visibleMs = (System.nanoTime() - t0) / 1e6
        else { failed += 1; stop = true }
        val (bytes, tables) = seen.scan()
        s.written = bytes; s.tablesStaged = tables
        if (System.currentTimeMillis() - firstOpMs >= seconds * 1000L) stop = true
      }
    } finally q.stop()
    q.exception.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))

    // ---- correctness: committed state, CDC and peer events vs the model
    val state = ConsistentState.readConsistent(spark, root, Seq("ip_rib"))("ip_rib")
      .select("peer_hash_id", "hash_id", "ts_us", "isWithdrawn", "base_attr_hash_id", "origin_as")
      .collect()
    val got = state.map(r => r.getString(1) -> Wire.Row(r.getString(0), r.getString(1),
      r.getLong(2), r.getBoolean(3), r.getString(4), r.getLong(5))).toMap
    val want = wire.allExpected.map(r => r.hash -> r).toMap
    val stateMismatches = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    attempted += 1
    if (stateMismatches > 0) failed += 1

    def perBatch(log: String): Map[Long, Long] = {
      val p = s"$root/$log"
      if (!Files.exists(Path.of(p))) Map.empty
      else spark.read.parquet(p).groupBy("batch").count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    }
    val cdc = perBatch("ip_rib_log")
    val events = perBatch("peer_events")
    var logMismatches = 0
    sent.filter(_.visibleMs >= 0).foreach { s =>
      attempted += 1
      val c = s.micro.map(id => cdc.getOrElse(id, 0L)).sum
      val e = s.micro.map(id => events.getOrElse(id, 0L)).sum
      if (c != s.b.cdcRows || e != s.b.peerEvents) { logMismatches += 1; failed += 1 }
    }

    // ---- end-to-end figures: the bootstrap was the cold batch
    val timed = sent.filter(_.visibleMs >= 0)
    val lat = timed.map(_.visibleMs).sorted
    val msgs = timed.map(_.b.messages).sum
    val tail = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> (firstOpMs - jvmStartMs) / 1000.0,
      "cold_s" -> bootMs / 1000.0,
      "warm_s" -> Stats.median(lat) / 1000.0,
      "ok_share" -> (1.0 - failed.toDouble / attempted))
    val named = Map(
      "ingest_msgs_per_s" -> (if (lat.isEmpty) 0.0 else msgs / (lat.sum / 1000.0)),
      "visible_ms_p50" -> Stats.median(lat),
      "visible_ms_tail" -> tail._1,
      "visible_ms_tail_percentile" -> tail._2,
      "visible_ms_tail_samples_beyond" -> tail._3,
      "visible_samples" -> lat.size,
      "bytes_written_per_msg" -> (if (msgs == 0) 0.0 else timed.map(_.written).sum.toDouble / msgs),
      "failed_share" -> failed.toDouble / attempted)
    val extra = Map(
      "batches" -> sent.size,
      "visible_ms" -> timed.map(_.visibleMs),
      "bootstrap_messages" -> boot0Msgs,
      "messages_per_batch" -> Stats.median(timed.map(_.b.messages.toDouble)),
      "micro_batches" -> sent.map(_.micro.size).sum,
      "split_batches" -> sent.count(_.micro.size > 1),
      "state_rows" -> got.size,
      "state_mismatches" -> stateMismatches,
      "log_mismatches" -> logMismatches,
      "model_live" -> wire.liveCount,
      "model_withdrawn" -> wire.withdrawnCount)

    val layers = tracer.map(t => traceLayers(spark, t, conf, work, sent.toSeq, timed.toSeq))
      .getOrElse((Map.empty[String, Double], Map.empty[String, Any]))
    Result(attempted, failed, failed == 0, e2e, layers._1, named, extra ++ layers._2)
  }

  /** The same projection as `GraftApp.fileSource`, as a batch read. */
  def readBatch(spark: SparkSession, dir: Path): DataFrame =
    spark.read.option("recursiveFileLookup", "true").text(dir.toString)
      .select(
        regexp_extract(input_file_name(), "topic=([^/]+)/", 1).as("topic"),
        lit(null).cast("string").as("msg_key"),
        col("value").as("line"),
        lit(null).cast("timestamp").as("kafka_ts"))

  /** A `v_ip_routes` read returns every probe key with its latest
    * values and none of the purged keys.
    */
  private def probeOk(spark: SparkSession, probe: Seq[Wire.Row], gone: Seq[String]): Boolean = {
    val keys = (probe.map(_.hash) ++ gone).map(k => s"'$k'").mkString(",")
    val rows = try spark.sql(
      s"SELECT peer_hash_id, rib_hash_id, LastModified, isWithdrawn, base_hash_id FROM v_ip_routes WHERE rib_hash_id IN ($keys)")
      .collect() catch { case _: org.apache.spark.sql.AnalysisException => return false }
    val got = rows.map(r => r.getString(1) -> (r.getString(0), r.getLong(2), r.getBoolean(3), r.getString(4))).toMap
    rows.length == probe.size && probe.forall(p =>
      got.get(p.hash).contains((p.peer, p.tsUs, p.withdrawn, p.attr)))
  }

  /** Bytes of files that appeared under the state root since the last
    * scan (the streaming checkpoint excluded), and how many tables got
    * a new snapshot version.
    */
  private final class NewFiles(root: Path) {
    private val known = mutable.HashSet.empty[String]
    def scan(): (Long, Int) = {
      var bytes = 0L
      val tables = mutable.HashSet.empty[String]
      if (Files.exists(root)) {
        val it = Files.walk(root)
        try it.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val rel = root.relativize(p).toString
          if (!rel.startsWith("_checkpoint") && known.add(rel)) {
            bytes += Files.size(p)
            val parts = rel.split('/')
            if (parts.length > 2 && parts(1).matches("v\\d+")) tables += parts(0)
          }
        } finally it.close()
      }
      (bytes, tables.size)
    }
  }

  // ---- traced run ------------------------------------------------------

  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val it = Files.walk(p)
      try {
        val fs = it.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.map(Files.size(_)).sum, fs.size)
      } finally it.close()
    }

  /** One live micro-batch as the listeners saw it. */
  private final case class Micro(id: Long, durations: Map[String, Long], jobs: Seq[Tracer.Job],
                                 jobUnionMs: Long, start: Long, byLayer: Map[String, Long]) {
    def batchMs: Long = durations.getOrElse("addBatch", 0L)
    def gapMs: Long = batchMs - jobUnionMs
  }

  private def traceLayers(spark: SparkSession, t: Tracer, conf: GraftApp.Conf, work: Path,
                          sent: Seq[Sent], timed: Seq[Sent]): (Map[String, Double], Map[String, Any]) = {
    t.drain()
    t.stopSampling()
    val root = conf.root
    // live micro-batches: durations from the progress events, jobs by
    // batch id, each job named by the function the stream thread was in
    val progress = t.allProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap
    val segments = t.sampledSegments
    val micro = timed.flatMap(_.micro).distinct.sorted.flatMap(id => progress.get(id).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val js = t.allJobs.filter(_.batchId.contains(id))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + d.getOrElse("triggerExecution", 0L)
      t.span(s"microbatch:$id", start, end, "run")
      js.foreach(j => t.span(t.sampledAt(j.start).filter(_ != "unattributed").getOrElse(t.functionOf(j)),
        j.start, j.end, s"microbatch:$id"))
      // stream-thread time inside each program module during the trigger
      val byLayer = segments.filter(_.name != "unattributed").map(sg =>
        sg.name.takeWhile(_ != '.') -> math.max(0L, math.min(end, sg.end) - math.max(start, sg.start)))
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }.filter(_._2 > 0)
      Micro(id, d, js, Tracer.unionMs(js.map(j => (j.start, j.end))), start, byLayer)
    })
    def med(xs: Seq[Double]) = Stats.median(xs.sorted)
    // the check: stream-thread time inside program layers, plus the
    // driver gap, accounts for the batch's wall time
    val uncovered = micro.map(m => (m.batchMs - m.byLayer.values.sum).toDouble)
    val spanCheck = Map(
      "batch_ms" -> med(micro.map(_.batchMs.toDouble)),
      "layer_spans_ms" -> med(micro.map(_.byLayer.values.sum.toDouble)),
      "driver_gap_ms" -> med(micro.map(_.gapMs.toDouble)),
      "uncovered_ms" -> med(uncovered),
      "ok" -> (micro.nonEmpty && micro.zip(uncovered).forall { case (m, u) => u <= math.max(m.gapMs, 0.05 * m.batchMs) }),
      "by_layer_ms" -> micro.flatMap(_.byLayer.toSeq).groupBy(_._1)
        .map { case (l, xs) => l -> xs.map(_._2).sum.toDouble / micro.size })
    val triggerWait = timed.flatMap(s => s.micro.headOption.flatMap(progress.get)
      .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli - s.publishedMs).toDouble))

    // replay of one sampled batch through the public layer functions
    val sample = timed.lastOption.getOrElse(sent.last)
    val idx = sent.indexOf(sample)
    val batchDir = work.resolve("in").resolve(f"b$idx%05d")
    val replay = work.resolve("replay").toString
    val man = ConsistentState.readManifest(spark, root)
    val pre = spark.read.parquet(s"$root/ip_rib/v${math.max(0, man("ip_rib") - 1)}")
    val batch = readBatch(spark, batchDir).persist()
    force(batch)
    def timed0[A](name: String)(f: => A): (A, Double) = {
      val s = System.currentTimeMillis(); val n0 = System.nanoTime()
      val a = f
      val ms = (System.nanoTime() - n0) / 1e6
      t.span(name, s, System.currentTimeMillis(), "replay")
      (a, ms)
    }
    def lines(tp: String) = batch.filter(col("topic") === GraftApp.TopicPrefix + tp).select(col("line"))
    val rowsIn = force(batch).toDouble
    val (parsedRows, parseMs) = timed0("Messages.parse")(
      GraftApp.Topics.map(tp => force(GraftApp.parse(tp, lines(tp)))).sum)
    val updates = GraftApp.parse("unicast_prefix", lines("unicast_prefix")).persist()
    val updatesN = force(updates)
    val peers = GraftApp.parse("peer", lines("peer"))
    val ups = peers.filter(col("state") === "up" && col("ts_us").isNotNull).select(col("hash_id"), col("ts_us"))
    val policy = Ingest.ipRibPolicy
    val ((next, log, release), mergeMs) = timed0("MergeOps.merge") {
      val latest = MergeOps.dedupToLatest(updates.repartition(policy.keys.map(col): _*), policy.keys, policy.orderBy)
      val purged = MergeOps.purgeStale(pre, "peer_hash_id", "ts_us", ups, "hash_id", "ts_us")
      val r = MergeOps.upsertWithLogCached(purged, latest, policy)
      force(r._1)
      r
    }
    val changed = force(log)
    val (_, cdcMs) = timed0("StateTables.writeCdcBatch")(
      StateTables.writeCdcBatch(spark, log, s"$replay/ip_rib_log", Some(0L)))
    val (cdcBytes, cdcFiles) = dirBytes(Path.of(s"$replay/ip_rib_log"))
    val txn = ConsistentState.begin(spark, replay)
    val (_, stageMs) = timed0("ConsistentState.stage")(txn.stage("ip_rib", next))
    val (_, commitMs) = timed0("ConsistentState.commit")(txn.commit(conf.keepVersions))
    release()
    val (stageBytes, _) = dirBytes(Path.of(s"$replay/ip_rib"))
    val (_, registerMs) = timed0("GraftApp.registerViews")(GraftApp.registerViews(spark, conf))
    val probeMs = timed.map(_.probeMs)
    batch.unpersist(); updates.unpersist()

    val layers = Map(
      "Messages.parse_ms" -> parseMs,
      "Messages.rows_in" -> rowsIn,
      "Messages.rows_out" -> parsedRows.toDouble,
      "MergeOps.merge_ms" -> mergeMs,
      "MergeOps.rows_in" -> updatesN.toDouble,
      "MergeOps.rows_changed" -> changed.toDouble,
      "MergeOps.changed_ratio" -> (if (updatesN == 0) 0.0 else changed.toDouble / updatesN),
      "StateTables.cdc_write_ms" -> cdcMs,
      "StateTables.cdc_bytes" -> cdcBytes.toDouble,
      "StateTables.cdc_files" -> cdcFiles.toDouble,
      "ConsistentState.stage_ms" -> stageMs,
      "ConsistentState.commit_ms" -> commitMs,
      "ConsistentState.stage_bytes" -> stageBytes.toDouble,
      "ConsistentState.tables_staged" -> med(timed.map(_.tablesStaged.toDouble)),
      "ConsistentState.write_amplification" -> (if (cdcBytes == 0) 0.0 else stageBytes.toDouble / cdcBytes),
      "GraftApp.batch_ms" -> med(micro.map(_.batchMs.toDouble)),
      "GraftApp.jobs_per_batch" -> med(micro.map(_.jobs.size.toDouble)),
      "GraftApp.stages_per_batch" -> med(micro.map(_.jobs.map(_.stages).sum.toDouble)),
      "GraftApp.driver_gap_ms" -> med(micro.map(_.gapMs.toDouble)),
      "GraftApp.register_views_ms" -> registerMs,
      "stream.latest_offset_ms" -> med(micro.map(_.durations.getOrElse("latestOffset", 0L).toDouble)),
      "stream.wal_commit_ms" -> med(micro.map(_.durations.getOrElse("walCommit", 0L).toDouble)),
      "stream.trigger_wait_ms" -> med(triggerWait),
      "BmpViews.probe_query_ms" -> med(probeMs))
    (layers, Map("span_check" -> spanCheck, "replayed_batch" -> idx))
  }
}
