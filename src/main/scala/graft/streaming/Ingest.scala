package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.operators.MergeOps.MergePolicy

/** The per-table pieces of the reference's Kafka-consumer write path
  * (SURVEY.md §3.1) that [[GraftApp.processBatch]] composes into one
  * micro-batch: the Kafka decode seam, the per-table merge policies,
  * the trigger cascades, and CDC log maintenance.
  *
  * The reference's thread/batching machinery maps onto micro-batches:
  * `batch_time_millis`=300ms → `Trigger.ProcessingTime`; the writer's
  * same-hash last-write-wins compression (`WriterRunnable.java:140-153`)
  * → [[MergeOps.dedupToLatest]]; sticky key→writer routing
  * (`ConsumerRunnable.java:874-946`) → shuffle-by-key, which gives the
  * same per-key ordering guarantee within a batch. Kafka auto-commit
  * at-least-once (`Config.java:264-279`) + idempotent keyed merge =
  * the same replay-convergent semantics, but with checkpointing.
  */
object Ingest {

  /** Per-table merge policies — §2.2's column-retention rules as data. */
  val ipRibPolicy: MergePolicy = MergePolicy(
    keys = Seq("peer_hash_id", "hash_id"),
    withdrawnCol = "isWithdrawn",
    // TOTAL order: ts ties resolve by flag (withdraw wins) then attrs —
    // deterministic across reruns, same tiebreak as the stateful
    // streaming path's sort
    orderBy = Seq("ts_us", "isWithdrawn", "base_attr_hash_id"),
    // M1: base_attr/origin retained on withdraw (UnicastPrefixQuery.java:36-37)
    retainOnWithdraw = Seq("base_attr_hash_id", "origin_as"),
    alwaysUpdate = Seq("ts_us", "path_id", "labels", "isPrePolicy", "isAdjRibIn",
      "isIPv4", "prefix", "prefix_len"))

  /** M6 l3vpn_rib (`L3VpnPrefixQuery.java:25-43`): like M1 plus rd and
    * ext-community columns which DO update on withdraw.
    */
  val l3vpnRibPolicy: MergePolicy = MergePolicy(
    keys = Seq("peer_hash_id", "hash_id"),
    withdrawnCol = "isWithdrawn",
    orderBy = Seq("ts_us"),
    retainOnWithdraw = Seq("base_attr_hash_id", "origin_as"),
    alwaysUpdate = Seq("ts_us", "path_id", "labels", "isPrePolicy", "isAdjRibIn",
      "isIPv4", "prefix", "prefix_len", "rd", "ext_community_list"))

  /** M7 ls_nodes (`LsNodeQuery.java:22-41`): ts/seq always; attr columns
    * retained on withdraw.
    */
  val lsNodePolicy: MergePolicy = MergePolicy(
    keys = Seq("hash_id", "peer_hash_id"),
    withdrawnCol = "isWithdrawn",
    orderBy = Seq("ts_us"),
    retainOnWithdraw = Seq("base_attr_hash_id", "sr_capabilities"),
    alwaysUpdate = Seq("ts_us", "seq"))

  /** M8 ls_links (`LsLinkQuery.java:24-63`): 17 TE/attr columns retained
    * on withdraw.
    */
  val lsLinkPolicy: MergePolicy = MergePolicy(
    keys = Seq("hash_id", "peer_hash_id"),
    withdrawnCol = "isWithdrawn",
    orderBy = Seq("ts_us"),
    retainOnWithdraw = Seq("base_attr_hash_id", "intf_ip", "nei_ip", "mt_id",
      "local_link_id", "remote_link_id", "admin_group", "max_link_bw",
      "max_resv_bw", "unreserved_bw", "te_def_metric", "protection_type",
      "mpls_proto_mask", "igp_metric", "srlg", "name", "local_igp_router_id",
      "local_router_id", "remote_igp_router_id", "remote_router_id",
      "peer_node_sid", "sr_adjacency_sids"),
    alwaysUpdate = Seq("ts_us", "seq"))

  /** M9 ls_prefixes (`LsPrefixQuery.java:24-51`): 6 attr columns
    * retained on withdraw.
    */
  val lsPrefixPolicy: MergePolicy = MergePolicy(
    keys = Seq("hash_id", "peer_hash_id"),
    withdrawnCol = "isWithdrawn",
    orderBy = Seq("ts_us"),
    retainOnWithdraw = Seq("base_attr_hash_id", "ospf_route_type", "igp_flags",
      "route_tag", "ext_route_tag", "metric", "ospf_fwd_addr"),
    alwaysUpdate = Seq("ts_us", "seq"))

  /** M3-M5: peers/routers/collectors are full-overwrite merges (no
    * retained columns; action→state mapping happens at parse). M4's
    * name/description-only-when-up conditional is applied pre-merge:
    * see `Messages.routerFromTsv` + [[routerUpCascade]].
    */
  def overwriteMerge(current: DataFrame, updates: DataFrame,
                     keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val u = MergeOps.dedupToLatest(updates, keys, orderBy)
      .withColumn("__wd", lit(false))
    val c = current.withColumn("__wd", lit(false))
    MergeOps.upsert(c, u,
      MergePolicy(keys, "__wd", orderBy, Nil,
        current.columns.filterNot(keys.contains).toSeq))
      .drop("__wd")
  }

  /** Kafka source over the parsed-message topic patterns; the reference
    * subscribes inventory topics first (`ConsumerRunnable.java:1054-1084`)
    * — here inventory tables are bootstrapped as a batch before the
    * stream starts (same consistency barrier, no ordering hack).
    */
  def kafkaSource(spark: SparkSession, brokers: String, topicPattern: String): DataFrame =
    decodeKafkaRecords(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribePattern", topicPattern)
        .option("startingOffsets", "earliest")
        .load())

  /** The source-to-parse seam: maps Kafka's wire schema (topic, binary
    * key/value, timestamp) to the engine's line frame. Everything after
    * `.load()` flows through here, so the file-source specs exercise
    * the identical decode path by feeding a Kafka-shaped frame — only
    * the `.format("kafka").load()` line itself needs a broker.
    */
  def decodeKafkaRecords(records: DataFrame): DataFrame =
    records.select(
      col("topic"),
      col("key").cast("string").as("msg_key"),
      col("value").cast("string").as("line"),
      col("timestamp").as("kafka_ts"))

  /** One maintenance pass over a bucketed-ingest deployment — the
    * engine's equivalent of the reference's cron-side housekeeping
    * (retention policies `1_base.sql:236,369`, autovacuum).
    *
    * MUST NOT run concurrently with the stream's merge: both sides use
    * the snapshot's fixed `_stage`/`_old` siblings, so a parallel timer
    * would corrupt buckets (stage overwrite, recovery misjudging a
    * parked dir). [[GraftApp.processBatch]] calls this from WITHIN the
    * micro-batch (every `Conf.maintenanceEvery` batches), where
    * Structured Streaming serializes it against the merge; otherwise run
    * it while no stream is active.
    *
    * Order matters and is chosen so every step only destroys data the
    * previous step made redundant:
    *  1. fold committed CDC batches into the hourly layout
    *     ([[compactLogIncremental]] — exactly-once, crash-safe);
    *  2. drop raw `batch=` dirs the marker now covers, minus
    *     `keepRawBatches` for operator inspection — never a dir
    *     compaction hasn't folded;
    *  3. apply the retention policy as physical hour-partition drops on
    *     the compacted layout;
    *  4. compact snapshot buckets whose file count outgrew
    *     `maxFilesPerBucket` (the per-merge file accumulation).
    *
    * Single-writer contract: same as the bucketed merge in
    * [[GraftApp.processBatch]] — one maintenance run at a time, on the
    * same driver as the stream.
    *
    * @return (hours folded, raw batches dropped, aged hours dropped,
    *         buckets compacted)
    */
  def maintain(spark: SparkSession, statePath: String, logPath: String,
               compactedPath: String, retentionCutoffUs: Option[Long] = None,
               keepRawBatches: Int = 2, maxFilesPerBucket: Int = 8,
               tsUsCol: String = "ts_us")
      : (Seq[String], Seq[String], Seq[String], Seq[Int]) = {
    val folded = compactLogIncremental(spark, logPath, compactedPath, tsUsCol)
    val droppedBatches = compactedThrough(spark, compactedPath) match {
      case Some(through) =>
        graft.operators.Retention.dropAgedBatches(spark, logPath,
          minBatchId = through - keepRawBatches + 1)
      case None => Nil
    }
    val droppedHours = retentionCutoffUs
      .map(c => graft.operators.Retention.dropAgedHours(spark, compactedPath, c))
      .getOrElse(Nil)
    val compacted = graft.operators.StateTables.compactBuckets(
      spark, s"$statePath/snapshot", maxFilesPerBucket)
    (folded, droppedBatches, droppedHours, compacted)
  }

  /** UTC `yyyy-MM-dd-HH` label from epoch micros — pure integer
    * day/hour decomposition plus a DATE-typed format, so the label is
    * UTC regardless of `spark.sql.session.timeZone` (a session-TZ
    * `from_unixtime` would shift labels, and
    * [[graft.operators.Retention.dropAgedHours]] — which parses them
    * back as UTC — would then delete partitions still holding live
    * rows). Null/negative timestamps get the literal `unknown`
    * partition: preserved by compaction, never dropped by retention
    * (dropAgedHours keeps what it cannot date).
    */
  private[graft] def hourLabel(tsUs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dayUs  = lit(86400000000L)
    val hourUs = lit(3600000000L)
    val label = concat(
      date_format(date_from_unix_date((tsUs / dayUs).cast("int")), "yyyy-MM-dd"),
      lit("-"),
      lpad(((tsUs % dayUs) / hourUs).cast("int").cast("string"), 2, "0"))
    when(tsUs.isNotNull && tsUs >= 0, label).otherwise(lit("unknown"))
  }

  /** Log compaction (SURVEY §4 "autovacuum → compaction job instead"):
    * micro-batching accumulates one small parquet dir per batch under
    * the CDC log; periodically rewrite closed time ranges into few large
    * files partitioned by hour — the read-side layout the stats jobs
    * prune on.
    */
  def compactLog(spark: SparkSession, logPath: String, compactedPath: String,
                 tsUsCol: String = "ts_us",
                 retentionCutoffUs: Option[Long] = None): Unit = {
    val log = spark.read.parquet(logPath)
    // retention folds into compaction for free: aged rows are filtered
    // before the rewrite (1_base.sql:236,369 policies); between
    // compactions the daily physical drop on the hourly layout is
    // graft.operators.Retention.dropAgedHours — a directory delete, not
    // a rewrite
    val kept = retentionCutoffUs
      .map(c => graft.operators.TimeAgg.applyRetention(log, tsUsCol, c))
      .getOrElse(log)
    kept
      .withColumn("date_hour", hourLabel(col(tsUsCol)))
      .repartition(col("date_hour"))
      .write.mode("overwrite")
      .partitionBy("date_hour")
      .parquet(compactedPath)
  }

  /** Highest raw batch id folded into `compactedPath` (None before the
    * first incremental compaction) — the watermark below which raw
    * `batch=` dirs are safe to drop.
    */
  def compactedThrough(spark: SparkSession, compactedPath: String): Option[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(compactedPath).getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new HPath(compactedPath, "_COMPACTED_THROUGH")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes()).trim.toLong) finally in.close()
    }
  }

  /** Incremental log compaction — the 100 TB form of [[compactLog]].
    *
    * [[compactLog]] re-reads the WHOLE raw log and rewrites the WHOLE
    * hourly layout per run: O(log) work on a log that only grows, and a
    * hard dependency on the raw `batch=` dirs never being dropped
    * (re-compacting after [[graft.operators.Retention.dropAgedBatches]]
    * would silently erase the compacted history of the dropped ids).
    * This variant processes each raw batch EXACTLY ONCE:
    *
    *  - a `_COMPACTED_THROUGH` marker under `compactedPath` records the
    *    highest batch id folded in; a run reads only `batch=` dirs above
    *    it — work ∝ new data;
    *  - the new rows are unioned with ONLY the hour partitions they
    *    touch (partition-pruned read) and swapped in per-hour via the
    *    same park-aside machinery as the bucketed state
    *    ([[graft.operators.StateTables.swapStagedDirs]]), so untouched
    *    hours are never opened;
    *  - the marker moves (atomic tmp+rename) AFTER the swap, so a crash
    *    anywhere replays the same batches. Replay is EXACTLY idempotent
    *    — not by uniqueness assumptions but by provenance: compacted
    *    rows carry their `__src_batch` id, and the union first drops
    *    existing rows from the replayed ids, so an hour that crashed
    *    POST-swap (already holding the fresh rows — the window the
    *    park-aside recovery alone can't cover, since a completed swap
    *    deletes its parked copy) converges to the same content as one
    *    that crashed pre-swap;
    *  - once the marker covers a batch id, the raw dir is safe for
    *    [[graft.operators.Retention.dropAgedBatches]].
    *
    * Same single-writer contract as the bucketed merge. Do not point
    * this and the full-rewrite [[compactLog]] at one `compactedPath`:
    * the incremental layout carries `__src_batch` (replay provenance)
    * that the full rewrite neither writes nor preserves.
    *
    * @return the `date_hour=` partition names rewritten
    */
  def compactLogIncremental(spark: SparkSession, logPath: String,
                            compactedPath: String,
                            tsUsCol: String = "ts_us"): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val fs   = new HPath(compactedPath).getFileSystem(conf)
    graft.operators.StateTables.recoverSwap(fs, compactedPath)

    val marker = new HPath(compactedPath, "_COMPACTED_THROUGH")
    // pre-compaction sentinel is MinValue, NOT -1: bootstrap/backfill
    // batches use NEGATIVE ids (GraftApp.bootstrap = -1) and a -1
    // sentinel would leave them permanently unfolded — then invisible to
    // readCdcLog and eventually dropped UNFOLDED by the retention pass
    // (silent CDC loss)
    val doneThrough: Long = compactedThrough(spark, compactedPath).getOrElse(Long.MinValue)
    val logRoot = new HPath(logPath)
    if (!fs.exists(logRoot)) return Nil
    // fold only COMMITTED batches (dir carries _SUCCESS), and stop at
    // the first uncommitted id: an in-flight foreachBatch write must
    // neither be half-read nor skipped-over by the marker (a crashed
    // writer's dir gets its _SUCCESS when the idempotent replay
    // overwrites it, unblocking compaction)
    val freshIds = fs.listStatus(logRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ > doneThrough).sorted
      .takeWhile(id => fs.exists(new HPath(logRoot, s"batch=$id/_SUCCESS")))
    if (freshIds.isEmpty) return Nil

    val fresh = spark.read.option("basePath", logPath)
      .parquet(freshIds.map(id => s"$logPath/batch=$id"): _*)
      .withColumnRenamed("batch", "__src_batch") // provenance → exact replay dedup
      .withColumn("date_hour", hourLabel(col(tsUsCol))) // UTC + null-safe ("unknown")
    val touched = fresh.select(col("date_hour")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted // bounded: hours in the new data
    val hasCompacted = fs.exists(new HPath(compactedPath)) &&
      fs.listStatus(new HPath(compactedPath))
        .exists(_.getPath.getName.startsWith("date_hour="))
    val existing =
      if (hasCompacted)
        spark.read.parquet(compactedPath)
          .filter(col("date_hour").isin(touched: _*))       // partition-pruned
          .filter(!col("__src_batch").isin(freshIds: _*))   // replayed ids re-enter via fresh
      else fresh.limit(0)
    val stage = compactedPath + "_stage"
    existing.unionByName(fresh)
      .repartition(col("date_hour")) // one task per hour → one file each
      .write.mode("overwrite").partitionBy("date_hour").parquet(stage)
    graft.operators.StateTables.swapStagedDirs(fs, stage, compactedPath,
      touched.map(h => s"date_hour=$h"))

    // atomic overwrite: a reader racing the marker move must see the old
    // or new value — a MISSING marker reads as through=-1, hiding every
    // compacted row while already-folded raw dirs may be dropped
    graft.operators.StateTables.replacePointerFile(fs,
      spark.sessionState.newHadoopConf(), marker,
      freshIds.max.toString.getBytes)
    touched.map(h => s"date_hour=$h")
  }

  /** The ONE way to read a CDC log that is being incrementally
    * compacted: compacted hours ∪ raw committed batches, each id exactly
    * once, at ANY point of the maintenance lifecycle.
    *
    * Stats jobs (A1–A9, `2_aggregations.sql:91-130`) must not care
    * whether [[maintain]] has folded a given batch yet — but reading the
    * raw `batch=` root naively misses dropped-after-fold dirs, and
    * reading raw ∪ compacted double-counts the `keepRawBatches` window.
    * The `_COMPACTED_THROUGH` marker is the single source of truth:
    *
    *  - compacted side: rows with `__src_batch` ≤ marker. The ≤-filter
    *    also closes the crash/concurrency window INSIDE
    *    [[compactLogIncremental]] (hours swap before the marker moves —
    *    a read landing between the two would otherwise count the
    *    just-folded ids twice);
    *  - raw side: committed (`_SUCCESS`) `batch=` dirs with id > marker
    *    — including committed ids beyond an in-flight gap id, which
    *    compaction deliberately hasn't folded yet ([[compactLogIncremental]]
    *    stops at the first uncommitted id but their data is durable);
    *  - uncommitted dirs are invisible, exactly like the merge side.
    *
    * Output schema = data columns + `__src_batch` + `date_hour` (derived
    * for raw rows), so downstream hour-pruning works on either regime.
    */
  def readCdcLog(spark: SparkSession, logPath: String, compactedPath: String,
                 tsUsCol: String = "ts_us"): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val cfs  = new HPath(compactedPath).getFileSystem(conf)
    val through = compactedThrough(spark, compactedPath).getOrElse(Long.MinValue) // MinValue: negative (bootstrap) ids must be read pre-compaction
    val hasCompacted = cfs.exists(new HPath(compactedPath)) &&
      cfs.listStatus(new HPath(compactedPath))
        .exists(_.getPath.getName.startsWith("date_hour="))
    val logRoot = new HPath(logPath)
    val lfs = logRoot.getFileSystem(conf)
    val rawIds =
      if (!lfs.exists(logRoot)) Nil
      else lfs.listStatus(logRoot).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ > through).sorted
        .filter(id => lfs.exists(new HPath(logRoot, s"batch=$id/_SUCCESS")))
    val compacted =
      if (hasCompacted)
        Some(spark.read.parquet(compactedPath)
          .filter(col("__src_batch") <= through)) // marker-authoritative (see above)
      else None
    val raw =
      if (rawIds.isEmpty) None
      else Some(spark.read.option("basePath", logPath)
        .parquet(rawIds.map(id => s"$logPath/batch=$id"): _*)
        .withColumnRenamed("batch", "__src_batch")
        .withColumn("date_hour", hourLabel(col(tsUsCol))))
    (compacted, raw) match {
      case (Some(c), Some(r)) => c.unionByName(r, allowMissingColumns = true)
      case (Some(c), None)    => c
      case (None, Some(r))    => r
      case (None, None) => sys.error(
        s"readCdcLog: neither compacted hours at $compactedPath nor committed " +
          s"batches at $logPath — nothing to read (did ingest ever run?)")
    }
  }

  /** T4: peer event log (`9_triggers.sql:43-85`): EVERY peer message
    * appends an event row — with the session fields when the peer is
    * up, the BMP/BGP error fields when down.
    */
  def peerEventLog(peerUpdates: DataFrame): DataFrame = {
    val up = col("state") === "up"
    peerUpdates.select(
      col("hash_id").as("peer_hash_id"),
      col("state"),
      col("ts_us"),
      col("peer_addr"),
      col("name"),
      col("peer_as"),
      when(up, col("local_ip")).as("local_ip"),
      when(up, col("local_port")).as("local_port"),
      when(up, col("local_asn")).as("local_asn"),
      when(up, col("sent_capabilities")).as("sent_capabilities"),
      when(up, col("recv_capabilities")).as("recv_capabilities"),
      when(!up, col("bmp_reason")).as("bmp_reason"),
      when(!up, col("bgp_err_code")).as("bgp_err_code"),
      when(!up, col("bgp_err_subcode")).as("bgp_err_subcode"),
      when(!up, col("error_text")).as("error_text"))
  }

  /** T6: peer default naming (`database/9_triggers.sql:46-49`): loc-rib
    * peers report peer_addr 0.0.0.0 AND peer_bgp_id 0.0.0.0 — such a
    * peer inherits `name` and `peer_bgp_id` from its router
    * (`SELECT r.name, r.ip_address INTO new.name, new.peer_bgp_id`).
    * Trigger parity includes the missing-router case: Postgres
    * `SELECT INTO` with no row yields NULLs, so an orphan default peer
    * gets NULL name/bgp_id here too. Routers are a broadcast dim —
    * applied in the peer ingest path before the overwrite merge, like
    * the BEFORE INSERT/UPDATE trigger.
    */
  def inheritPeerDefaults(peers: DataFrame, routers: DataFrame): DataFrame = {
    val r = broadcast(routers.select(col("hash_id").as("__rh"),
      col("name").as("__rname"), col("ip_address").as("__rip")))
    val isDefault = col("peer_addr") === "0.0.0.0" && col("peer_bgp_id") === "0.0.0.0"
    peers
      .join(r, col("router_hash_id") === col("__rh"), "left")
      .withColumn("name", when(isDefault, col("__rname")).otherwise(col("name")))
      .withColumn("peer_bgp_id", when(isDefault, col("__rip")).otherwise(col("peer_bgp_id")))
      .drop("__rh", "__rname", "__rip")
  }

  /** T7: router-up cascade (`RouterQuery.java:93-139`): when a router
    * (re)connects at time T, all of its peers with older state go
    * 'down' — the consumer's in-memory connection counting reduces, in
    * batch form, to "first connect in this batch wins per router".
    */
  def routerUpCascade(peers: DataFrame, routerUps: DataFrame): DataFrame = {
    val ups = broadcast(
      routerUps.filter(col("state") === "up")
        .groupBy(col("hash_id").as("__rh")).agg(min(col("ts_us")).as("__rts")))
    peers
      .join(ups, col("router_hash_id") === col("__rh"), "left")
      .withColumn("state",
        when(col("__rts").isNotNull && col("ts_us") < col("__rts"), lit("down"))
          .otherwise(col("state")))
      .drop("__rh", "__rts")
  }

  /** T8: collector start/stop cascade (`CollectorQuery.java:60-87`):
    * a collector transition marks all of its routers 'down' when their
    * state predates the collector event.
    */
  def collectorCascade(routers: DataFrame, collectorEvents: DataFrame): DataFrame = {
    val evs = broadcast(
      collectorEvents.filter(col("action").isin("started", "stopped"))
        .groupBy(col("hash_id").as("__ch")).agg(max(col("ts_us")).as("__cts")))
    routers
      .join(evs, col("collector_hash_id") === col("__ch"), "left")
      .withColumn("state",
        when(col("__cts").isNotNull && col("ts_us") < col("__cts"), lit("down"))
          .otherwise(col("state")))
      .drop("__ch", "__cts")
  }
}
