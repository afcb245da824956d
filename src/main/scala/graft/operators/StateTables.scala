package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.ConsistentState
import graft.streaming.ConsistentState.BucketCol

/** Changed-bucket state tables — the merge side of the 100 TB design.
  *
  * The reference's `ON CONFLICT` upserts touch only conflicting rows.
  * The columnar equivalent: a state table is `n` key-hash buckets,
  * updates are hashed with the same function, and a merge (a) reads
  * ONLY the buckets holding updated keys and (b) rewrites ONLY those,
  * as a new version staged in a [[ConsistentState.Txn]] — untouched
  * bucket files are never opened or rewritten, so write volume is
  * ∝ (touched buckets) ≈ update spread, not state size. `n` = 1 is the
  * small-table case: the one bucket is the whole table, rewritten by
  * every merge. Storage layout, commit and pruning are
  * [[ConsistentState]]'s; every write here becomes visible only through
  * the txn's one manifest swap, so readers never see half a merge.
  *
  * A small 1-bucket merge runs as one task ([[mergesLocally]]): when the
  * committed version and the micro-batch are both at or under
  * [[LocalMergeMaxBytes]] (3 MiB), every input of the merge is one
  * partition, so the dedup window, the full-outer merge join and the T9
  * purge plan with no exchange, and the CDC write and the one-file state
  * write are one task each. The plans are the shuffled path's with the exchanges
  * removed; the rows are the same.
  *
  * Single writer per root, like every [[ConsistentState]] txn.
  */
object StateTables {

  /** Byte cap, for both the committed version (parquet bytes as listed)
    * and the micro-batch (the filled cache's bytes), at or under which a
    * 1-bucket table merges in one task.
    *
    * The cap is set from the end-to-end `ingest_steady` benchmark, the
    * one workload that times the one-task merge inside a batch: its
    * largest table, `ip_rib` (50k keys), holds 2.39–2.57 MB, and its
    * steady batches are 0.24 MB. There, over 20 interleaved pairs on 4
    * cores, the one-task path took the median steady batch from 7.65 to
    * 6.64 s and won 19 pairs. 3 MiB is the next whole MiB above that
    * table; no workload times a state between 2.6 MB and the cap, and
    * the benchmark's 6.2 MB bootstrap batch merges shuffled.
    *
    * A standalone 1-bucket `ip_rib` merge (a 2k-update batch, half of
    * them new keys, plus a T9 purge; median of 5 interleaved runs after
    * 2 warm-ups, 4 cores, ms) does not support a higher cap:
    * {{{
    *   state rows (parquet)   1 merge alone          4 merges at once
    *                          one task   shuffled    one task   shuffled
    *   50k   (0.7 MB)           1470       1282        1774       2888
    *   500k  (6.8 MB)           7230       3634        8256       8453
    *   2M   (27.1 MB)          25905      10886       30272      28229
    * }}}
    * Run alone, the shuffled merge wins at every size and the gap grows
    * with the state (about 2x at 6.8 MB); the one-task merge wins only
    * when other merges hold the cores. A batch's largest merge is often
    * its critical path and runs mostly alone, so a state past a few MB
    * can pay the first pair of columns.
    */
  val LocalMergeMaxBytes: Long = 3L << 20

  /** Whether a 1-bucket merge over the committed state `current` (None
    * before the table's first commit, which counts 0 bytes) runs over
    * single-partition inputs: the state's plan statistics, which carry
    * the listing's file bytes (no job), are at or under `maxBytes`. A
    * negative `maxBytes` never merges in one task.
    */
  private[graft] def mergesLocally(current: Option[DataFrame], maxBytes: Long): Boolean =
    current.fold(BigInt(0))(_.queryExecution.analyzed.stats.sizeInBytes) <= maxBytes

  /** The bucket partition function: pmod(hash(keys), numBuckets) —
    * identical on the state and update sides by construction.
    */
  def bucketId(keys: Seq[String], numBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** Atomically replace the tiny pointer/manifest file at `dst` so a
    * concurrent reader ALWAYS sees either the old or the new content —
    * never "no file". The delete-then-rename idiom has a dst-missing
    * window in which a reader concludes "never committed" (bootstrap)
    * mid-commit; for the `_CURRENT` manifests that window un-publishes
    * every table at once.
    *
    *  - `file:` — java.nio ATOMIC_MOVE + REPLACE_EXISTING (POSIX
    *    rename(2), atomic overwrite);
    *  - HDFS-like — FileContext rename OVERWRITE (atomic namenode op;
    *    FileSystem.rename has no overwrite form);
    *  - anything without an AbstractFileSystem binding (test FSes,
    *    some object stores) — a plain rename, atomic wherever the
    *    filesystem's rename replaces an existing file; where it refuses
    *    to, delete+rename (with the missing-file window); object-store
    *    deployments should front pointers with a consistent store the
    *    same way Delta/Iceberg require.
    */
  def replacePointerFile(fs: org.apache.hadoop.fs.FileSystem,
                         conf: org.apache.hadoop.conf.Configuration,
                         dst: org.apache.hadoop.fs.Path,
                         bytes: Array[Byte]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      dst.getParent, dst.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val scheme = Option(fs.makeQualified(dst).toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // the nio move bypasses Hadoop's ChecksumFileSystem, so its .crc
      // sidecars would go stale and fail later fs.open verification —
      // drop them (both names); readers skip verification when absent
      fs.delete(new org.apache.hadoop.fs.Path(
        tmp.getParent, "." + tmp.getName + ".crc"), false)
      fs.delete(new org.apache.hadoop.fs.Path(
        dst.getParent, "." + dst.getName + ".crc"), false)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.makeQualified(dst).toUri, conf)
        fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (!fs.rename(tmp, dst)) {
            fs.delete(dst, false)
            if (!fs.rename(tmp, dst)) sys.error(s"failed to commit pointer $dst")
          }
      }
    }
  }

  /** Merge updates into `table` inside `txn`, rewriting ONLY the buckets
    * that contain updated keys — and, with `peerUps`, the buckets
    * holding rows the T9 peer-up purge deletes (`PeerQuery.java:121-153`:
    * `DELETE FROM ip_rib WHERE peer_hash_id = … AND timestamp < …`), so
    * one staged version carries both the purge and the merge. `peerUps`
    * carries `(hash_id, ts_us)` of peers that came up; the purged rows
    * are the table's `(peer_hash_id, ts_us)` rows older than their
    * peer's latest up, and they emit no CDC.
    *
    * The touched-bucket list is plan-time metadata (≤ numBuckets ints —
    * the one acceptable collect; with 1 bucket it is known without a
    * job); the current-state read lists only the touched bucket dirs.
    * `numBuckets` is part of the table's identity: a merge with another
    * count would hash updates into buckets other than the ones holding
    * their current rows and silently duplicate every updated key, so it
    * is refused against the count the committed map records.
    *
    * With `logPath`, the CDC rows of the merge ([[MergeOps.upsertWithLog]])
    * are written before the stage — batchId-keyed partitions make a
    * replayed micro-batch overwrite its own log instead of appending
    * duplicates (see [[writeCdcBatch]]).
    *
    * An n-bucket merge that touches no bucket stages nothing, unless the
    * table was never committed (then an empty version publishes it).
    *
    * A 1-bucket merge whose committed state is at or under
    * `localMaxBytes` ([[mergesLocally]]; the default, -1, never) runs in
    * one task: the updates, `peerUps` and the state read are each
    * coalesced to one partition, so the merge, its CDC write and its
    * state write run as one task each. Otherwise the merge shuffles.
    *
    * @return the bucket ids rewritten (size = write amplification in
    *         units of buckets)
    */
  def mergeChangedBuckets(txn: ConsistentState.Txn, table: String, updates: DataFrame,
                          policy: MergeOps.MergePolicy, numBuckets: Int,
                          logPath: Option[String] = None,
                          batchId: Option[Long] = None,
                          peerUps: Option[DataFrame] = None,
                          localMaxBytes: Long = -1L): Seq[Int] = {
    val recorded = txn.bucketMap(table).map(_.numBuckets).getOrElse(numBuckets)
    require(recorded == numBuckets,
      s"$table was written with numBuckets=$recorded but this merge was called with " +
        s"$numBuckets — merging would duplicate every updated key")
    val bucketed = numBuckets > 1
    // a 1-bucket merge reads the whole committed version, once; its size
    // decides the one-task path
    val whole = if (bucketed) None else txn.current(table, Some(Seq(0)))
    val local = !bucketed && mergesLocally(whole, localMaxBytes)
    def one(df: DataFrame): DataFrame = if (local) df.coalesce(1) else df
    val latest0 = MergeOps.dedupToLatest(one(updates), policy.keys, policy.orderBy)
    // an n-bucket merge reads `latest` twice: touched-bucket collect + merge
    val latest =
      if (bucketed) latest0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else latest0
    try {
      val touched =
        if (!bucketed) Seq(0)
        else {
          val stale = for (ups <- peerUps; state <- txn.current(table))
            yield MergeOps.staleRows(state, "peer_hash_id", "ts_us", ups, "hash_id", "ts_us")
          (latest +: stale.toSeq).map(_.select(bucketId(policy.keys, numBuckets)))
            .reduce(_ union _).distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
        }
      if (touched.isEmpty && txn.version(table).isDefined) return Nil // empty micro-batch: no-op
      val state = if (bucketed) txn.current(table, Some(touched)) else whole
      val current = MergeOps.evolveState(
        state.map(one).getOrElse(latest.limit(0)), latest, policy)
      val purged = peerUps.fold(current)(ups =>
        MergeOps.purgeStale(current, "peer_hash_id", "ts_us", one(ups), "hash_id", "ts_us"))
      // cached variant: state write + CDC write both execute below — an
      // uncached plan would run the whole merge join once per action
      val (next, log, release) = MergeOps.upsertWithLogCached(purged, latest, policy)
      try {
        // a fully-written CDC partition from a crashed attempt is
        // authoritative — a replay against already-committed state would
        // recompute degenerate (empty) rows and destroy it
        logPath.foreach(lp => writeCdcBatch(txn.spark, log, lp, batchId))
        if (bucketed) stageBuckets(txn, table, numBuckets, policy.keys, touched, next)
        else txn.stage(table, next)
      } finally release() // a failed write must not strand the cached join for the session's lifetime
      touched
    } finally { if (bucketed) latest.unpersist(); () }
  }

  private def stageBuckets(txn: ConsistentState.Txn, table: String, numBuckets: Int,
                           keys: Seq[String], buckets: Seq[Int], rows: DataFrame): Unit =
    txn.stageBuckets(table, numBuckets, keys, buckets,
      rows.withColumn(BucketCol, bucketId(keys, numBuckets)))

  /** A batchId-keyed CDC partition that a PREVIOUS attempt fully wrote
    * (`_SUCCESS` present) must be kept, not recomputed: if the crash
    * landed after the state commit but before the streaming checkpoint
    * advanced, the replay merges against the ALREADY-UPDATED state and
    * derives zero (or fewer) change rows — overwriting the real rows
    * with that degenerate recomputation would permanently lose CDC
    * history. If the crash landed before the state commit, the replay
    * recomputes the identical rows, so keeping the original is equally
    * correct. (Callers always write the log before the state commit.)
    *
    * Before its rows, a write records the log's read schema at the root
    * ([[logSchema]]): the first write records it, a write adding a column
    * widens it (older partitions read the column as null), and a write
    * changing a recorded column's type is refused.
    */
  private[graft] def writeCdcBatch(spark: SparkSession, log: DataFrame,
                                   logPath: String, batchId: Option[Long]): Unit = {
    val fs = new Path(logPath).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = batchId.map(id => new Path(s"$logPath/batch=$id"))
    if (!dir.exists(d => fs.exists(new Path(d, "_SUCCESS")))) {
      recordLogSchema(spark, fs, logPath, log.schema, batchId)
      dir.fold(log.write.mode("append").parquet(logPath))(d =>
        log.write.mode("overwrite").parquet(d.toString))
    }
  }

  /** A log's recorded schema, at its root beside the `batch=` dirs
    * (Spark's file listing skips `_` files).
    */
  private val LogSchemaFile = "_SCHEMA"

  /** The schema `spark.read.parquet` infers for what Spark wrote with
    * `written`: every field, element and value nullable.
    */
  private[graft] def readSchema(written: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case o => o
    }
    nullable(written).asInstanceOf[StructType]
  }

  /** The read schema recorded at a log root; None before its first write. */
  private[graft] def logSchema(spark: SparkSession, logPath: String): Option[StructType] = {
    val p = new Path(logPath, LogSchemaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    }
  }

  /** The log at `logPath` — or only its partition `dirs` — read with its
    * recorded schema. A log that records none (written other than by
    * [[writeCdcBatch]], e.g. an enrichment table) reads with the schema
    * [[graft.sources.SchemaCatalog]] inferred for the whole root.
    */
  private[graft] def readLog(spark: SparkSession, logPath: String,
                             dirs: Seq[String] = Nil): DataFrame = {
    val schema = logSchema(spark, logPath)
      .getOrElse(graft.sources.SchemaCatalog.schemaOf(spark, logPath))
    if (dirs.isEmpty) spark.read.schema(schema).parquet(logPath)
    else spark.read.option("basePath", logPath).schema(schema).parquet(dirs: _*)
  }

  /** The hourly layout [[graft.streaming.Ingest.compactLogIncremental]]
    * writes from the log at `logPath`, read with the schema that follows
    * from the log's recorded one: `batch` becomes the `__src_batch` data
    * column, and the `date_hour` label partitions it.
    */
  private[graft] def readCompactedLog(spark: SparkSession, logPath: String,
                                      compactedPath: String): DataFrame = {
    val schema = logSchema(spark, logPath).fold(
      graft.sources.SchemaCatalog.schemaOf(spark, compactedPath)) { raw =>
      StructType(raw.fields.map(f => if (f.name == "batch") f.copy(name = "__src_batch") else f) :+
        StructField("date_hour", StringType))
    }
    spark.read.schema(schema).parquet(compactedPath)
  }

  /** The recorded schema after a write of `data` as partition `batchId`:
    * the recorded fields (types checked), then new data fields, then the
    * `batch` partition column typed as Spark's partition inference types
    * it (int while every id fits, else long).
    */
  private def recordLogSchema(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                              logPath: String, data: StructType, batchId: Option[Long]): Unit = {
    val before = logSchema(spark, logPath)
    val old = before.getOrElse(new StructType())
    val fields = readSchema(data).fields
    fields.foreach { f =>
      old.find(_.name == f.name).filter(_.name != "batch").foreach(o =>
        require(o.dataType == f.dataType, s"$logPath records ${f.name} as " +
          s"${o.dataType.simpleString}; a write as ${f.dataType.simpleString} is refused"))
    }
    val recordedBatch = old.find(_.name == "batch").map(_.dataType)
    val batchType = batchId.map(id =>
      if (id.isValidInt && !recordedBatch.contains(LongType)) IntegerType else LongType)
      .orElse(recordedBatch)
    val widened = StructType(old.filterNot(_.name == "batch") ++
      fields.filterNot(f => old.exists(_.name == f.name)) ++
      batchType.map(StructField("batch", _)))
    if (!before.contains(widened))
      replacePointerFile(fs, spark.sessionState.newHadoopConf(),
        new Path(logPath, LogSchemaFile), widened.json.getBytes("UTF-8"))
  }

  /** Materialize a pending schema evolution: rewrite EVERY bucket of an
    * n-bucket table to the union schema, backfilling `defaults` (typed
    * NULL when unnamed) into rows from pre-evolution files, as one new
    * version staged in `txn`. One full rewrite by design — the explicit,
    * once-per-migration cost that keeps [[mergeChangedBuckets]] itself
    * free of full rewrites. (A 1-bucket table is rewritten whole by every
    * merge and never mixes schemas.)
    *
    * NULL-backfill caveat: defaults apply to NULLs in the named columns
    * wherever they occur (parquet cannot distinguish a stored NULL from
    * a file predating the column) — name only columns whose NULLs all
    * mean "predates the migration".
    *
    * @return bucket ids rewritten
    */
  def migrateSnapshot(txn: ConsistentState.Txn, table: String,
                      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : Seq[Int] = txn.bucketMap(table) match {
    case Some(m) if m.numBuckets > 1 && m.versions.nonEmpty =>
      val unioned = txn.current(table).get
      val filled = defaults.foldLeft(unioned) { case (d, (c, v)) =>
        d.withColumn(c, coalesce(col(c), v.cast(unioned.schema(c).dataType)))
      }
      val all = m.versions.keys.toSeq.sorted
      stageBuckets(txn, table, m.numBuckets, m.keys, all,
        filled.repartition(bucketId(m.keys, m.numBuckets))) // one task → one file per bucket
      all
    case _ => Nil
  }

  /** Small-file compaction for an n-bucket table: a merge writes each
    * touched bucket as up to one file per write task. This rewrites ONLY
    * buckets whose file count exceeds `maxFilesPerBucket` — coalesced to
    * 1 file each, as one new version staged in `txn` — and never opens a
    * healthy bucket. A 1-bucket table is rewritten whole by every merge,
    * so it is never compacted a second time.
    *
    * @return bucket ids compacted
    */
  def compactBuckets(txn: ConsistentState.Txn, table: String,
                     maxFilesPerBucket: Int = 8): Seq[Int] = txn.bucketMap(table) match {
    case Some(m) if m.numBuckets > 1 =>
      val fs = new org.apache.hadoop.fs.Path(txn.root)
        .getFileSystem(txn.spark.sessionState.newHadoopConf())
      val oversized = m.versions.keys.toSeq.sorted.filter(b =>
        fs.listStatus(m.dir(txn.root, table, b))
          .count(f => f.isFile && !f.getPath.getName.startsWith("_")) > maxFilesPerBucket)
      if (oversized.nonEmpty)
        stageBuckets(txn, table, m.numBuckets, m.keys, oversized,
          txn.current(table, Some(oversized)).get
            .repartition(bucketId(m.keys, m.numBuckets))) // one task per bucket → one output file each
      oversized
    case _ => Nil
  }
}
