package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Changed-bucket state-table layout — the storage side of the 100 TB
  * merge design.
  *
  * The reference's `ON CONFLICT` upserts touch only conflicting rows.
  * The columnar equivalent: the snapshot is directory-partitioned by a
  * hash bucket of the merge key, updates are hashed with the same
  * function, and a merge (a) reads ONLY the partitions holding updated
  * keys (partition pruning at the scan) and (b) swaps ONLY those
  * directories. Untouched bucket files are never opened or rewritten —
  * write volume is ∝ (touched buckets) ≈ update spread, not state size.
  */
object StateTables {

  /** The bucket partition function: pmod(hash(keys), numBuckets) —
    * identical on the state and update sides by construction.
    */
  def bucketId(keys: Seq[String], numBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** Write a snapshot in the changed-bucket layout: one directory per
    * key-hash bucket (`__bucket=<i>/`). Size numBuckets so a bucket is
    * a few parquet files (e.g. 2^10-2^17 at 100 TB): more buckets →
    * finer merge granularity, fewer → larger scan units.
    */
  def writeBucketPartitioned(df: DataFrame, path: String, keys: Seq[String],
                             numBuckets: Int): Unit = {
    df.withColumn("__bucket", bucketId(keys, numBuckets))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
    // after the data write: mode-overwrite deletes the whole root first
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(path, "_NUM_BUCKETS")
    replacePointerFile(marker.getFileSystem(conf), conf, marker,
      numBuckets.toString.getBytes)
  }

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
    *    some object stores) — falls back to delete+rename; object-store
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
          fs.delete(dst, false)
          if (!fs.rename(tmp, dst)) sys.error(s"failed to commit pointer $dst")
      }
    }
  }

  /** The layout's bucket count is part of its identity: a merge run with
    * a DIFFERENT numBuckets would hash updates into different dirs than
    * the ones holding their current rows — the pruned read misses them
    * and every updated key is silently duplicated. The count is recorded
    * in a `_NUM_BUCKETS` marker at bootstrap and validated on every
    * merge; a legacy layout without the marker is grandfathered by
    * writing the caller's value (trusting it once).
    */
  private def checkNumBuckets(fs: org.apache.hadoop.fs.FileSystem,
                              path: String, numBuckets: Int): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, "_NUM_BUCKETS")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val recorded = try new String(in.readAllBytes()).trim.toInt finally in.close()
      require(recorded == numBuckets,
        s"bucket layout at $path was written with numBuckets=$recorded but this " +
          s"merge was called with $numBuckets — merging would duplicate every " +
          "updated key; re-bucket the snapshot (writeBucketPartitioned) to change the count")
    } else // grandfather pre-marker layouts
      replacePointerFile(fs, fs.getConf, marker, numBuckets.toString.getBytes)
  }

  /** Merge updates into a bucket-partitioned snapshot rewriting ONLY
    * the buckets that contain updated keys.
    *
    * The touched-bucket list is plan-time metadata (≤ numBuckets ints —
    * the one acceptable collect); the current-state scan carries an
    * `isin(touched)` partition filter so pruning happens at the
    * directory listing, and the merged result is staged to
    * `<path>_stage` then swapped in with per-bucket park-aside renames
    * (the staged write also sidesteps reading and overwriting the same
    * path in one plan). The swap is crash-safe per bucket: the old
    * directory is parked under `<path>_old` before the new one moves
    * in, every rename result is checked, and the recovery pre-pass of
    * the NEXT merge restores any bucket a crash left parked — combined
    * with the idempotent merge, a replayed batch converges with no row
    * loss. Cross-bucket atomicity (a reader seeing half-swapped state)
    * still needs a commit pointer like the versioned tables'
    * [[graft.streaming.ConsistentState]] manifest.
    *
    * With `logPath`, the CDC rows of the merge ([[MergeOps.upsertWithLog]])
    * are written before the swap — batchId-keyed partitions make a
    * replayed micro-batch overwrite its own log instead of appending
    * duplicates, and a crash between log write and swap re-runs the
    * idempotent merge from the old state.
    *
    * SINGLE WRITER REQUIRED: the staging (`<path>_stage`) and park
    * (`<path>_old`) directories are fixed siblings of the state path,
    * and the recovery pre-pass assumes anything found in them belongs to
    * a CRASHED run of this same merge — two concurrent merges on one
    * path would overwrite each other's stage and interleave park/move
    * renames, corrupting buckets. This matches the deployment shape:
    * [[graft.streaming.GraftApp.processBatch]] calls this from
    * `foreachBatch`, which Structured Streaming serializes per query
    * (one driver, one batch at a time). Running two streaming queries
    * (or a manual job beside one) against the same state path needs
    * external coordination — there is deliberately no lock file here,
    * because a crashed holder would wedge the pipeline where the
    * idempotent-replay design recovers unattended.
    *
    * @return the bucket ids rewritten (size = write amplification in
    *         units of buckets)
    */
  def mergeChangedBuckets(spark: SparkSession, path: String, updates: DataFrame,
                          policy: MergeOps.MergePolicy, numBuckets: Int,
                          logPath: Option[String] = None,
                          batchId: Option[Long] = None): Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val fs   = new HPath(path).getFileSystem(conf)
    recoverSwap(fs, path) // restore any bucket parked by a crashed swap

    val latest = MergeOps.dedupToLatest(updates, policy.keys, policy.orderBy)
      .withColumn("__bucket", bucketId(policy.keys, numBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = latest.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) { latest.unpersist(); return Nil } // empty micro-batch: no-op
    // bootstrap detection looks for bucket DIRECTORIES, not bare
    // existence — a crash can leave the root created but empty, which
    // must re-enter the bootstrap path, not a schema-less parquet read
    val hasState = fs.exists(new HPath(path)) &&
      fs.listStatus(new HPath(path)).exists(_.getPath.getName.startsWith("__bucket="))
    if (hasState) checkNumBuckets(fs, path, numBuckets)
    val current =
      if (hasState)
        // mergeSchema: after an additive evolution only the buckets
        // touched SINCE carry the new column — the union schema (with
        // nulls for pre-evolution files) is the correct read of that
        // mixed layout (see readSnapshot)
        MergeOps.evolveState(
          spark.read.option("mergeSchema", "true").parquet(path)
            .filter(col("__bucket").isin(touched: _*)) // partition-pruned read
            .drop("__bucket"),
          latest.drop("__bucket"), policy)
      else // bootstrap: first batch creates the layout
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          latest.drop("__bucket").schema)
    // cached variant: state write + CDC write both execute below — an
    // uncached plan would run the whole merge join once per action
    val (merged0, log, release) =
      MergeOps.upsertWithLogCached(current, latest.drop("__bucket"), policy)
    val merged = merged0.withColumn("__bucket", bucketId(policy.keys, numBuckets))
    val stage = path + "_stage"
    try {
      merged.write.mode("overwrite").partitionBy("__bucket").parquet(stage)
      // a fully-written CDC partition from a crashed attempt is
      // authoritative — a replay against already-swapped state would
      // recompute degenerate (empty) rows and destroy it
      logPath.foreach(lp => writeCdcBatch(spark, log, lp, batchId))
    } finally { release(); latest.unpersist() } // a failed write must not strand the cached join for the session's lifetime
    // crash-safe swap: park the old bucket ASIDE (outside the partition
    // root, so partition discovery never sees it), move the new one in,
    // then drop the parked copy. Any crash leaves each bucket either at
    // dst or parked — recoverSwap restores parked ones on the
    // next merge, and the replayed (idempotent) batch converges.
    swapStagedDirs(fs, stage, path, touched.map(b => s"__bucket=$b"))
    if (!hasState) // bootstrap fixes the layout's identity
      replacePointerFile(fs, conf, new HPath(path, "_NUM_BUCKETS"),
        numBuckets.toString.getBytes)
    touched
  }

  /** Crash-safe staged-directory swap shared by the changed-bucket merge,
    * bucket compaction, and incremental log compaction: for each named
    * child dir, park the current copy ASIDE under `<path>_old` (outside
    * partition discovery), move the staged one in, drop the parked copy;
    * delete the stage root last. Any crash leaves each dir either
    * swapped or parked — [[recoverSwap]] restores parked ones on the
    * next run. Same single-writer contract as [[mergeChangedBuckets]].
    */
  private[graft] def swapStagedDirs(fs: org.apache.hadoop.fs.FileSystem,
                                    stage: String, path: String,
                                    names: Seq[String],
                                    allowMissingSrc: Boolean = false): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val asideRoot = new HPath(path + "_old")
    fs.mkdirs(new HPath(path))
    fs.mkdirs(asideRoot)
    names.foreach { n =>
      val dst   = new HPath(path, n)
      val src   = new HPath(stage, n)
      val aside = new HPath(asideRoot, n)
      // a name missing from the stage is corruption unless the caller
      // says otherwise (compaction of an all-empty-files dir writes no
      // partition): merge/compaction outputs always contain every
      // touched name, so silently deleting the parked copy here would
      // turn an anomaly (partial stage write, external cleanup) into
      // silent data loss — fail BEFORE parking so recoverSwap has
      // nothing to misjudge
      if (!allowMissingSrc && !fs.exists(src))
        sys.error(s"staged swap: $src missing from stage — refusing to drop $dst")
      fs.delete(aside, true)
      if (fs.exists(dst) && !fs.rename(dst, aside))
        sys.error(s"staged swap: failed to park $dst")
      if (fs.exists(src) && !fs.rename(src, dst))
        sys.error(s"staged swap: failed to move $src into place")
      fs.delete(aside, true)
    }
    fs.delete(asideRoot, true)
    fs.delete(new HPath(stage), true)
  }

  /** A batchId-keyed CDC partition that a PREVIOUS attempt fully wrote
    * (`_SUCCESS` present) must be kept, not recomputed: if the crash
    * landed after the state commit but before the streaming checkpoint
    * advanced, the replay merges against the ALREADY-UPDATED state and
    * derives zero (or fewer) change rows — overwriting the real rows
    * with that degenerate recomputation would permanently lose CDC
    * history. If the crash landed before the state commit, the replay
    * recomputes the identical rows, so keeping the original is equally
    * correct. (Callers always write the log before the state commit.)
    */
  private[graft] def writeCdcBatch(spark: SparkSession, log: DataFrame,
                                   logPath: String, batchId: Option[Long]): Unit =
    batchId match {
      case Some(id) =>
        val dir = new org.apache.hadoop.fs.Path(s"$logPath/batch=$id")
        val fs  = dir.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
          log.write.mode("overwrite").parquet(dir.toString)
      case None => log.write.mode("append").parquet(logPath)
    }

  /** THE read entry point for a changed-bucket snapshot. Plain
    * `spark.read.parquet` infers the schema from one footer — after an
    * additive evolution (new column via [[MergeOps.evolveState]]) only
    * buckets touched since carry it, so a single-footer read can miss
    * the column entirely depending on file order. `mergeSchema` builds
    * the union schema and null-fills pre-evolution files — the exact
    * `ALTER TABLE … ADD COLUMN` read semantics. (Footer-merging cost is
    * per-FILE metadata, not data; at 100 TB run [[migrateSnapshot]]
    * after an evolution to restore single-schema reads.)
    */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path).drop("__bucket")

  /** Materialize a pending schema evolution: rewrite EVERY bucket to the
    * union schema, backfilling `defaults` (typed NULL when unnamed) into
    * rows from pre-evolution files. One full rewrite by design — the
    * explicit, once-per-migration cost that keeps [[mergeChangedBuckets]]
    * itself free of full rewrites. Crash-safe via the same park-aside
    * swap; same single-writer contract.
    *
    * NULL-backfill caveat: defaults apply to NULLs in the named columns
    * wherever they occur (parquet cannot distinguish a stored NULL from
    * a file predating the column) — name only columns whose NULLs all
    * mean "predates the migration".
    *
    * @return bucket ids rewritten
    */
  def migrateSnapshot(spark: SparkSession, path: String,
                      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new HPath(path))) return Nil
    recoverSwap(fs, path)
    val buckets = fs.listStatus(new HPath(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
      .map(_.getPath.getName.stripPrefix("__bucket=").toInt)
      .toSeq.sorted
    if (buckets.isEmpty) return Nil
    val unioned = spark.read.option("mergeSchema", "true").parquet(path)
    val filled = defaults.foldLeft(unioned) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), v.cast(unioned.schema(c).dataType)))
    }
    val stage = path + "_stage"
    filled
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(stage)
    swapStagedDirs(fs, stage, path, buckets.map(b => s"__bucket=$b"))
    buckets
  }

  /** Small-file compaction for the changed-bucket layout: every merge
    * rewrites its touched buckets as fresh files, so a bucket that takes
    * updates every batch accumulates one file set per merge cadence
    * window. This rewrites ONLY buckets whose file count exceeds
    * `maxFilesPerBucket` — coalesced to 1 file each via the same
    * park-aside swap (crash-safe, recoverable by the next merge's
    * pre-pass) — and never opens a healthy bucket. Run it on a timer or
    * after N merges, like any LSM-ish compaction.
    *
    * Same single-writer contract as [[mergeChangedBuckets]].
    *
    * @return bucket ids compacted
    */
  def compactBuckets(spark: SparkSession, path: String,
                     maxFilesPerBucket: Int = 8): Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val fs   = new HPath(path).getFileSystem(conf)
    if (!fs.exists(new HPath(path))) return Nil
    recoverSwap(fs, path)
    val oversized = fs.listStatus(new HPath(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
      .filter(st => fs.listStatus(st.getPath)
        .count(f => f.isFile && !f.getPath.getName.startsWith("_")) > maxFilesPerBucket)
      .map(st => st.getPath.getName.stripPrefix("__bucket=").toInt)
      .toSeq.sorted
    if (oversized.isEmpty) return Nil
    val stage = path + "_stage"
    spark.read.parquet(path)
      .filter(col("__bucket").isin(oversized: _*)) // partition-pruned: only sick buckets are read
      .repartition(col("__bucket")) // one task per bucket → one output file each
      .write.mode("overwrite").partitionBy("__bucket").parquet(stage)
    // allowMissingSrc: a bucket whose files were ALL empty yields no
    // stage partition — collapsing it to nothing is correct compaction
    swapStagedDirs(fs, stage, path, oversized.map(b => s"__bucket=$b"),
      allowMissingSrc = true)
    oversized
  }

  /** Predicate delete on the changed-bucket layout — the reference's
    * `DELETE FROM ip_rib WHERE peer_hash_id = … AND timestamp < …`
    * (T9 peer-up purge, `PeerQuery.java:121-153`) without a btree: one
    * partition-wide scan finds the buckets holding matching rows (the
    * scan is column-pruned to the predicate's inputs), then ONLY those
    * buckets are rewritten without the matches, via the same crash-safe
    * park-aside swap as the merge. Write volume ∝ buckets touched by
    * the predicate; a no-match predicate rewrites nothing. A bucket
    * whose every row matches collapses to no directory (correct: empty).
    *
    * Same single-writer contract as [[mergeChangedBuckets]].
    *
    * @return bucket ids rewritten
    */
  def deleteMatching(spark: SparkSession, path: String,
                     predicate: org.apache.spark.sql.Column): Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val fs   = new HPath(path).getFileSystem(conf)
    val hasState = fs.exists(new HPath(path)) &&
      fs.listStatus(new HPath(path)).exists(_.getPath.getName.startsWith("__bucket="))
    if (!hasState) return Nil
    recoverSwap(fs, path)
    val touched = spark.read.parquet(path).filter(predicate)
      .select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded: ≤ numBuckets ints
    if (touched.isEmpty) return Nil
    val stage = path + "_stage"
    spark.read.parquet(path)
      .filter(col("__bucket").isin(touched: _*)) // partition-pruned rewrite set
      .filter(!coalesce(predicate, lit(false)))  // null-predicate rows survive, like SQL DELETE
      .write.mode("overwrite").partitionBy("__bucket").parquet(stage)
    swapStagedDirs(fs, stage, path, touched.map(b => s"__bucket=$b"),
      allowMissingSrc = true) // a fully-deleted bucket stages no partition
    touched
  }

  /** Recovery pre-pass for [[swapStagedDirs]] callers: any directory
    * still parked under `<path>_old` belongs to a swap that crashed
    * between park and move — if its slot is empty, move it back; if the
    * slot was filled (crash after the move), drop the parked copy.
    */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val asideRoot = new org.apache.hadoop.fs.Path(path + "_old")
    if (fs.exists(asideRoot)) {
      fs.listStatus(asideRoot).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(path, st.getPath.getName)
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst))
            sys.error(s"bucket swap recovery: failed to restore ${st.getPath}")
        } else fs.delete(st.getPath, true)
      }
      fs.delete(asideRoot, true)
    }
  }
}
