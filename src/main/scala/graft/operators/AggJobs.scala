package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The periodic-aggregation job runner — SURVEY §3.2's cron → plpgsql
  * shape as idempotent Spark batch jobs.
  *
  * The reference recomputes the trailing `int_window` of whole buckets
  * and upserts them (`ON CONFLICT (bucket, keys) DO UPDATE`,
  * `2_aggregations.sql:91-130`), excluding the in-progress bucket so a
  * bucket's final value is written exactly once per horizon. Here the
  * same discipline: recompute whole buckets over the trailing horizon
  * of the (time-partitioned) log, drop the newest incomplete bucket,
  * and merge by (bucket ++ keys) into the stats table — re-running a
  * window always converges to the same rows (late data included on the
  * next run within the horizon).
  */
object AggJobs {

  /** One idempotent run: returns the new stats table contents.
    *
    * @param stats    current stats table (same schema as the output)
    * @param log      event/change log with epoch-micros column
    * @param horizonMicros recompute window (the cron `int_window`)
    * @param nowMicros     logical job time (tests pin it; production
    *                      passes the trigger time)
    */
  def runChgStats(stats: DataFrame, log: DataFrame, epochMicrosCol: String,
                  bucketSec: Long, withdrawnCond: org.apache.spark.sql.Column,
                  keys: Seq[String], horizonMicros: Long, nowMicros: Long): DataFrame = {
    val fresh = freshChgStats(log, epochMicrosCol, bucketSec, withdrawnCond,
      keys, horizonMicros, nowMicros)
    // upsert whole buckets: delete-then-insert by (bucket, keys) ≡ ON
    // CONFLICT DO UPDATE for a complete recomputation
    val mergeKeys = "bucket" +: keys
    stats.join(fresh.select(mergeKeys.map(col): _*), mergeKeys, "left_anti")
      .unionByName(fresh)
  }

  /** The whole-bucket recomputation shared by both merge paths. */
  private def freshChgStats(log: DataFrame, epochMicrosCol: String,
                            bucketSec: Long, withdrawnCond: org.apache.spark.sql.Column,
                            keys: Seq[String], horizonMicros: Long,
                            nowMicros: Long): DataFrame = {
    val bucketUs      = bucketSec * 1000000L
    val currentBucket = nowMicros - nowMicros % bucketUs
    // align the lower bound UP to a bucket boundary: only whole buckets
    // are ever recomputed (a truncated oldest bucket would overwrite a
    // previously-complete row with undercounts). floorMod, not %: a
    // horizon reaching past epoch 0 makes rawStart negative, where
    // Scala % is negative and the naive formula overshoots the ceiling
    // by one bucket (silently excluding a complete bucket)
    val rawStart   = nowMicros - horizonMicros
    val alignedStart =
      rawStart + (bucketUs - Math.floorMod(rawStart, bucketUs)) % bucketUs
    val windowed = log.filter(
      col(epochMicrosCol) >= lit(alignedStart) &&
        col(epochMicrosCol) < lit(currentBucket)) // exclude in-progress bucket
    TimeAgg.chgStats(windowed, epochMicrosCol, bucketSec, withdrawnCond, keys)
  }

  /** [[runChgStats]] against an n-bucket stats table
    * ([[StateTables.mergeChangedBuckets]] keyed (bucket ++ keys)), staged
    * in `txn` — the caller commits. One cron run rewrites ONLY the
    * key-hash buckets holding recomputed rows — write amplification
    * ∝ touched buckets ≈ the horizon's group spread, not O(stats table).
    * This is the columnar equivalent of the reference touching only
    * conflicting rows (`2_aggregations.sql:91-130`); the
    * snapshot-returning [[runChgStats]] rewrites the full table per run
    * and should only be used for small stats tables or tests.
    *
    * A recomputed whole bucket fully supersedes its stored row, so the
    * merge is pure last-write-wins: the `__tombstone` bookkeeping column
    * (constant false, stored with the table) exists only because
    * [[MergeOps.MergePolicy]] models withdraw semantics the stats path
    * never exercises.
    *
    * @return key-hash bucket ids rewritten (the run's write
    *         amplification, in buckets)
    */
  def runChgStatsBucketed(txn: graft.streaming.ConsistentState.Txn, table: String,
                          log: DataFrame, epochMicrosCol: String, bucketSec: Long,
                          withdrawnCond: org.apache.spark.sql.Column,
                          keys: Seq[String], horizonMicros: Long, nowMicros: Long,
                          numBuckets: Int): Seq[Int] = {
    val fresh = freshChgStats(log, epochMicrosCol, bucketSec, withdrawnCond,
      keys, horizonMicros, nowMicros)
    val policy = MergeOps.MergePolicy(
      keys = "bucket" +: keys,
      withdrawnCol = "__tombstone",
      orderBy = Seq("updates"), // one row per key per run — any total order
      retainOnWithdraw = Nil,
      alwaysUpdate = Seq("withdraws", "updates"))
    StateTables.mergeChangedBuckets(txn, table,
      fresh.withColumn("__tombstone", lit(false)), policy, numBuckets)
  }
}
