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
    val fresh = TimeAgg.chgStats(windowed, epochMicrosCol, bucketSec, withdrawnCond, keys)
    // upsert whole buckets: delete-then-insert by (bucket, keys) ≡ ON
    // CONFLICT DO UPDATE for a complete recomputation
    val mergeKeys = "bucket" +: keys
    stats.join(fresh.select(mergeKeys.map(col): _*), mergeKeys, "left_anti")
      .unionByName(fresh)
  }
}
