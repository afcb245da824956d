package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert/merge — the engine's core write-path semantics.
  *
  * Reproduces the reference's `INSERT … ON CONFLICT (key) DO UPDATE`
  * family (SURVEY.md §2.2, M1–M9) with **conditional column retention on
  * withdraw**: when the incoming record is a withdraw, attribute columns
  * keep their OLD values and only timestamp/state bookkeeping changes —
  * the `CASE excluded.iswithdrawn WHEN true THEN old ELSE new END`
  * pattern of `/root/reference/src/main/java/org/openbmp/psqlquery/
  * UnicastPrefixQuery.java:36-37` (and LsNodeQuery/LsLinkQuery/
  * LsPrefixQuery for the link-state tables).
  *
  * Design: state lives as an immutable columnar snapshot (Parquet); each
  * micro-batch applies `dedupToLatest` (the writer's last-write-wins
  * compression, `WriterRunnable.java:140-153`) then a full-outer
  * merge-join per key. At 100 TB the state table is bucketed/partitioned
  * by key hash so the merge join shuffles only the (small) update side;
  * the CDC log (§2.3) falls out of the same join at zero extra cost.
  */
object MergeOps {

  /** Column policy for one state table — data, not code (SURVEY §7.3). */
  final case class MergePolicy(
      keys: Seq[String],
      /** boolean column on the update marking a withdraw */
      withdrawnCol: String,
      /** total order of updates within a key: later wins (ts, seq, …) */
      orderBy: Seq[String],
      /** columns retained from OLD state when the update is a withdraw */
      retainOnWithdraw: Seq[String],
      /** columns always taken from the update (timestamp, flags, …) */
      alwaysUpdate: Seq[String],
      /** schema evolution: default value for a column that appears in
        * updates but not yet in state — EXISTING rows get it backfilled
        * at read/merge time (unnamed columns backfill as typed NULL,
        * Postgres `ALTER TABLE … ADD COLUMN` semantics). See
        * [[evolveState]] / [[graft.operators.StateTables.mergeChangedBuckets]].
        */
      evolveDefaults: Map[String, Column] = Map.empty
  )

  /** Additive schema evolution for a keyed-merge state side: align
    * `state` to the columns `updates` carries. New columns backfill
    * existing rows with the policy default (typed NULL when unnamed) —
    * the reference evolves with `ALTER TABLE … ADD COLUMN` which does
    * exactly this. A column changing TYPE is refused loudly: silently
    * casting 100 TB of state is never what anyone meant — migrate with
    * [[graft.operators.StateTables.migrateSnapshot]] first. A column
    * present in state but missing from updates needs no action here
    * ([[upsert]] carries old values forward and null-fills new rows).
    */
  def evolveState(state: DataFrame, updates: DataFrame, policy: MergePolicy): DataFrame = {
    val stateTypes = state.schema.fields.map(f => f.name -> f.dataType).toMap
    val changed = updates.schema.fields
      .filter(f => stateTypes.get(f.name).exists(_ != f.dataType))
    require(changed.isEmpty,
      s"schema evolution: column(s) ${changed.map(f => s"${f.name}: " +
        s"${stateTypes(f.name).simpleString} -> ${f.dataType.simpleString}").mkString(", ")} " +
        "changed type between state and updates — refusing to merge (a silent cast " +
        "rewrites meaning, not bytes); migrate the snapshot explicitly " +
        "(StateTables.migrateSnapshot) or fix the producer")
    val fresh = updates.schema.fields.filterNot(f => stateTypes.contains(f.name))
    fresh.foldLeft(state)((d, f) =>
      d.withColumn(f.name,
        policy.evolveDefaults.getOrElse(f.name, lit(null)).cast(f.dataType)))
  }

  /** Rows with a NULL merge key are unjoinable garbage: the reference's
    * key columns are NOT NULL (`1_base.sql` PKs) and a null key can
    * never be matched, overwritten, or purged later — admitting one
    * grows state monotonically with junk. Dropped up front by every
    * keyed-merge entry point.
    */
  private def nonNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(keys.map(col(_).isNotNull).reduce(_ && _))

  /** S5/D2: batch last-write-wins per key — the writer's same-hash
    * compression within one flush window (`WriterRunnable.java:140-153`).
    */
  def dedupToLatest(updates: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** M2: `ON CONFLICT DO NOTHING` — content-addressed immutable rows
    * (`BaseAttributeQuery.java:24-36`): keep current, append only keys
    * never seen (first occurrence wins within the batch).
    */
  def insertIgnore(current: DataFrame, updates: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).asc): _*)
    val firstPerKey = nonNullKeys(updates, keys) // a null key would re-append every run (anti-join can't match it)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val fresh = firstPerKey.join(current.select(keys.map(col): _*), keys, "left_anti")
    current.unionByName(fresh.select(current.columns.map(col).toIndexedSeq: _*))
  }

  /** M1/M3–M9: merge one batch of (already latest-deduped) updates into
    * `current` applying retain-on-withdraw. Returns the new state with
    * the same schema as `current`.
    */
  def upsert(current: DataFrame, updates: DataFrame, policy: MergePolicy): DataFrame =
    upsertWithLog(current, updates, policy)._1

  /** Merge + CDC in one pass (T1–T3, `9_triggers.sql:89-126`): emits a
    * change-log row when the withdrawn flag flipped OR (advertise AND
    * any retained attribute changed) — the trigger's WHEN clause. On
    * withdraw the log row carries the OLD attribute values, else the new
    * (`9_triggers.sql:92-99`).
    *
    * @return (newState, changeLog) — changeLog has key + value cols.
    */
  def upsertWithLog(current: DataFrame, updates: DataFrame, policy: MergePolicy): (DataFrame, DataFrame) = {
    val (next, log, _) = upsertPlans(current, updates, policy, cacheJoin = false)
    (next, log)
  }

  /** [[upsertWithLog]] with the shared full-outer join PERSISTED: a
    * caller that executes BOTH outputs (state write + CDC-log write)
    * would otherwise run the whole merge join twice — once per action.
    * Call the returned release() after both writes.
    */
  def upsertWithLogCached(current: DataFrame, updates: DataFrame,
                          policy: MergePolicy): (DataFrame, DataFrame, () => Unit) =
    upsertPlans(current, updates, policy, cacheJoin = true)

  private def upsertPlans(current: DataFrame, updates0: DataFrame, policy: MergePolicy,
                          cacheJoin: Boolean): (DataFrame, DataFrame, () => Unit) = {
    import policy._
    val updates    = nonNullKeys(updates0, keys) // see nonNullKeys — a null-key row would survive as unmatchable junk state
    val stateCols  = current.columns.toSeq
    // one projection: a withColumnRenamed per column re-analyzes a deeper plan each step
    val cur        = current.select(current.columns.map(c => col(s"`$c`").as(s"__old_$c")): _*)
    val joined0 = updates.join(
      cur,
      keys.map(k => updates(k) === cur(s"__old_$k")).reduce(_ && _),
      "full_outer")
    val joined =
      if (cacheJoin) joined0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else joined0
    val release: () => Unit = () => { if (cacheJoin) { joined.unpersist(); () } }

    val hasOld    = keys.map(k => col(s"__old_$k").isNotNull).reduce(_ && _)
    val hasNew    = keys.map(k => col(k).isNotNull).reduce(_ && _)
    val withdrawn = col(withdrawnCol)

    // merged value for each state column
    def mergedCol(c: String): Column = {
      val old = col(s"__old_$c")
      if (keys.contains(c)) coalesce(col(c), old)
      else if (retainOnWithdraw.contains(c))
        when(!hasNew, old)
          .otherwise(when(hasOld && withdrawn, old).otherwise(col(c)))
      else // alwaysUpdate + withdrawnCol + anything else present in update
        when(!hasNew, old).otherwise(
          if (updates.columns.contains(c)) col(c) else old)
    }
    val keyExprs = keys.map(k => coalesce(col(k), col(s"__old_$k")).as(k))
    val newState = joined.select(
      stateCols.map(c => if (keys.contains(c)) keyExprs(keys.indexOf(c)) else mergedCol(c).as(c)): _*)

    // CDC predicate (only rows that had an update)
    val attrChanged = retainOnWithdraw
      .map(c => !(col(c) <=> col(s"__old_$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val flagFlipped = !(withdrawn <=> coalesce(col(s"__old_$withdrawnCol"), lit(false)))
    val isChange    = hasNew && (flagFlipped || (!withdrawn && (!hasOld || attrChanged)))

    val logRows = joined
      .filter(isChange)
      .select(
        (keyExprs ++
          (retainOnWithdraw.map { c =>
            when(withdrawn && hasOld, col(s"__old_$c")).otherwise(col(c)).as(c)
          }) ++
          alwaysUpdate.map(c => col(c).as(c)) :+
          withdrawn.as(withdrawnCol)): _*)
    (newState, logRows, release)
  }

  /** Fold an *ordered* batch of updates down to the final per-key state
    * in one pass (equivalent to applying `upsert` record-by-record):
    * bookkeeping columns come from the LAST update, retained columns
    * from the last NON-withdrawn update. Used for bulk replay/bootstrap
    * where per-record merging would be wasteful.
    */
  def applyOrdered(updates: DataFrame, policy: MergePolicy): DataFrame = {
    import policy._
    val asc = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val desc = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)

    // retained values come from the last NON-withdrawn update as a whole
    // row (struct), not per-column ignoreNulls — a legitimately-null
    // column in that update must stay null, exactly as record-by-record
    // upserts would leave it. Keys whose updates are ALL withdraws fall
    // back to the FIRST update's values: record-by-record, the first
    // withdraw lands with no existing row (hasOld=false) and writes its
    // incoming attribute values; later withdraws retain them.
    // null withdrawn flags count as advertises, matching upsert's
    // per-record behavior (`hasOld && withdrawn` is null → otherwise →
    // new values) — a bare !col would make the null row invisible here
    // and bulk replay would diverge from the streamed state
    val retStruct = coalesce(
      last(
        when(!coalesce(col(withdrawnCol), lit(false)),
          struct(retainOnWithdraw.map(col): _*)),
        ignoreNulls = true).over(asc),
      first(struct(retainOnWithdraw.map(col): _*)).over(asc))
    val withFinals = updates
      .withColumn("__rn", row_number().over(desc))
      .withColumn("__ret", retStruct)
    val outCols = keys.map(col) ++ alwaysUpdate.map(col) ++ Seq(col(withdrawnCol)) ++
      retainOnWithdraw.map(c => col(s"__ret.$c").as(c))
    withFinals.filter(col("__rn") === 1).select(outCols: _*)
  }

  /** T9: peer-up stale-route purge (`PeerQuery.java:121-153`): drop state
    * rows of the given key whose timestamp predates the peer-up message.
    */
  def purgeStale(current: DataFrame, keyCol: String, tsCol: String, thresholds: DataFrame,
                 thKeyCol: String, thTsCol: String): DataFrame =
    current
      .join(latestThreshold(thresholds, thKeyCol, thTsCol), col(keyCol) === col("__pk"), "left")
      .filter(col("__pts").isNull || col(tsCol) >= col("__pts"))
      .drop("__pk", "__pts")

  /** The rows [[purgeStale]] drops. An inner join, so an empty
    * threshold side plans to an empty result without scanning `current`.
    */
  def staleRows(current: DataFrame, keyCol: String, tsCol: String, thresholds: DataFrame,
                thKeyCol: String, thTsCol: String): DataFrame =
    current
      .join(latestThreshold(thresholds, thKeyCol, thTsCol), col(keyCol) === col("__pk"))
      .filter(!coalesce(col(tsCol) >= col("__pts"), lit(false)))
      .drop("__pk", "__pts")

  // latest peer-up per key: multiple up messages for one peer are legal
  // on the bus; joining them un-deduped would DUPLICATE every surviving
  // state row, and the newest threshold subsumes the rest
  private def latestThreshold(thresholds: DataFrame, thKeyCol: String, thTsCol: String) =
    broadcast(thresholds.groupBy(col(thKeyCol).as("__pk")).agg(max(col(thTsCol)).as("__pts")))

  /** SCD Type-2 intervalization of an update log: one validity
    * interval per accepted update — `valid_from` = the update's
    * timestamp, `valid_to` = the NEXT update's timestamp for the same
    * key (null while current), `is_current` on the open row. Turns the
    * engine's CDC logs into the versioned-dimension shape that lets a
    * fact row join the attribute values that were true AT ITS OWN
    * TIME (the as-of join's natural dimension-side partner).
    *
    * Same-timestamp collisions resolve BEFORE intervalization by
    * highest `tieCol` (latest-writer-wins, deterministic) — two
    * updates in one instant must not create a zero-width interval.
    *
    * Plan shape: one per-key window sort total (the dedup row_number
    * and the lead() share the (key, ts) sort order, so Catalyst plans
    * ONE exchange + sort); per-key partitions are version counts,
    * never the corpus.
    */
  def scd2(updates: DataFrame, keyCols: Seq[String], tsCol: String,
           tieCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2 needs at least one key column")
    val keys = keyCols.map(col)
    val wDedup = Window.partitionBy(keys :+ col(tsCol): _*)
      .orderBy(col(tieCol).desc)
    val wNext = Window.partitionBy(keys: _*)
      .orderBy(col(tsCol))
    updates
      .withColumn("__rn", row_number().over(wDedup))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wNext))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
