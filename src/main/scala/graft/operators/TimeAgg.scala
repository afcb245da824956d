package graft.operators

import graft.operators.Mat._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Periodic windowed aggregations — SURVEY.md §2.5 (A1–A9).
  *
  * The reference computes these as idempotent plpgsql cron jobs
  * (`/root/reference/database/2_aggregations.sql`): re-running a window
  * overwrites its bucket (`ON CONFLICT … DO UPDATE`). Here each job is a
  * pure batch transform over a time-partitioned log table; idempotence
  * falls out of recomputing whole buckets, and the upsert into the stats
  * table reuses [[MergeOps.upsert]] keyed by (bucket, group keys).
  *
  * All buckets are tumbling (the reference has no sliding/session
  * windows — SURVEY §2.8). `timeBucketSec` mirrors TimescaleDB
  * `time_bucket` / the epoch-division idiom of `2_aggregations.sql:93`.
  */
object TimeAgg {

  /** Exact epoch-micros for an events-style `ts` column, tolerant of
    * BOTH physical regimes the testdata generator has shipped: parquet
    * INT64 nanoseconds (read as LongType via `nanosAsLong`; truncating
    * integer div) and parquet TIMESTAMP micros (TIMESTAMP_NTZ/LTZ;
    * `unix_micros` after a cast that is exact because every Graft
    * session pins `spark.sql.session.timeZone=UTC`). Schema-adaptive so
    * a regenerated fixture cannot silently break every time-based
    * operator again.
    */
  def epochMicros(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"`$tsCol` div 1000")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(tsCol).cast("timestamp"))
      case other => throw new IllegalArgumentException(
        s"epochMicros: column `$tsCol` has unsupported type $other — " +
          "expected INT64 nanos (LongType) or TIMESTAMP/TIMESTAMP_NTZ; " +
          "refusing to guess an epoch unit for it")
    }

  /** `to_timestamp(extract(epoch from ts)::bigint / n * n)` as epoch
    * seconds (kept numeric: at 100 TB the bucket is a partition key and
    * integers compare/prune cheaper than timestamps).
    */
  def timeBucketSec(epochMicros: Column, seconds: Long): Column = {
    // exact integer bucketing: subtract the remainder, then the division
    // by 1e6 is an exact integer (no double rounding anywhere)
    val step = lit(seconds * 1000000L)
    ((epochMicros - pmod(epochMicros, step)) / lit(1000000L)).cast("long")
  }

  /** A1–A3: change-rate stats over a RIB-change log: per (bucket, keys),
    * counts of withdraws vs updates — `count(CASE WHEN iswithdrawn …)`
    * (`2_aggregations.sql:91-130`).
    */
  def chgStats(log: DataFrame, epochMicrosCol: String, bucketSec: Long,
               withdrawnCond: Column, keys: Seq[String]): DataFrame = {
    val bucket = timeBucketSec(col(epochMicrosCol), bucketSec).as("bucket")
    log
      .groupBy(bucket +: keys.map(col): _*)
      .agg(
        count(when(withdrawnCond, 1)).as("withdraws"),
        count(when(!withdrawnCond, 1)).as("updates"))
  }

  /** A4/A5: global consolidated RIB rollup (`2_aggregations.sql:210-233`,
    * `:290-311`): per (prefix, origin) — peer counts, withdrawn-everywhere
    * flag (`bool_and`), first/last timestamps. `FILTER (WHERE …)` becomes
    * `countDistinct(when(…))`; counts stay exact (small cardinality per
    * group) as the reference's are.
    */
  def globalRib(rib: DataFrame, prefixCols: Seq[String], peerCol: String,
                withdrawnCol: String, tsCol: String): DataFrame =
    rib
      .groupBy(prefixCols.map(col): _*)
      .agg(
        countDistinct(col(peerCol)).as("num_peers"),
        countDistinct(when(!col(withdrawnCol), col(peerCol))).as("advertising_peers"),
        countDistinct(when(col(withdrawnCol), col(peerCol))).as("withdrawn_peers"),
        every(col(withdrawnCol)).as("iswithdrawn"), // col(), not expr interpolation: names needing backticks must work
        max(col(tsCol)).as("last_ts"),
        min(col(tsCol)).as("first_ts"))

  /** A8: aggregation-of-aggregation (`2_aggregations.sql:471-492`):
    * avg/min/max of per-bucket counts, per key. The average divides by
    * `count(c)` (non-null rows) to match SQL AVG semantics when the
    * value column has nulls; the explicit sum/count form (vs `avg`) is
    * kept for bit-exact DuckDB parity on integer inputs.
    */
  def aggOfAgg(perBucket: DataFrame, keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty,
      "aggOfAgg needs at least one value column (a bare group count is groupBy(...).count())")
    val aggs = valueCols.flatMap { c =>
      Seq(
        (sum(col(c)).cast("double") / count(col(c))).as(s"avg_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"))
    }
    perBucket.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Retention (§2.8): drop log rows older than the cutoff — at scale
    * this is a partition drop, expressed here as the equivalent filter.
    */
  def applyRetention(log: DataFrame, epochMicrosCol: String, cutoffMicros: Long): DataFrame =
    log.filter(col(epochMicrosCol) >= lit(cutoffMicros))

  /** Gap-based sessionization: events of one key belong to the same
    * session until a silence longer than `gapMicros` splits them.
    * Emits `session_idx` (1-based, per key, in time order) on every
    * row — the standard telemetry/training-log grouping primitive
    * (per-user browsing sessions, per-router flap episodes).
    *
    * Plan shape: two windows over the SAME (key, ts, tieBreak)
    * partitioning+ordering — lag to detect breaks, running sum to
    * number them — so the plan sorts each key group once. Partitions
    * are per-key: the 100 TB shape holds as long as no single key
    * dominates (same contract as every per-entity window here; salt a
    * pathological key upstream with [[Skew]]).
    *
    * All integer arithmetic (epoch micros), deterministic total order
    * via `tieBreak` — reproducible across engines and runs. Rows with a
    * NULL timestamp sort last (matching SQL-default NULLS LAST) and
    * collapse into ONE trailing "untimed" session per key — they are
    * never silently dropped, and never fragment into one session each.
    */
  def sessionize(events: DataFrame, keyCols: Seq[String], epochMicrosCol: String,
                 gapMicros: Long, tieBreak: Seq[String] = Seq.empty): DataFrame = {
    require(gapMicros > 0, s"gapMicros ($gapMicros) must be positive")
    val ts = col(epochMicrosCol)
    val order = ts.asc_nulls_last +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val prev = lag(ts, 1).over(w)
    // under nulls-last ordering, prev.isNull for a non-null ts can only
    // mean "first row of the key"; a null ts breaks once (prev non-null)
    // then chains (prev null)
    val isBreak =
      when(row_number().over(w) === 1, 1L)
        .when(ts.isNull, when(prev.isNotNull, 1L).otherwise(0L))
        .when(ts - prev > gapMicros, 1L)
        .otherwise(0L)
    events.withColumn("session_idx",
      sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Top session paths: the first `k` event types of each
    * [[sessionize]] session joined into a `'>'`-separated path string,
    * aggregated to (path, n_sessions, n_users) — the navigation-flow
    * profile ("what do sessions DO") layered on the same gap rule as
    * the session table, so the two reports never disagree on session
    * boundaries.
    *
    * Determinism: the per-session order is (ts nulls-last, tieCol) —
    * the sessionize order — and the path is built by sorting the
    * collected (rank, type) pairs, not by collect order, so the string
    * is partition-order-free.
    *
    * Plan shape: one per-key window pass (shared shape with
    * sessionize), one hash aggregate per session truncated at k
    * events, one hash aggregate over paths. Path cardinality is
    * bounded by |event types|^k, not the corpus.
    */
  def sessionPaths(events: DataFrame, keyCol: String, epochMicrosCol: String,
                   typeCol: String, tieCol: String, gapMicros: Long,
                   k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val s = sessionize(events, Seq(keyCol), epochMicrosCol, gapMicros,
      Seq(tieCol))
    val w = Window.partitionBy(col(keyCol), col("session_idx"))
      .orderBy(col(epochMicrosCol).asc_nulls_last, col(tieCol).asc)
    s.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__rn"), col(typeCol).as("t")))),
        x => x.getField("t")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col(keyCol)).as("n_users"))
  }

  def incrementalSince(df: DataFrame, epochMicrosCol: String, horizonMicros: Long): DataFrame = {
    val wm = df.agg((max(col(epochMicrosCol)) - lit(horizonMicros)).as("__wm"))
    df.crossJoin(broadcast(wm))
      .filter(col(epochMicrosCol) >= col("__wm"))
      .drop("__wm")
  }

  /** Per-entity activity feature vector — the feature-store primitive
    * that turns an event log into one training row per user: event
    * count, distinct behavior types, session count ([[sessionize]]'s
    * gap rule folded into one window pass), activity span, and a
    * quantized value mean. Everything derives from exact longs (value
    * is taken as ⌊100·v⌋ cents; the mean is one ⌊10⁴·s/n⌋ division of
    * exact longs — engine-identical), so the row is oracle-exact.
    *
    * Plan shape: one per-user window pass (the sort any sessionization
    * pays, partitioned by user — never global) feeding one hash
    * aggregate keyed by user. At 100 TB the shuffle carries
    * (user, event) rows once; skewed users are bounded by their own
    * event counts, not the corpus.
    */
  /** Trailing-window rate anomaly detection: per (key, time bucket),
    * the z-score of the bucket's event count against the previous
    * `window` buckets — the route-flap / event-storm detector layered
    * over the A1-style change-rate tables. Buckets are DENSIFIED
    * (zero-count minutes exist — skipping them would bias the trailing
    * mean), bounded by the key's time span over `bucketSec`, not by
    * event volume. z = (c − mean)/σ from exact long window sums,
    * emitted ⌊100·z⌋, null while the window is partial or flat (σ=0).
    *
    * Plan shape: one count aggregate, one per-key sequence explode to
    * the dense bucket grid, one per-key window ordered by bucket (a
    * key's buckets, never the corpus), all shuffles on the key.
    */
  def rateAnomaly(events: DataFrame, keyCol: String,
                  epochMicrosCol: String, bucketSec: Long,
                  window: Int): DataFrame = {
    require(bucketSec > 0, s"bucketSec ($bucketSec) must be positive")
    require(window >= 2, s"window ($window) must be >= 2")
    val counts = events
      .select(col(keyCol), timeBucketSec(col(epochMicrosCol), bucketSec)
        .as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("__c"))
    val span = counts.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
    val dense = span
      .select(col(keyCol), explode(sequence(col("__b0"), col("__b1"),
        lit(bucketSec))).as("bucket"))
      .join(counts, Seq(keyCol, "bucket"), "left")
      .withColumn("c", coalesce(col("__c"), lit(0L)))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket").asc)
      .rowsBetween(-window, -1)
    val mean = col("__s").cast("double") / col("__n").cast("double")
    val variance = col("__ss").cast("double") / col("__n").cast("double") -
      mean * mean
    dense
      .withColumn("__s", sum(col("c")).over(w))
      .withColumn("__ss", sum(col("c") * col("c")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("z_q",
        when(col("__n") === window && variance > 0,
          floor(lit(100.0) * (col("c").cast("double") - mean) /
            sqrt(variance)).cast("long")))
      .select(col(keyCol), col("bucket"), col("c"), col("z_q"))
  }

  /** Three-step funnel: per user, the earliest completion of
    * step1 → step2 → step3 where each step follows the previous within
    * `horizonMicros` — the activation-flow question asked of any event
    * log. Earliest-completion semantics (the first qualifying step-2
    * after step-1, then the first qualifying step-3) — order-total and
    * engine-exact on integer micros.
    *
    * Plan shape: three conditional min-aggregates keyed by user with
    * co-partitioned joins between them — no per-user sort, no window.
    */
  def funnel(events: DataFrame, userCol: String, epochMicrosCol: String,
             typeCol: String, steps: Seq[String],
             horizonMicros: Long): DataFrame = {
    require(steps.length == 3, "funnel expects exactly 3 steps")
    require(horizonMicros > 0, "horizonMicros must be positive")
    val ev = events.select(col(userCol), col(typeCol).as("__t"),
      col(epochMicrosCol).cast("long").as("__ts"))
    val s1 = ev.filter(col("__t") === steps(0))
      .groupBy(col(userCol)).agg(min(col("__ts")).as("t1_us"))
    val s2 = ev.filter(col("__t") === steps(1))
      .join(s1, Seq(userCol))
      .filter(col("__ts") > col("t1_us") &&
        col("__ts") <= col("t1_us") + horizonMicros)
      .groupBy(col(userCol)).agg(min(col("__ts")).as("t2_us"))
    val s3 = ev.filter(col("__t") === steps(2))
      .join(s2, Seq(userCol))
      .filter(col("__ts") > col("t2_us") &&
        col("__ts") <= col("t2_us") + horizonMicros)
      .groupBy(col(userCol)).agg(min(col("__ts")).as("t3_us"))
    s1.join(s2, Seq(userCol), "left").join(s3, Seq(userCol), "left")
      .select(col(userCol), col("t1_us"), col("t2_us"), col("t3_us"),
        when(col("t3_us").isNotNull, 3)
          .when(col("t2_us").isNotNull, 2)
          .otherwise(1).as("stage"))
  }

  /** First-order Markov transition matrix over per-entity event
    * sequences: counts of consecutive (from → to) event types (ordered
    * by time, ties by `tieCol` — a total order, so the transition set
    * is engine-exact) plus the row-normalized transition probability
    * ⌊10⁶·c/row_total⌋ — the session-modeling / next-event-prediction
    * summary of an event log.
    *
    * Plan shape: one per-entity window pass (lag over the entity's own
    * events) and two hash aggregates over the types² grid.
    */
  def markovTransitions(events: DataFrame, entityCol: String,
                        epochMicrosCol: String, typeCol: String,
                        tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(epochMicrosCol).asc, col(tieCol).asc)
    val tr = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = tr.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_n"))
    tr.join(broadcast(rowTot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("row_n"),
        floor(lit(1000000.0) * col("n").cast("double") /
          col("row_n").cast("double")).cast("long").as("p_q"))
  }

  /** Cohort retention matrix: users grouped by first-seen bucket
    * (the cohort), counted in every later bucket they appear in —
    * (cohort, offset) → distinct users, the standard retention
    * triangle. Exact integer bucketing end to end.
    *
    * Plan shape: per-user min (one aggregate), distinct (user, bucket)
    * activity (one aggregate), join on user, count per (cohort,
    * offset) — all shuffles keyed, output bounded by buckets².
    */
  def cohortRetention(events: DataFrame, userCol: String,
                      epochMicrosCol: String,
                      bucketSec: Long): DataFrame = {
    require(bucketSec > 0, s"bucketSec ($bucketSec) must be positive")
    val act = events
      .select(col(userCol), timeBucketSec(col(epochMicrosCol), bucketSec)
        .as("bucket"))
      .distinct()
    val cohort = act.groupBy(col(userCol))
      .agg(min(col("bucket")).as("cohort"))
    act.join(cohort, Seq(userCol))
      .withColumn("offset",
        ((col("bucket") - col("cohort")) / lit(bucketSec)).cast("long"))
      .groupBy(col("cohort"), col("offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  def userActivityFeatures(events: DataFrame, userCol: String,
                           epochMicrosCol: String, typeCol: String,
                           valueCol: String, gapMicros: Long,
                           tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val sess = sessionize(events, Seq(userCol), epochMicrosCol, gapMicros,
      tieBreak)
    sess
      .withColumn("__vq", floor(col(valueCol).cast("double") * lit(100.0))
        .cast("long"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col(typeCol)).as("n_types"),
        max(col("session_idx")).as("n_sessions"),
        min(col(epochMicrosCol)).as("first_us"),
        max(col(epochMicrosCol)).as("last_us"),
        sum(col("__vq")).as("value_cents"))
      .withColumn("mean_value_q",
        floor(lit(10000.0) * col("value_cents").cast("double") /
          col("n_events").cast("double")).cast("long"))
  }

  /** Regular-grid resampling of an irregular per-key time series, with
    * both fill rules at once: last-observation-carried-forward
    * (`locf_q`) and linear interpolation between the surrounding
    * observations (`lin_q`) — the feature-store step that turns raw
    * event streams into fixed-cadence training features.
    *
    * Grid: every multiple of `stepMicros` in [min ts, max ts] of the
    * key. Observations are pre-deduplicated to one per (key, ts) by
    * highest `tieCol` (latest-writer-wins, deterministic). At a grid
    * point g with straddling observations (t0 ≤ g, v0) and (t1 > g,
    * v1): locf = v0 and lin = ⌊v0 + (v1−v0)·((g−t0)/(t1−t0))⌋ with the
    * fp ops in exactly that order (one double division, one multiply,
    * one add — engine-reproducible); where no later observation exists
    * (g at/after the key's last event) lin = locf. A grid start always
    * has an observation at or before it by construction, so locf is
    * never null.
    *
    * Plan shape: one UNION of observations and generated grid rows,
    * then ONE window sort per key (forward pass carries (t0, v0),
    * backward pass carries (t1, v1)) — no join, no per-grid-point
    * probe. The generated grid is ≤ range/step rows per key; the sort
    * is the same per-key sort any as-of formulation needs, paid once
    * for both fill rules.
    */
  def gridResample(obs: DataFrame, keyCol: String, tsCol: String,
                   valueQCol: String, stepMicros: Long,
                   tieCol: String): DataFrame = {
    require(stepMicros > 0, s"stepMicros ($stepMicros) must be positive")
    val o = obs.select(col(keyCol), col(tsCol).cast("long").as("__ts"),
        col(valueQCol).cast("long").as("__v"), col(tieCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol), col("__ts"))
          .orderBy(col(tieCol).desc)))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__ts"), col("__v"), lit(0).as("__tag"))
    val grid = obs.select(col(keyCol), col(tsCol).cast("long").as("__ts"))
      .groupBy(col(keyCol))
      .agg(min(col("__ts")).as("__lo"), max(col("__ts")).as("__hi"))
      // first multiple of step ≥ lo … last multiple ≤ hi (non-negative
      // epoch micros ⇒ `div` is floor division); a key whose span
      // contains no multiple yields no grid rows (empty array, not a
      // reversed-bounds sequence() error)
      .withColumn("__s",
        expr(s"((__lo + ${stepMicros - 1}L) div ${stepMicros}L) * ${stepMicros}L"))
      .withColumn("__e", expr(s"(__hi div ${stepMicros}L) * ${stepMicros}L"))
      .withColumn("__g", explode(when(col("__s") <= col("__e"),
        sequence(col("__s"), col("__e"), lit(stepMicros)))
        .otherwise(array().cast("array<long>"))))
      .select(col(keyCol), col("__g").as("__ts"),
        lit(null).cast("long").as("__v"), lit(1).as("__tag"))
    // obs sort BEFORE the grid row at the same ts: an observation
    // exactly on the grid is "carried" into it
    val wFwd = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBwd = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = o.unionByName(grid)
      .withColumn("__t0", last(when(col("__tag") === 0, col("__ts")),
        ignoreNulls = true).over(wFwd))
      .withColumn("__v0", last(when(col("__tag") === 0, col("__v")),
        ignoreNulls = true).over(wFwd))
      .withColumn("__t1", first(when(col("__tag") === 0, col("__ts")),
        ignoreNulls = true).over(wBwd))
      .withColumn("__v1", first(when(col("__tag") === 0, col("__v")),
        ignoreNulls = true).over(wBwd))
      .filter(col("__tag") === 1)
    filled.select(col(keyCol), col("__ts").as("grid_ts"),
      col("__v0").as("locf_q"),
      when(col("__t1").isNull || col("__t1") === col("__t0"), col("__v0"))
        .otherwise(floor(col("__v0").cast("double") +
          (col("__v1") - col("__v0")).cast("double") *
            ((col("__ts") - col("__t0")).cast("double") /
              (col("__t1") - col("__t0")).cast("double"))).cast("long"))
        .as("lin_q"))
  }

  /** Linear (equal-credit) conversion attribution: for every
    * conversion event, the touch events of the same key within the
    * trailing `horizonMicros` window (touch_ts ∈ [conv_ts − horizon,
    * conv_ts], both ends inclusive) each receive credit
    * ⌊10⁶ / n_touches⌋ — the multi-touch answer to "which upstream
    * interactions produced this outcome", where last-touch alone
    * over-credits the final click.
    *
    * Built ON [[IntervalJoin.overlapJoin]] (conversions become
    * half-open windows [conv_ts − h, conv_ts + 1), touches become unit
    * points), so the pairing is the chunked equi-join with the
    * ownership filter — no per-conversion scan, no theta join. Credit
    * is exact integer division; conversions with zero touches are
    * absent (nothing to credit).
    */
  def linearAttribution(events: DataFrame, keyCol: String,
                        epochMicrosCol: String, idCol: String,
                        typeCol: String, convType: String,
                        touchTypes: Seq[String],
                        horizonMicros: Long): DataFrame = {
    require(horizonMicros > 0, s"horizonMicros must be positive")
    require(touchTypes.nonEmpty, "touchTypes must not be empty")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(keyCol), col(idCol).as("conv_id"),
        (col(epochMicrosCol) - lit(horizonMicros)).as("__cs"),
        (col(epochMicrosCol) + lit(1L)).as("__ce"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(keyCol), col(idCol).as("touch_id"),
        col(epochMicrosCol).as("__ts"),
        (col(epochMicrosCol) + lit(1L)).as("__te"))
    val pairs = IntervalJoin.overlapJoin(conv, touch, Seq(keyCol),
      "__cs", "__ce", "__ts", "__te", chunk = horizonMicros)
    val n = pairs.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"))
    pairs.join(n, Seq("conv_id"))
      .select(col(keyCol), col("conv_id"), col("touch_id"),
        col("n_touches"),
        expr("1000000L div n_touches").as("credit_q"))
  }

  /** One-sided CUSUM shift detection per group: over the bucketed
    * series x_b (ordered by bucket), the statistic
    *
    *   S_b = max(0, S_{b−1} + (x_b − k))
    *
    * which accumulates evidence of a sustained upward shift past the
    * tolerated drift `k` and alarms when S ≥ `h` — the sequential
    * detector that catches slow sustained rate changes a per-bucket
    * z-score (q156) never trips on.
    *
    * The recurrence LOOKS inherently sequential, but S_b equals the
    * prefix-sum drawup: with P_b = Σ_{j≤b}(x_j − k),
    * S_b = P_b − min(0, min_{j≤b} P_j) — two cumulative windows over
    * the bounded per-group bucket series, all exact integer
    * arithmetic. Caller supplies a DENSIFIED frame (missing buckets as
    * x = 0) when absence should count as evidence.
    */
  def cusumShift(buckets: DataFrame, groupCol: String, bucketCol: String,
                 xCol: String, k: Long, h: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("__p", sum(col(xCol).cast("long") - lit(k)).over(w))
      .withColumn("__minp", least(min(col("__p")).over(w), lit(0L)))
      .select(col(groupCol), col(bucketCol), col(xCol).cast("long").as("x"),
        (col("__p") - col("__minp")).as("cusum"),
        (col("__p") - col("__minp") >= lit(h)).as("alarm"))
  }

  /** Page–Hinkley upward-drift detector per group: where CUSUM
    * ([[cusumShift]]) tests against a FIXED reference level k, PH
    * tests each observation against the series' own RUNNING mean, so
    * it adapts to groups whose base rates differ by orders of
    * magnitude without per-group tuning:
    *
    *   d_t = x_t − x̄_t − δ,   U_T = Σ_{t≤T} d_t,
    *   PH_T = U_T − min_{t≤T} U_t,   alarm when PH_T ≥ λ.
    *
    * Exactness: with inclusive prefix sum P_t and row number t, the
    * deviation is quantized to an exact integer BEFORE the order-free
    * cumulative sum — d_tq = (10⁶·(t·x_t − P_t)) div t − δ_q, pure
    * BIGINT arithmetic (no fp anywhere), so the detector is
    * bit-reproducible and oracle-matchable. δ_q and λ_q are the
    * caller's drift/threshold at the same 10⁶ scale.
    *
    * Plan shape: one per-group sort feeding three cumulative windows
    * (prefix sum, running deviation sum, running min) — identical
    * scale story to [[cusumShift]]: cost is one shuffle on the group
    * key and the per-group bucket series is bounded by the time span,
    * never by corpus rows.
    */
  def pageHinkley(buckets: DataFrame, groupCol: String, bucketCol: String,
                  xCol: String, deltaQ: Long, lambdaQ: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col(xCol).cast("long")
    buckets
      .withColumn("__t", count(lit(1)).over(w))
      .withColumn("__p", sum(x).over(w))
      // dec38: 10⁶·t·x wraps int64 once bucket values reach ~1e9 over a
      // ~1e5-bucket series — ordinary at full event volume
      .withColumn("__dq",
        expr(s"(CAST(1000000 AS DECIMAL(38,0)) * " +
          s"(CAST(__t AS DECIMAL(38,0)) * CAST($xCol AS BIGINT) - __p)) div __t")
          - lit(deltaQ))
      .withColumn("__u", sum(col("__dq")).over(w))
      .withColumn("__minu", least(min(col("__u")).over(w), lit(0L)))
      .select(col(groupCol), col(bucketCol), x.as("x"),
        (col("__u") - col("__minu")).as("ph_q"),
        (col("__u") - col("__minu") >= lit(lambdaQ)).as("alarm"))
  }

  /** Seasonal-naive forecast backtest with MASE (mean absolute scaled
    * error) per group: the standard "is this series forecastable, and
    * does its seasonality carry signal" audit run before trusting any
    * per-source rate model.
    *
    * The first ⌈trainPct %⌉ of each group's buckets are the training
    * window; every later bucket t is forecast by the seasonal-naive
    * rule ŷ_t = y_{t−season}. MASE scales the test MAE by the
    * in-sample one-step naive MAE (Hyndman–Koehler), so scores are
    * comparable across groups with wildly different volumes:
    *
    *   MASE = (Σ_test |y_t − y_{t−s}| / n_test)
    *        / (Σ_{t=2..n_train} |y_t − y_{t−1}| / (n_train−1))
    *
    * Exactness: both numerators are exact integer sums of absolute
    * differences of counts; the single final division is computed as
    * one integer floor-div at 10⁶ scale — no fp at all. Groups whose
    * in-sample naive MAE is zero (constant training series) emit NULL.
    *
    * Plan shape: one per-group sort feeding two lag windows and one
    * hash agg; caller supplies a densified frame (q180's machinery) so
    * lag distances are uniform.
    */
  def maseBacktest(buckets: DataFrame, groupCol: String, bucketCol: String,
                   xCol: String, season: Int, trainPct: Int): DataFrame = {
    val ws = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
    val x = col(xCol).cast("long")
    val staged = buckets
      .withColumn("__t", row_number().over(ws))
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy(col(groupCol))))
      .withColumn("__ntr",
        expr(s"(__n * $trainPct + 99L) div 100L"))
      .withColumn("__lag1", lag(x, 1).over(ws))
      .withColumn("__lags", lag(x, season).over(ws))
    staged.groupBy(col(groupCol))
      .agg(
        max(col("__ntr")).as("n_train"),
        max(col("__n") - col("__ntr")).as("n_test"),
        sum(when(col("__t") > lit(1) && col("__t") <= col("__ntr"),
          abs(x - col("__lag1"))).otherwise(lit(0L))).as("naive_mae_num"),
        sum(when(col("__t") > col("__ntr") && col("__lags").isNotNull,
          abs(x - col("__lags"))).otherwise(lit(0L))).as("test_mae_num"),
        sum(when(col("__t") > col("__ntr") && col("__lags").isNotNull,
          lit(1L)).otherwise(lit(0L))).as("n_scored"))
      // dec38 both sides: the error-sum × count triple products wrap
      // int64 at corpus-scale per-bucket magnitudes
      .withColumn("mase_q",
        when(col("naive_mae_num") > 0 && col("n_scored") > 0,
          expr("(CAST(1000000 AS DECIMAL(38,0)) * test_mae_num * (n_train - 1L)) div " +
            "(CAST(n_scored AS DECIMAL(38,0)) * naive_mae_num)")))
      .select(col(groupCol), col("n_train"), col("n_test"),
        col("n_scored"), col("naive_mae_num"), col("test_mae_num"),
        col("mase_q"))
  }

  /** Quantile (pinball) loss backtest — [[maseBacktest]]'s sibling for
    * ASYMMETRIC forecast evaluation: scoring the seasonal-naive
    * forecast under the τ-quantile loss
    *
    *   L_τ(e) = max(τ·e, (τ−1)·e),   e = y_t − ŷ_t,  ŷ_t = y_{t−s}
    *
    * which is what capacity planning actually minimizes (a τ = 0.9
    * loss punishes under-forecasting 9× over-forecasting). With
    * rational τ = tauNum/tauDen the per-point loss times tauDen is the
    * EXACT integer max(tauNum·e, (tauNum−tauDen)·e), so the summed
    * loss and the single mean division are pure BIGINT:
    * mean_q = (10⁶·Σ) div (tauDen·n).
    *
    * Same plan as maseBacktest: one per-group sort, one lag window,
    * one hash agg.
    */
  def pinballBacktest(buckets: DataFrame, groupCol: String,
                      bucketCol: String, xCol: String, season: Int,
                      trainPct: Int, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauDen > 0 && tauNum > 0 && tauNum < tauDen,
      s"tau ($tauNum/$tauDen) must be in (0, 1)")
    val ws = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
    val x = col(xCol).cast("long")
    val staged = buckets
      .withColumn("__t", row_number().over(ws))
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy(col(groupCol))))
      .withColumn("__ntr", expr(s"(__n * $trainPct + 99L) div 100L"))
      .withColumn("__e", x - lag(x, season).over(ws))
    staged
      .filter(col("__t") > col("__ntr") && col("__e").isNotNull)
      .withColumn("__l",
        greatest(lit(tauNum.toLong) * col("__e"),
          lit((tauNum - tauDen).toLong) * col("__e")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("__l")).as("pinball_num"))
      .select(col(groupCol), col("n_scored"), col("pinball_num"),
        // dec38: 10⁶·Σloss wraps int64 past ~9.2e12 loss units
        expr(s"(CAST(1000000 AS DECIMAL(38,0)) * pinball_num) div " +
          s"(${tauDen}L * n_scored)").as("pinball_mean_q"))
  }

  /** Pairwise association rules over per-entity item baskets
    * (market-basket on event types, tag co-occurrence, …): for every
    * ORDERED pair a→b of distinct items co-present in ≥ `minCount`
    * baskets,
    *
    *   support_q = ⌊10⁶·n_ab/N⌋   conf_q = ⌊10⁶·n_ab/n_a⌋
    *   lift_q    = ⌊10⁶·n_ab·N/(n_a·n_b)⌋
    *
    * from exact integer counts (decimal product for the lift
    * numerator), one correctly-rounded divide each — the q188
    * reproducibility pattern.
    *
    * Plan: distinct (entity, item) baskets, a per-entity self-join
    * whose fan-out is k² per basket with k = basket size (bounded by
    * the ITEM vocabulary, e.g. event types — never corpus rows), one
    * hash agg to the pair table, then broadcast joins of the bounded
    * per-item table. `minCount` prunes the long tail before the
    * output.
    */
  def assocRules(df: DataFrame, entityCol: String, itemCol: String,
                 minCount: Long = 1L): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // compute-once: baskets feeds the self-join twice plus two
    // aggregate subtrees — one corpus scan, not four
    val baskets = df.select(col(entityCol).as("__e"), col(itemCol).as("__i"))
      .na.drop().distinct()
      .mat
    val nEnt = baskets.agg(countDistinct(col("__e")).as("__nn"))
    val item = baskets.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
    val pairs = baskets
      .join(baskets.select(col("__e"), col("__i").as("__j")), Seq("__e"))
      .filter(col("__i") =!= col("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(broadcast(item.select(col("__i"), col("__ni").as("__na"))),
        Seq("__i"))
      .join(broadcast(item.select(col("__i").as("__j"),
        col("__ni").as("__nb"))), Seq("__j"))
      .crossJoin(broadcast(nEnt))
      .select(col("__i").as("antecedent"), col("__j").as("consequent"),
        col("n_ab"),
        floor(lit(1000000.0) * col("n_ab").cast("double") /
          col("__nn").cast("double")).cast("long").as("support_q"),
        floor(lit(1000000.0) * col("n_ab").cast("double") /
          col("__na").cast("double")).cast("long").as("conf_q"),
        floor(lit(1000000.0) * (dec(col("n_ab")) * dec(col("__nn")))
          .cast("double") /
          (dec(col("__na")) * dec(col("__nb"))).cast("double"))
          .cast("long").as("lift_q"))
  }

  /** Weekday seasonality profile per group: counts and quantized
    * shares by day-of-week, computed as PURE integer arithmetic on
    * epoch micros — dow = (epochDays + 3) mod 7 with 0 = Monday
    * (1970-01-01 was a Thursday), no calendar/timezone function on
    * either engine, so the oracle mirrors the exact formula. The
    * weekly-rhythm audit (a "user events" source with a flat weekend
    * is bot traffic; an events table with a missing Sunday is a
    * dropped partition).
    *
    * Plan: scan + (groups × 7) hash agg; per-group totals derived from
    * the grid.
    */
  def weekdayProfile(events: DataFrame, groupCol: String,
                     epochMicrosCol: String): DataFrame = {
    // integer div, NOT double /: a double quotient truncates wrong one
    // ulp below an exact day boundary
    val dow = pmod(expr(s"`$epochMicrosCol` div 86400000000L") + 3, lit(7L))
    val grid = events.select(col(groupCol), dow.as("dow"))
      .groupBy(col(groupCol), col("dow"))
      .agg(count(lit(1)).as("n"))
      .mat
    val totals = grid.groupBy(col(groupCol)).agg(sum(col("n")).as("__tot"))
    grid.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("dow"), col("n"),
        floor(lit(1000000.0) * col("n").cast("double") /
          col("__tot").cast("double")).cast("long").as("share_q"))
  }

  /** RFM (recency / frequency / monetary) user segmentation: per-user
    * last-activity micros, event count, and exact decimal(18,2) value
    * sum (in cents), each quantile-bucketed into k bins by EXACT
    * global rank — the classic CRM/engagement segmentation, here with
    * every bucket boundary reproducible on any engine.
    *
    * Ranking is [[graft.operators.Quantiles.exactRanks]] (bucket-count
    * offsets collected driver-side + within-bucket windows — no
    * single-partition global sort), ties broken by the user id, bin =
    * ((rank−1)·k) div n. Bins are 1..k, larger = higher metric, so
    * `rfm_code = r·100 + f·10 + m` puts the most-recent/most-active/
    * highest-value users at k·111.
    *
    * @return (user, last_us, freq, monetary_cents, r_bin, f_bin,
    *         m_bin, rfm_code)
    */
  def rfmSegments(events: DataFrame, userCol: String,
                  epochMicrosCol: String, valueCol: String,
                  k: Int = 4): DataFrame = {
    require(k >= 2 && k <= 10, s"k ($k) must be in [2, 10]")
    val per = events.groupBy(col(userCol))
      .agg(max(col(epochMicrosCol)).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__mon"))
      .withColumn("monetary_cents", (col("__mon") * 100).cast("long"))
      .withColumn("__all", lit("all"))
      .mat // feeds three rank passes + the join
    def binOf(metric: String, width: Long, out: String): DataFrame =
      graft.operators.Quantiles.exactRanks(
        per.select(col(userCol), col("__all"), col(metric)),
        "__all", metric, width, Seq(userCol))
        .select(col(userCol),
          (expr(s"((rank - 1) * ${k}L) div grp_n") + 1).as(out))
    per
      .join(binOf("last_us", 86400000000L, "r_bin"), Seq(userCol))
      .join(binOf("freq", 16L, "f_bin"), Seq(userCol))
      .join(binOf("monetary_cents", 100000L, "m_bin"), Seq(userCol))
      .select(col(userCol), col("last_us"), col("freq"),
        col("monetary_cents"), col("r_bin"), col("f_bin"), col("m_bin"),
        (col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin"))
          .as("rfm_code"))
  }

  /** Single-changepoint detection by binary segmentation over a
    * bucketed per-group series: the split position t (1 ≤ t < B over
    * the ORDERED buckets) maximizing the between-segment variance
    * reduction — equivalently, with prefix sum S_t and totals (S, B),
    *
    *   score(t) ∝ (S_t·B − S·t)² / (t·(B − t))
    *
    * (the k=1 CUSUM/binary-segmentation objective; [[cusumShift]] is
    * the one-sided drawup variant, this is the two-sided level-shift
    * locator). The numerator is an exact decimal square; score_q =
    * ⌊num/den⌋ in ONE double division per candidate, argmax by
    * (score_q DESC, t ASC) — a deterministic total order.
    *
    * Plan: per-group window prefix sums over the BOUNDED bucket grid
    * (never corpus rows), one row_number window for the argmax.
    *
    * @return (group, n_buckets, split_after, n_left, score_q,
    *         mean_left_q, mean_right_q) — split_after = the bucket
    *         value ENDING the left segment; means ⌊10⁶·⌋
    */
  def binsegSplit(buckets: DataFrame, groupCol: String, bucketCol: String,
                  valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val wo = Window.partitionBy(col(groupCol)).orderBy(col("__b").asc)
    val wg = Window.partitionBy(col(groupCol))
    val pre = buckets.select(col(groupCol), col(bucketCol).as("__b"),
        col(valueCol).cast("long").as("__v"))
      .withColumn("__t", row_number().over(wo))
      .withColumn("__st", sum(col("__v")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__s", sum(col("__v")).over(wg))
      .filter(col("__t") < col("__n")) // splits AFTER the last bucket excluded
    val num = (d(col("__st")) * col("__n") - d(col("__s")) * col("__t"))
    val scored = pre.select(col(groupCol), col("__b"), col("__t"),
      col("__n"), col("__st"), col("__s"),
      floor((num * num).cast("double") /
        (d(col("__t")) * (d(col("__n")) - col("__t"))).cast("double"))
        .cast("long").as("score_q"))
    val wr = Window.partitionBy(col(groupCol))
      .orderBy(col("score_q").desc, col("__t").asc)
    scored.withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("__n").as("n_buckets"),
        col("__b").as("split_after"), col("__t").cast("long").as("n_left"),
        col("score_q"),
        floor(lit(1000000.0) * col("__st").cast("double") /
          col("__t").cast("double")).cast("long").as("mean_left_q"),
        floor(lit(1000000.0) * (col("__s") - col("__st")).cast("double") /
          (col("__n") - col("__t")).cast("double")).cast("long")
          .as("mean_right_q"))
  }

  /** Kaplan–Meier retention curve over per-user activity spans — the
    * right-censored survival estimator (Kaplan & Meier 1958) behind
    * every honest churn/retention read: a user whose last activity is
    * within `horizonMicros` of the corpus end has NOT churned — they
    * are CENSORED at the observation edge, and counting them as
    * churned (the naive retention query) biases survival down.
    *
    * Per user: entry = first event, exit = last event. Churn event
    * observed iff last ≤ max_ts − horizon (the user then went quiet
    * for a full horizon inside the window); otherwise censored with
    * duration (max_ts − first). Durations land on whole days
    * (integer div — no calendar functions). Over the ordered distinct
    * durations t with d_t events and n_t at-risk (duration ≥ t):
    *
    *   S(t) = Π_{u ≤ t} (1 − d_u/n_u)
    *
    * computed on the ⌊10¹²·ln⌋ grid ([[Robust.hillTail]] contract):
    * each factor contributes ⌊10¹²·ln((n_u−d_u)/n_u)⌋ (one exact
    * long-ratio divide + one ln, both correctly-rounded doubles on any
    * engine), the cumulative sum is exact, and
    * surv_q = ⌊10⁶·exp(cum/10¹²)⌋ — 0 from the first bucket where
    * n_u = d_u (everyone at risk churned; ln undefined, survival
    * exactly 0 thereafter).
    *
    * Plan shape: one per-user hash agg (corpus moves once), one
    * single-row max broadcast, one hash agg to the duration grid
    * (bounded: days in window), and windows over that grid only.
    *
    * @return one row per distinct duration day: (t_days, n_risk,
    *         d_events, n_censored, surv_q), ordered by t_days
    */
  def kaplanMeier(events: DataFrame, userCol: String,
                  epochMicrosCol: String, horizonMicros: Long): DataFrame = {
    require(horizonMicros >= 0, s"horizonMicros ($horizonMicros) must be >= 0")
    val day = 86400000000L
    val per = events
      .groupBy(col(userCol))
      .agg(min(col(epochMicrosCol)).as("__first"),
        max(col(epochMicrosCol)).as("__last"))
    val mx = per.agg(max(col("__last")).as("__mx"))
    val durs = per.crossJoin(broadcast(mx))
      .withColumn("__churn", col("__last") <= col("__mx") - lit(horizonMicros))
      .withColumn("__t",
        when(col("__churn"), expr(s"(__last - __first) div ${day}L"))
          .otherwise(expr(s"(__mx - __first) div ${day}L")))
    kmFromDurations(durs, "__t", "__churn")
  }

  /** Time-to-next-event survival — [[kaplanMeier]]'s per-event cousin
    * for inter-arrival analysis ("how long until a user acts again"):
    * every event is a subject whose duration is the gap to the SAME
    * user's next event (whole days, integer div); a user's last event
    * has no successor and is right-censored at the corpus edge
    * (max_ts − ts). The estimator itself is [[kmFromDurations]].
    *
    * Plan shape: one per-user window (lead over the user's own events,
    * ordered by (ts, id) — bounded per user, the sessionize contract),
    * one single-row max broadcast, then the bounded duration-grid
    * aggregation.
    */
  def interEventSurvival(events: DataFrame, userCol: String,
                         idCol: String, epochMicrosCol: String): DataFrame =
    kmFromDurations(
      interEventDurations(events, userCol, idCol, epochMicrosCol),
      "__t", "__obs")

  /** The per-event duration table behind [[interEventSurvival]] — one
    * row per event: the gap to the same user's next event in whole
    * days (`__t`), observed flag (`__obs`, false = right-censored at
    * the corpus edge), with `userCol` retained so callers can attach
    * cohort labels ([[logRank]]) or feed [[nelsonAalen]] directly.
    */
  def interEventDurations(events: DataFrame, userCol: String,
                          idCol: String, epochMicrosCol: String): DataFrame = {
    val day = 86400000000L
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(epochMicrosCol).asc, col(idCol).asc)
    val mx = events.agg(max(col(epochMicrosCol)).as("__mx"))
    events
      .withColumn("__next", lead(col(epochMicrosCol), 1).over(w))
      .crossJoin(broadcast(mx))
      .withColumn("__obs", col("__next").isNotNull)
      .withColumn("__t",
        when(col("__obs"), expr(s"(__next - `$epochMicrosCol`) div ${day}L"))
          .otherwise(expr(s"(__mx - `$epochMicrosCol`) div ${day}L")))
      .select(col(userCol), col("__t"), col("__obs"))
  }

  /** Nelson–Aalen cumulative-hazard estimator over the same subject
    * table as [[kmFromDurations]]: Ĥ(t) = Σ_{t_j ≤ t} d_j / n_j. Where
    * KM's product form needs ln/exp (quantized-ln contract), the NA
    * sum is PURE integer arithmetic — each hazard increment is the
    * exact (10¹²·d_j) div n_j and the cumulative sum never touches
    * fp — so the estimator is bit-reproducible on any engine, and is
    * the variance-stable choice for small risk sets.
    *
    * Plan: identical to kmFromDurations — one hash agg to the bounded
    * duration grid, two cumulative windows over it.
    *
    * @return (t_days, n_risk, d_events, n_censored, cumhaz_q)
    */
  def nelsonAalen(subjects: DataFrame, durationCol: String,
                  observedCol: String): DataFrame = {
    val durs = subjects
      .groupBy(col(durationCol).as("t_days"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("d_events"),
        sum(when(col(observedCol), 0L).otherwise(1L)).as("n_censored"))
    val wo = Window.orderBy(col("t_days").asc)
    val wCumPrev = wo.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durs
      .withColumn("__leave", col("d_events") + col("n_censored"))
      .withColumn("__tot", sum(col("__leave")).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_risk",
        col("__tot") - coalesce(sum(col("__leave")).over(wCumPrev), lit(0L)))
      // dec38: 10¹²·d_events wraps int64 once one duration bucket holds
      // >9.2e6 events (quotient ≤ 10¹² always fits the long result)
      .withColumn("__hq",
        expr("(CAST(1000000000000 AS DECIMAL(38,0)) * d_events) div n_risk"))
      .withColumn("cumhaz_q", sum(col("__hq")).over(wCum))
      .select(col("t_days"), col("n_risk"), col("d_events"),
        col("n_censored"), col("cumhaz_q"))
  }

  /** Two-group log-rank test over a subject table with a 0/1 cohort
    * column — "do these two cohorts churn at the same rate", the
    * survival-curve comparison that respects censoring (a plain
    * rate z-test does not). At each event time t_j with d_j total
    * events, n_j at risk and n_1j at risk in cohort 1:
    *
    *   O−E = Σ_j (d_1j − d_j·n_1j/n_j)
    *   V   = Σ_j d_j·(n_1j/n_j)·(1 − n_1j/n_j)·(n_j − d_j)/(n_j − 1)
    *   χ²  = (O−E)² / V                                  (~χ²₁)
    *
    * Determinism: the O−E term is the EXACT integer
    * (10⁹·(d_1j·n_j − d_j·n_1j)) div n_j (truncation-toward-zero on
    * both engines; fits int64 while 10⁹·d·n < 2⁶³, i.e. risk sets
    * into the millions); each variance term is one literal-identical
    * chain of correctly-rounded fp ops floored at 10⁹ BEFORE the
    * order-free sum (the q253 pattern); χ² is three mirrored fp ops
    * on the two quantized sums.
    *
    * Plan: one hash agg to the (t, cohort-pivoted) grid, per-cohort
    * cumulative windows over the bounded duration grid, one scalar
    * agg.
    *
    * @param groupCol integer column valued 0 or 1
    * @return one row (n_times, o1, o0, oe_q, v_q, chi_q)
    */
  def logRank(subjects: DataFrame, durationCol: String,
              observedCol: String, groupCol: String): DataFrame = {
    val g1 = (col(groupCol) === 1).cast("long")
    val grid = subjects
      .groupBy(col(durationCol).as("t_days"))
      .agg(
        sum(when(col(observedCol), g1).otherwise(0L)).as("d1"),
        sum(when(col(observedCol), lit(1L) - g1).otherwise(0L)).as("d0"),
        sum(g1).as("l1"),
        sum(lit(1L) - g1).as("l0"))
    val wo = Window.orderBy(col("t_days").asc)
    val wCumPrev = wo.rowsBetween(Window.unboundedPreceding, -1)
    val staged = grid
      .withColumn("__n1tot", sum(col("l1")).over(Window.partitionBy(lit(1))))
      .withColumn("__n0tot", sum(col("l0")).over(Window.partitionBy(lit(1))))
      .withColumn("n1",
        col("__n1tot") - coalesce(sum(col("l1")).over(wCumPrev), lit(0L)))
      .withColumn("n0",
        col("__n0tot") - coalesce(sum(col("l0")).over(wCumPrev), lit(0L)))
      .withColumn("nn", col("n1") + col("n0"))
      .withColumn("dd", col("d1") + col("d0"))
      .filter(col("dd") > 0)
      // dec38: d1·nn and dd·n1 are events×at-risk products — with 10⁹
      // on top they wrap int64 already at d1·nn > 9.2e9, a small study
      .withColumn("__oeq",
        expr("(CAST(1000000000 AS DECIMAL(38,0)) * " +
          "(CAST(d1 AS DECIMAL(38,0)) * nn - CAST(dd AS DECIMAL(38,0)) * n1)) div nn"))
      .withColumn("__vq",
        when(col("nn") > 1,
          floor(lit(1.0e9) *
            (col("dd").cast("double") * col("n1").cast("double") /
              col("nn").cast("double")) *
            ((col("nn") - col("n1")).cast("double") /
              col("nn").cast("double")) *
            ((col("nn") - col("dd")).cast("double") /
              (col("nn") - 1).cast("double"))).cast("long"))
          .otherwise(lit(0L)))
    staged.agg(
        count(lit(1)).as("n_times"),
        sum(col("d1")).as("o1"),
        sum(col("d0")).as("o0"),
        sum(col("__oeq")).as("oe_q"),
        sum(col("__vq")).as("v_q"))
      .withColumn("chi_q",
        when(col("v_q") > 0,
          floor(lit(1000000.0) *
            ((col("oe_q").cast("double") / lit(1.0e9)) *
              (col("oe_q").cast("double") / lit(1.0e9))) /
            (col("v_q").cast("double") / lit(1.0e9))).cast("long")))
  }

  /** The Kaplan–Meier product-limit estimator over an already-built
    * subject table: one row per subject with an integer duration and
    * an observed/censored flag. Shared tail of [[kaplanMeier]] /
    * [[interEventSurvival]]; see kaplanMeier's scaladoc for the
    * quantized-ln survival contract.
    */
  def kmFromDurations(subjects: DataFrame, durationCol: String,
                      observedCol: String): DataFrame = {
    val durs = subjects
      .groupBy(col(durationCol).as("t_days"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("d_events"),
        sum(when(col(observedCol), 0L).otherwise(1L)).as("n_censored"))
    // at-risk n_t = users with duration >= t = total - cum(users with dur < t)
    val wo = Window.orderBy(col("t_days").asc)
    val wCumPrev = wo.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durs
      .withColumn("__leave", col("d_events") + col("n_censored"))
      .withColumn("__tot", sum(col("__leave")).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_risk",
        col("__tot") - coalesce(sum(col("__leave")).over(wCumPrev), lit(0L)))
      .withColumn("__lnq",
        when(col("d_events") === 0, lit(0L))
          .when(col("d_events") < col("n_risk"),
            floor(lit(1.0e12) *
              log((col("n_risk") - col("d_events")).cast("double") /
                col("n_risk").cast("double"))).cast("long")))
      .withColumn("__dead",
        max((col("d_events") === col("n_risk")).cast("int")).over(wCum))
      .withColumn("surv_q",
        when(col("__dead") === 1, lit(0L))
          .otherwise(floor(lit(1000000.0) *
            exp(sum(col("__lnq")).over(wCum).cast("double") / lit(1.0e12)))
            .cast("long")))
      .select(col("t_days"), col("n_risk"), col("d_events"),
        col("n_censored"), col("surv_q"))
  }

  /** Classical additive seasonal decomposition of a daily count series
    * with weekly period (trend + seasonal + residual — the dashboard
    * view that separates "traffic is growing" from "it's just
    * Tuesday"). Per group:
    *
    *   trend_q(d)    = (10⁶ · Σ_{d−3..d+3} x) div 7      (centered MA-7,
    *                   exact integer, only days with a FULL window)
    *   detr_q(d)     = 10⁶·x_d − trend_q(d)
    *   seasonal_q(w) = ⌊mean of detr_q over weekday w⌋   (one fp floor
    *                   on an exact long sum — |Σ| ≪ 2⁵³ bound as in
    *                   Robust.theilSen)
    *   resid_q(d)    = detr_q(d) − seasonal_q(w(d))
    *
    * Weekday is the q231 contract: (epochDay + 3) mod 7 — pure integer
    * arithmetic, no calendar/timezone function on either engine.
    * Missing days inside the span are REAL zeros (densified grid, the
    * [[Stats.acf]] recipe).
    *
    * Plan: one hash agg to the (group, day) grid, one
    * sequence-explode densify bounded by the span, ONE per-group
    * range window for the moving average, one (group × 7) seasonal
    * agg broadcast back. Nothing row-scale shuffles twice.
    *
    * @return (group, day, x, trend_q, detr_q, seasonal_q, resid_q)
    *         for full-window days
    */
  def seasonalDecompose(events: DataFrame, groupCol: String,
                        epochMicrosCol: String): DataFrame = {
    val counts = events
      .select(col(groupCol).as("__g"),
        expr(s"`$epochMicrosCol` div 86400000000L").as("__day"))
      .groupBy(col("__g"), col("__day"))
      .agg(count(lit(1)).as("x"))
    val span = counts.groupBy(col("__g"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val dense = span
      .select(col("__g"),
        explode(sequence(col("__lo"), col("__hi"), lit(1L))).as("__day"))
      .join(counts, Seq("__g", "__day"), "left")
      .select(col("__g"), col("__day"), coalesce(col("x"), lit(0L)).as("x"))
    val wMa = Window.partitionBy(col("__g")).orderBy(col("__day"))
      .rangeBetween(-3L, 3L)
    val withMa = dense
      .withColumn("__wn", count(lit(1)).over(wMa))
      .withColumn("__s7", sum(col("x")).over(wMa))
      .filter(col("__wn") === 7)
      .withColumn("trend_q", expr("(1000000L * __s7) div 7"))
      .withColumn("detr_q", lit(1000000L) * col("x") - col("trend_q"))
      .withColumn("__dow", pmod(col("__day") + 3, lit(7L)))
      .mat
    val seasonal = withMa.groupBy(col("__g"), col("__dow"))
      .agg(floor(sum(col("detr_q")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("seasonal_q"))
    withMa.join(broadcast(seasonal), Seq("__g", "__dow"))
      .select(col("__g").as(groupCol), col("__day").as("day"), col("x"),
        col("trend_q"), col("detr_q"), col("seasonal_q"),
        (col("detr_q") - col("seasonal_q")).as("resid_q"))
  }

  /** Ordered event funnel ("how many users view → click → purchase,
    * in order, within the window"), FIRST-TOUCH semantics — the
    * step-COUNTS report complementing [[funnel]] (q157), which returns
    * per-USER stages with a fresh horizon per step; here the whole
    * chain must fit one window from the anchor, any number of steps,
    * and the output is the per-step conversion table. The funnel
    * anchors at each user's EARLIEST step-1 event; step i+1 matches
    * the earliest step-(i+1) event STRICTLY after the user's step-i
    * time and within `windowMicros` of the anchor. First-touch is the
    * deterministic industry convention — it undercounts vs the
    * any-anchor maximal match (a user whose early anchor dies but a
    * later one converts is counted out), and that bias is the
    * documented trade for a one-pass plan.
    *
    * Plan: one min-aggregate per step, chained by k−1 USER-keyed
    * equi-joins (k = steps.length, bounded) — each join carries only
    * (user, anchor, t_i) longs; the union of k single-row count
    * aggregates forms the funnel table. Nothing ever sorts the raw
    * event stream.
    *
    * @return (step_idx, step, n_users) — one row per step, n_users
    *         nonincreasing
    */
  def eventFunnel(events: DataFrame, userCol: String, typeCol: String,
                  epochMicrosCol: String, steps: Seq[String],
                  windowMicros: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(windowMicros > 0, "windowMicros must be positive")
    val base = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
        col(epochMicrosCol).cast("long").as("__ts"))
      .na.drop()
      .mat
    val s0 = base.filter(col("__t") === steps.head)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__anchor"))
      .withColumn("__prev", col("__anchor"))
    val chain = steps.zipWithIndex.tail.scanLeft(s0) {
      case (prev, (step, _)) =>
        base.filter(col("__t") === step)
          .join(prev.select(col("__u"), col("__anchor"), col("__prev")),
            Seq("__u"))
          .filter(col("__ts") > col("__prev") &&
            col("__ts") - col("__anchor") <= windowMicros)
          .groupBy(col("__u"))
          .agg(min(col("__anchor")).as("__anchor"),
            min(col("__ts")).as("__prev"))
    }
    chain.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("step_idx"), lit(step).as("step"),
          col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Restricted mean survival time — the area under the
    * [[kmFromDurations]] step curve up to the last observed duration:
    * the single-number survival summary ("expected days retained
    * within the window") that, unlike the median, exists even when
    * the curve never crosses ½. Pure integer given the KM gate's
    * quantized S: each grid step contributes S_prev·Δt (surv_q-scaled
    * days), with the implicit (t=0, S=10⁶) origin. Plan: the KM
    * derivation + one lag window over the duration grid (bounded by
    * the day span, same contract as the KM gate) + one agg row.
    */
  def rmst(subjects: DataFrame, durationCol: String,
           observedCol: String): DataFrame = {
    val km = kmFromDurations(subjects, durationCol, observedCol)
    val w = Window.orderBy(col("t_days"))
    km.withColumn("__pt", lag(col("t_days"), 1).over(w))
      .withColumn("__ps", lag(col("surv_q"), 1).over(w))
      .withColumn("__seg", coalesce(col("__ps"), lit(1000000L)) *
        (col("t_days") - coalesce(col("__pt"), lit(0L))))
      .agg(max(col("t_days")).as("horizon_days"),
        count(lit(1)).as("n_steps"),
        sum(col("__seg")).as("rmst_q"))
  }

  /** Stationary distribution of the [[markovTransitions]] chain by
    * `rounds` integer-quantized power iterations — "where does user
    * traffic settle". Each round redistributes 10¹²-scaled mass along
    * the observed transition rows:
    *
    *   x'_j = Σ_i (x_i · n_ij) div r_i
    *
    * (decimal products — x·n overflows long at corpus scale; the div
    * is exact integral). States with no OUTGOING transitions absorb
    * (their mass freezes and keeps accumulating); truncation leaks
    * ≤ |states| units per round — both behaviors are the documented
    * semantics and replay identically in the oracle's unrolled
    * rounds. Plan: transitions aggregate once (state²-bounded,
    * broadcast); each round is one broadcast join + one keyed agg on
    * the bounded state table.
    */
  def markovStationary(events: DataFrame, entityCol: String,
                       epochMicrosCol: String, typeCol: String,
                       tieCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds ($rounds) out of range")
    val Q = 1000000000000L
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(epochMicrosCol).asc, col(tieCol).asc)
    // ONE distributed pass builds the transition grid; the power
    // iteration then runs on the driver over that bounded grid
    // (states are a categorical type column — ≤ K states, ≤ K²
    // observed transitions; capped below, the q317 analogue of the
    // exactQuantiles bucket-count collect and the IVF centroid
    // table). The previous per-round join/agg version shuffled the
    // same tiny grid 3× per round — 15+ shuffles for rounds = 5
    // (guide §2.4: remove shuffles outright; the grid never grows
    // with the corpus, only the one aggregation pass does).
    val tr = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("__from"), col("__next").as("__to"))
      .agg(count(lit(1)).as("__n"))
    val states = events.select(col(typeCol).as("__s")).na.drop().distinct()
    // Driver fast path only while the grid is provably collectable:
    // ≤ 4096 states (probed with a LIMIT, so a high-cardinality type
    // column never collects) and ≤ 2²⁰ observed transition cells
    // (grids are ≤ states² — the cell cap bounds driver memory where
    // the state cap alone would admit 16.7M rows). Anything wider
    // falls back to the distributed per-round iteration below —
    // slower, but no driver collect and no failure mode.
    val stRows = states.limit(4097).collect().map(_.get(0))
    if (stRows.length > 4096) {
      return markovStationaryDistributed(tr, states, rounds)
    }
    val maxCells = 1 << 20
    val trRaw = tr.limit(maxCells + 1).collect()
    if (trRaw.length > maxCells) {
      return markovStationaryDistributed(tr, states, rounds)
    }
    val spark = events.sparkSession
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("state", states.schema.head.dataType, nullable = true),
      StructField("out_total", LongType, nullable = true),
      StructField("mass_q", LongType, nullable = false)))
    if (stRows.isEmpty) {
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    // null FROM-states never reach the iteration (the rank vector is
    // keyed by the non-null state set), matching the frame version
    val trRows = trRaw
      .map(row => (row.get(0), row.get(1), row.getLong(2)))
      .filter(_._1 != null)
    val rowTot: Map[Any, Long] =
      trRows.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val k = stRows.length.toLong
    // identical integer arithmetic to the SQL recurrence: x0 = Q div k;
    // per transition ⌊x_f·n / r_f⌋ (exact in BigInt — the frame version
    // used decimal(38,0) `div`), absorbing states keep their mass
    var x: Map[Any, Long] = stRows.map(s => s -> Q / k).toMap
    for (_ <- 1 to rounds) {
      val inflow = scala.collection.mutable.Map[Any, Long]().withDefaultValue(0L)
      trRows.foreach { case (f, t, n) =>
        inflow(t) += ((BigInt(x(f)) * n) / rowTot(f)).toLong
      }
      x = stRows.map { s =>
        s -> ((if (rowTot.contains(s)) 0L else x(s)) + inflow(s))
      }.toMap
    }
    import scala.jdk.CollectionConverters._
    val out = stRows.toSeq.map { s =>
      org.apache.spark.sql.Row(
        s, rowTot.get(s).map(java.lang.Long.valueOf).orNull, x(s))
    }
    spark.createDataFrame(out.asJava, schema).orderBy(col("state"))
  }

  /** Distributed power iteration for [[markovStationary]] state spaces
    * too wide for the driver grid (the round-11 implementation): each
    * round is one broadcast join + one keyed agg over the transition
    * frame. Same integer recurrence — x0 = Q div k, per-transition
    * ⌊x_f·n / r_f⌋ in decimal(38,0), absorbing states keep their mass —
    * so the result is value-identical to the driver path wherever both
    * are defined.
    */
  private def markovStationaryDistributed(tr: DataFrame, states: DataFrame,
                                          rounds: Int): DataFrame = {
    val Q = 1000000000000L
    val trC = tr.mat
    val rowTot = trC.filter(col("__from").isNotNull)
      .groupBy(col("__from")).agg(sum(col("__n")).as("__r"))
    val statesC = states.mat
    val k = statesC.agg(count(lit(1)).as("__k"))
    val x0 = statesC.crossJoin(broadcast(k))
      .select(col("__s"), expr(s"${Q}L div __k").as("__x"))
      .mat
    val trR = trC.filter(col("__from").isNotNull)
      .join(broadcast(rowTot), Seq("__from"))
    val xs = (1 to rounds).foldLeft(x0) { (x, _) =>
      val contrib = trR
        .join(broadcast(x.select(col("__s").as("__from"), col("__x"))),
          Seq("__from"))
        .select(col("__to").as("__s"),
          expr("""(CAST(__x AS DECIMAL(38,0)) * __n)
                  div CAST(__r AS DECIMAL(38,0))""").as("__c"))
        .groupBy(col("__s")).agg(sum(col("__c")).as("__in"))
      // absorbing states keep their mass; emitting states replace it
      x.join(broadcast(rowTot.select(col("__from").as("__s"),
          col("__r"))), Seq("__s"), "left")
        .join(contrib, Seq("__s"), "left")
        .select(col("__s"),
          (when(col("__r").isNotNull, lit(0L)).otherwise(col("__x")) +
            coalesce(col("__in"), lit(0L))).as("__x"))
        .mat
    }
    xs.join(broadcast(rowTot.select(col("__from").as("__s"),
        col("__r").as("out_total"))), Seq("__s"), "left")
      .select(col("__s").as("state"), col("out_total"),
        col("__x").as("mass_q"))
      .orderBy(col("state"))
  }

  /** Per-group overdispersion audit of a dense count series — the
    * Fano factor var/mean, EXACT as one integral division on the
    * n²-scaled identity:
    *
    *   fano_q = (10⁶·(n·Σx² − (Σx)²)) div (n·Σx)
    *
    * (1 = Poisson; ≫1 = bursty/clumped arrivals — the "is this
    * event stream self-exciting" check that decides whether Poisson
    * alarms like q156 are even calibrated). The index-of-dispersion
    * test statistic (n−1)s²/x̄ is the same quantity scaled n/(n−1)·n
    * — reported as chi_q = (10⁶·(n·Σx² − (Σx)²)) div Σx, ~χ²(n−1)
    * under Poisson. Zeros are REAL: the caller passes the dense
    * grid (the durbinWatson contract). Plan: one hash agg.
    */
  def overdispersion(series: DataFrame, groupCol: String,
                     xCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    series.select(col(groupCol), col(xCol).cast("long").as("__x"))
      .na.drop()
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets"), sum(dec(col("__x"))).as("__s"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__q"))
      .select(col(groupCol), col("n_buckets"),
        expr("(1000000 * __s) div n_buckets").as("mean_q"),
        when(col("__s") > 0, expr(
          """(CAST(1000000 AS DECIMAL(38,0)) *
              (n_buckets * __q - __s * __s))
             div (CAST(n_buckets AS DECIMAL(38,0)) * __s)"""))
          .as("fano_q"),
        when(col("__s") > 0, expr(
          """(CAST(1000000 AS DECIMAL(38,0)) *
              (n_buckets * __q - __s * __s)) div __s""")).as("chi_q"))
      .orderBy(col(groupCol))
  }

  /** Wald–Wolfowitz runs test on a single bucketed series — "is the
    * above/below-median pattern random, or does it trend/oscillate".
    * Values strictly above the series' lower median are +, strictly
    * below are −, EXACT ties with the median drop (the classical
    * rule); with n₁ pluses, n₂ minuses and R runs:
    *
    *   μ = 1 + 2n₁n₂/n,   σ² = 2n₁n₂(2n₁n₂ − n) / (n²(n−1))
    *
    * and z_q = ⌊10⁶·(R−μ)/σ⌋ — counts exact, one mirrored fp chain.
    * Too-few-runs (z ≪ 0) = trending/clustered; too-many = mean-
    * reverting. Plan: value-grid median (bounded window), one ordered
    * lag pass over the series grid (span-bounded, the durbinWatson
    * contract), one agg row.
    */
  def runsTest(series: DataFrame, bucketCol: String,
               xCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d = (c: Column) => c.cast("double")
    val s = series.select(col(bucketCol).as("__b"),
        col(xCol).cast("long").as("__x")).na.drop()
      .mat
    val vals = s.groupBy(col("__x")).agg(count(lit(1)).as("__cv"))
    val tot = vals.agg(sum(col("__cv")).as("__n0"))
    val med = vals.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("__cv")).over(
        Window.orderBy(col("__x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cum") >= expr("(__n0 + 1) div 2"))
      .orderBy(col("__x")).limit(1)
      .select(col("__x").as("__m"))
    val signed = s.crossJoin(broadcast(med))
      .filter(col("__x") =!= col("__m"))
      .withColumn("__s", (col("__x") > col("__m")).cast("long"))
      .withColumn("__prev", lag(col("__s"), 1).over(
        Window.orderBy(col("__b"))))
    val agg = signed.agg(count(lit(1)).as("n_used"),
      sum(col("__s")).as("n_above"),
      (count(lit(1)) - sum(col("__s"))).as("n_below"),
      (lit(1L) + sum(when(col("__prev").isNotNull &&
        col("__prev") =!= col("__s"), 1L).otherwise(0L))).as("n_runs"))
    val twoP = (dec(lit(2)) * dec(col("n_above")) * dec(col("n_below")))
      .cast("decimal(38,0)")
    val mu = lit(1.0) + d(twoP) / d(col("n_used"))
    val va = (d(twoP) * (d(twoP) - d(col("n_used")))) /
      (d(col("n_used")) * d(col("n_used")) * (d(col("n_used")) - lit(1.0)))
    agg.select(col("n_used"), col("n_above"), col("n_below"),
      col("n_runs"),
      when(col("n_above") > 0 && col("n_below") > 0 &&
          col("n_used") >= 2 && va > 0,
        floor(lit(1000000.0) * (d(col("n_runs")) - mu) / sqrt(va))
          .cast("long")).as("z_q"))
  }

  /** Cox–Stuart trend test on a single bucketed series — the sign-test
    * cousin of [[runsTest]] aimed squarely at MONOTONE drift: pair
    * element i of the first half with element i+m of the second
    * (m = ⌊n/2⌋, middle element dropped when n is odd), count rises
    * and falls, drop exact ties; under no-trend the rise count is
    * Binomial(n', 1/2), summarized as z = (2·n_plus − n')/√n'.
    *
    * Everything up to the single sqrt/divide is exact integers (pair
    * signs, counts); z_q = ⌊10⁶·z⌋ is one mirrored fp chain. Plan:
    * one ordered window to dense-rank the series, one SELF EQUI-JOIN
    * on (rank, rank+m) — span-bounded like every dense-series op, no
    * row pairing beyond the n' index matches — then one agg row.
    * Dense-grid contract: the caller zero-fills missing buckets
    * (durbinWatson/acf/runsTest's shared contract).
    *
    * @return one row (n_series, n_pairs, n_plus, n_minus, z_q)
    */
  def coxStuart(series: DataFrame, bucketCol: String,
                xCol: String): DataFrame = {
    val s = series.select(col(bucketCol).as("__b"),
        col(xCol).cast("long").as("__x")).na.drop()
      .withColumn("__i", row_number().over(Window.orderBy(col("__b"))))
      .mat
    val tot = s.agg(count(lit(1)).as("__n"))
    val paired = s.crossJoin(broadcast(tot))
      .withColumn("__m", expr("__n div 2"))
      .filter(col("__i") <= col("__m"))
      .join(s.select(col("__i").as("__i2"), col("__x").as("__x2")),
        col("__i2") === col("__i") + col("__m") +
          when(col("__n") % 2 === 1, lit(1L)).otherwise(lit(0L)))
    val agg = paired.agg(max(col("__n")).as("n_series"),
      sum(when(col("__x2") > col("__x"), 1L).otherwise(0L)).as("n_plus"),
      sum(when(col("__x2") < col("__x"), 1L).otherwise(0L)).as("n_minus"))
    agg.select(col("n_series"),
      (col("n_plus") + col("n_minus")).as("n_pairs"),
      col("n_plus"), col("n_minus"),
      when(col("n_plus") + col("n_minus") > 0,
        floor(lit(1000000.0) *
          (lit(2L) * col("n_plus") - (col("n_plus") + col("n_minus")))
            .cast("double") /
          sqrt((col("n_plus") + col("n_minus")).cast("double")))
          .cast("long")).as("z_q"))
  }

  /** Theil's U2 forecast-quality ratio of the naive (last-value)
    * forecast on a dense bucketed series — "does ANY model have room
    * to beat persistence":
    *
    *   U2 = √(Σ(x_t − x_{t−1})²) / √(Σ x_{t−1}²),
    *
    * over t = 2..n. Both sums are exact longs (integer diffs and
    * squares); the two sqrts and one division are the only fp ops,
    * in a fixed order, so ⌊10⁶·U2⌋ is engine-identical. U2 < 1 means
    * the series has persistence-beating structure worth modeling
    * (compare [[maseBacktest]], which scores a CANDIDATE forecast
    * against the same baseline).
    *
    * Plan: one ordered lag window over the dense grid + one agg row
    * (the durbinWatson shape; zero-filled-grid contract shared).
    *
    * @return one row (n_used, sse_naive_l, ss_prev_l, u2_q)
    */
  def theilU2(series: DataFrame, bucketCol: String,
              xCol: String): DataFrame = {
    val s = series.select(col(bucketCol).as("__b"),
        col(xCol).cast("long").as("__x")).na.drop()
      .withColumn("__p", lag(col("__x"), 1).over(Window.orderBy(col("__b"))))
      .filter(col("__p").isNotNull)
    s.agg(count(lit(1)).as("n_used"),
        sum((col("__x") - col("__p")) * (col("__x") - col("__p")))
          .as("sse_naive_l"),
        sum(col("__p") * col("__p")).as("ss_prev_l"))
      .select(col("n_used"), col("sse_naive_l"), col("ss_prev_l"),
        when(col("ss_prev_l") > 0,
          floor(lit(1000000.0) * sqrt(col("sse_naive_l").cast("double")) /
            sqrt(col("ss_prev_l").cast("double"))).cast("long"))
          .as("u2_q"))
  }

  /** Discrete periodogram of a dense single series at a FIXED set of
    * candidate periods — "which cycle length dominates this count
    * series" (the seasonality finder feeding q247's known-period
    * decomposition). For each period p the Fourier pair at frequency
    * 1/p is accumulated as integer-quantized terms
    * ⌊10⁶·x_t·cos(2π·t/p)⌋ (likewise sin) — exact long sums, one
    * trig call per (row, period) on an exactly-agreed double argument
    * — and the reported power drops the quantization scale:
    *
    *   power = (c_q² + s_q²) div 10¹²   ≈ (Σx·cos)² + (Σx·sin)²
    *
    * (decimal(38,0) squares — c_q reaches 10⁶·Σx). t is the 1-based
    * dense rank of the bucket, so the caller must pass a zero-filled
    * grid (same contract as durbinWatson/acf).
    *
    * Plan: one ordered window to index the series, a bounded
    * period fan-out (|periods| rows per bucket), one periods-keyed
    * hash agg — map-side combined, no per-period scans.
    */
  def periodogram(series: DataFrame, bucketCol: String, xCol: String,
                  periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      "periods must be >= 2")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // NULL x-cells behave like the documented zero-filled grid (they
    // keep their t index, contribute 0 to the sums, and count in n);
    // a NULL bucket has no grid position and drops.
    val t = series
      .select(col(bucketCol).as("__b"),
        coalesce(col(xCol).cast("long"), lit(0L)).as("__x"))
      .filter(col("__b").isNotNull)
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__b"))).cast("long"))
    val theta = lit(2.0) * lit(math.Pi) * col("__t").cast("double") /
      col("__p").cast("double")
    t.select(col("__x"), col("__t"),
        explode(array(periods.map(lit(_)): _*)).as("__p"))
      .select(col("__p"),
        floor(lit(1000000.0) * col("__x").cast("double") * cos(theta))
          .cast("long").as("__c"),
        floor(lit(1000000.0) * col("__x").cast("double") * sin(theta))
          .cast("long").as("__s"))
      .groupBy(col("__p").cast("long").as("period"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("c_q"),
        sum(col("__s")).as("s_q"))
      .select(col("period"), col("n"), col("c_q"), col("s_q"),
        (dec(col("c_q")) * dec(col("c_q")) +
          dec(col("s_q")) * dec(col("s_q")))
          .cast("decimal(38,0)").as("__pw"))
      .withColumn("power",
        expr("__pw div CAST(1000000000000 AS DECIMAL(38,0))"))
      .drop("__pw")
      .orderBy(col("period"))
  }

  /** Spectral entropy of the [[periodogram]] power distribution —
    * "is the series' energy concentrated in one cycle or smeared
    * across all of them": low entropy = strong seasonality at one
    * period, max (ln n_periods) = white noise. The single-number
    * seasonality-strength summary q309's raw periodogram feeds.
    *
    * Each positive power's term quantizes ⌊10⁹·(p/T)·ln(T/p)⌋ on the
    * exact integer (power, total) pair — the [[graft.operators.Stats]]
    * entropy kernel, ln on an exact integer ratio (the standing ln
    * contract) — and the entropy is their order-free long sum.
    * Zero-power periods contribute 0 (the p·ln p limit) by dropping.
    *
    * Plan: the periodogram's bounded period table + one broadcast
    * total + one bounded agg.
    */
  def spectralEntropy(series: DataFrame, bucketCol: String, xCol: String,
                      periods: Seq[Int]): DataFrame = {
    val pg = periodogram(series, bucketCol, xCol, periods)
      .mat
    val tot = pg.agg(sum(col("power")).as("__t"),
      count(lit(1)).as("n_periods"))
    pg.crossJoin(broadcast(tot))
      .filter(col("power") > 0 && col("__t") > 0)
      .select(col("n_periods"), col("__t").cast("long").as("t_power"),
        floor(lit(1.0e9) * col("power").cast("double") *
          log(col("__t").cast("double") / col("power").cast("double")) /
          col("__t").cast("double")).cast("long").as("__e"))
      .groupBy(col("n_periods"), col("t_power"))
      .agg(sum(col("__e")).as("entropy_q"))
  }

  /** Dyadic-α exponential moving average per key — EWMA with
    * α = 1/2^kShift so the ENTIRE recurrence runs on an exact integer
    * grid (state S on the 2²⁰ sub-grid):
    *
    *   S_1 = x_1·Q,   S_t = S_{t−1} + ⌊(x_t·Q − S_{t−1}) / 2^k⌋
    *
    * — floor division implemented as (d − pmod(d, m)) div m, which
    * both engines evaluate identically for NEGATIVE deltas too
    * (decimal `div` truncates toward zero, `//` floors; subtracting
    * the nonnegative pmod first makes the division an exact multiple
    * so the disagreement vanishes). The whole smoother is therefore
    * bit-reproducible and fully SQL-replayable (the oracle is a
    * recursive CTE over (key, t)).
    *
    * A sequential recurrence cannot parallelize WITHIN a key: the fold
    * runs inside one `aggregate` HOF over the key's collected bucket
    * series, which is the documented bounded-grid contract (same as
    * [[periodogram]]/acf — keys are unbounded, per-key grids are not).
    *
    * @return (key, bucket, x, ewma_q) — ewma_q on the x·2²⁰ grid
    */
  def ewmaDyadic(series: DataFrame, keyCol: String, bucketCol: String,
                 xCol: String, kShift: Int): DataFrame = {
    require(kShift >= 1 && kShift <= 16,
      s"kShift ($kShift) must be in [1, 16]")
    val q = 1L << 20
    val m = 1L << kShift
    val g = series
      .select(col(keyCol).as("__k"),
        struct(col(bucketCol).cast("long").as("b"),
          col(xCol).cast("long").as("x")).as("__e"))
      .na.drop()
      .groupBy(col("__k"))
      .agg(array_sort(collect_list(col("__e"))).as("__s"))
    val states = expr(s"""
      aggregate(__s, cast(array() as array<bigint>),
        (acc, e) -> acc || array(CASE WHEN size(acc) = 0 THEN e.x * ${q}L
          ELSE element_at(acc, -1) +
            ((e.x * ${q}L - element_at(acc, -1)) -
             pmod(e.x * ${q}L - element_at(acc, -1), ${m}L)) div ${m}L
          END))""")
    g.withColumn("__st", states)
      .select(col("__k").as(keyCol),
        posexplode(expr("arrays_zip(__s, __st)")))
      .select(col(keyCol), col("col.__s.b").as("bucket"),
        col("col.__s.x").as("x"), col("col.__st").as("ewma_q"))
      .orderBy(col(keyCol), col("bucket"))
  }

  /** Shared exact-centering helper for the serial-correlation tests:
    * index the bucket-ordered series 1..n and attach the n-SCALED
    * centered value xc_t = n·x_t − S (an exact integer — the mean
    * never becomes a float; every covariance numerator divides out
    * the n² at the very end). One bounded-grid window, one broadcast
    * one-row total.
    */
  private def centeredIdx(series: DataFrame, bucketCol: String,
                          xCol: String): DataFrame = {
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__b"))).cast("long"))
    val tot = t.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__S"))
    t.crossJoin(broadcast(tot))
      .withColumn("__xc", col("__n") * col("__x") - col("__S"))
  }

  /** Ljung–Box portmanteau test of residual serial correlation on a
    * bucketed series — "is this series white noise up to lag m", the
    * standard post-fit autocorrelation audit ([[acf]] gives the
    * correlogram; this gives the one test statistic drift monitors
    * alert on):
    *
    *   Q(m) = n(n+2)·Σ_{k=1..m} r_k²/(n−k).
    *
    * Exactness: autocovariance numerators on the n-scaled centered
    * grid — num_k = Σ_t (n·x_t − S)(n·x_{t+k} − S) is an exact
    * decimal(38,0) (the n² factors cancel in r_k = num_k/num_0, ONE
    * double division); per-lag contributions quantize
    * ⌊10¹²·n(n+2)·r_k²/(n−k)⌋ as longs so the cumulative statistic is
    * an order-free integer sum, not a float fold.
    *
    * Plan: one window to index, one m-way explode + equi-join on the
    * shifted index (m·n rows — lag depth is bounded), one hash agg
    * per lag, one bounded window for the cumulative Q. Series length
    * is a bounded grid (buckets), never the corpus.
    *
    * @return per-lag rows (lag, n, r_q = ⌊10⁹·r_k⌋, term_q,
    *         lb_cum_q = Σ_{j≤k} term_j), ordered by lag
    */
  def ljungBox(series: DataFrame, bucketCol: String, xCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"maxLag ($maxLag) must be in [1, 64]")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val c0 = centeredIdx(series, bucketCol, xCol)
      .mat
    val base = c0.agg(max(col("__n")).as("__n"),
      sum(dec(col("__xc")) * dec(col("__xc"))).as("__num0"))
    val lagged = c0
      .select(col("__t"), col("__xc"),
        explode(sequence(lit(1), lit(maxLag))).as("__k"))
      .withColumn("__t2", col("__t") + col("__k"))
      .join(c0.select(col("__t").as("__t2"), col("__xc").as("__xc2")),
        Seq("__t2"))
      .groupBy(col("__k").cast("long").as("lag"))
      .agg(sum(dec(col("__xc")) * dec(col("__xc2"))).as("__num"))
    val r = col("__num").cast("double") / col("__num0").cast("double")
    val terms = lagged.crossJoin(broadcast(base))
      .filter(col("__num0") > 0 && col("lag") < col("__n"))
      .select(col("lag"), col("__n").as("n"),
        floor(lit(1.0e9) * r).cast("long").as("r_q"),
        floor(lit(1.0e12) *
          (col("__n") * (col("__n") + 2L)).cast("double") * r * r /
          (col("__n") - col("lag")).cast("double")).cast("long")
          .as("term_q"))
    terms
      .withColumn("lb_cum_q", sum(col("term_q"))
        .over(Window.orderBy(col("lag"))))
      .orderBy(col("lag"))
  }

  /** Lo–MacKinlay variance-ratio test on a bucketed level series —
    * "do q-period increments have q× the variance of 1-period
    * increments" (VR = 1 under a random walk; VR < 1 = mean
    * reversion, VR > 1 = trending). The standard market-efficiency /
    * drift-persistence audit, here on event-count levels.
    *
    * With drift μ̂ = (x_n − x_1)/T (T = n−1 intervals) both variance
    * numerators clear their denominators exactly:
    *
    *   numB = Σ_{t=2..n} (T·(x_t − x_{t−1}) − Δ)²,
    *   numA = Σ_{t=q+1..n} (T·(x_t − x_{t−q}) − q·Δ)²,
    *   VR   = numA / (q·numB)    (the T² scale factors cancel;
    *                              overlapping q-diffs, T·q normalizer)
    *
    * — exact decimal(38,0) integers into ONE double division. The
    * homoskedastic z-score uses φ(q) = 2(2q−1)(q−1)/(3q·T):
    * z = (VR−1)/√φ, a second mirrored chain.
    *
    * Plan: one indexing window, two shifted self-equi-joins on the
    * bounded bucket grid, one fold.
    *
    * @return one row (n, q, delta_l, num1_l, numq_l, vr_q = ⌊10⁶·VR⌋,
    *         z_q = ⌊10⁶·z⌋)
    */
  def varianceRatio(series: DataFrame, bucketCol: String, xCol: String,
                    q: Int): DataFrame = {
    require(q >= 2 && q <= 64, s"q ($q) must be in [2, 64]")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__b"))).cast("long"))
      .mat
    val ends = t.agg(count(lit(1)).as("__n"),
      max(when(col("__t") === 1L, col("__x"))).as("__x1"),
      max(col("__t")).as("__tn"))
    val endVal = t.join(broadcast(ends), col("__t") === col("__tn"))
      .select(col("__n"), (col("__x") - col("__x1")).as("__delta"))
    val diff = (k: Int) => t
      .select((col("__t") + k).as("__t"), col("__x").as("__xp"))
      .join(t, Seq("__t"))
      .select((col("__x") - col("__xp")).as("__d"))
      .crossJoin(broadcast(endVal))
      .select(col("__n"), col("__delta"),
        dec((col("__n") - 1L) * col("__d") - lit(k.toLong) * col("__delta"))
          .as("__z"))
      .agg(max(col("__n")).as("__n"), max(col("__delta")).as("__delta"),
        sum(col("__z") * col("__z")).as("__num"))
    val b = diff(1).select(col("__n"), col("__delta"),
      col("__num").as("__numB"))
    val a = diff(q).select(col("__num").as("__numA"))
    val tD = (col("__n") - 1L).cast("double")
    val vr = col("__numA").cast("double") /
      (lit(q.toDouble) * col("__numB").cast("double"))
    val phi = lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / tD
    b.crossJoin(a)
      .select(col("__n").as("n"), lit(q.toLong).as("q"),
        col("__delta").as("delta_l"),
        col("__numB").cast("long").as("num1_l"),
        col("__numA").cast("long").as("numq_l"),
        when(col("__numB") > 0,
          floor(lit(1.0e6) * vr).cast("long")).as("vr_q"),
        when(col("__numB") > 0 && col("__n") > q + 1,
          floor(lit(1.0e6) * (vr - lit(1.0)) / sqrt(phi)).cast("long"))
          .as("z_q"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis over dyadic
    * block sizes — the long-memory audit (H ≈ 0.5 = memoryless,
    * H → 1 = persistent trends, H < 0.5 = anti-persistent): chop the
    * series into complete blocks of each size, compute the block's
    * rescaled range, and read H as the log–log slope of R/S against
    * block size.
    *
    * Everything stays rational until one ln per size point:
    *
    *   n_b·C_t = n_b·P_t − t·S_b    (cumulative deviation, ×n_b),
    *   Rn_b    = max n_b·C − min n_b·C            (exact integer),
    *   (R/S)²  = Rn_b²·n_b / num0_b               (num0 = Σ(n_b·x−S_b)²),
    *   rs2_q   = ⌊10⁶·(R/S)²⌋                      (ONE double division),
    *   y_q     = ⌊5·10⁸·ln(Σrs2_q / (10⁶·m))⌋      (½ln of the size's
    *                                               mean (R/S)²),
    *   x_q     = ⌊10⁹·ln size⌋,
    *   H       = OLS slope of y on x over the size points — computed
    *             on the quantized integer grid (p·Σxy − Σx·Σy) /
    *             (p·Σxx − Σx²) in decimal(38,0), one final division.
    *
    * Plan: sizes explode the indexed series |sizes|× (bounded), one
    * window per (size, block) for the running sum, two hash aggs, a
    * |sizes|-row fold. Bucket grid only — never the corpus.
    *
    * @return per-size rows (block_n, m_blocks, rs2_sum_q, y_q,
    *         hurst_q) — hurst_q = ⌊10⁶·H⌋ repeated on every row
    */
  def hurstRS(series: DataFrame, bucketCol: String, xCol: String,
              sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 4),
      "block sizes must be >= 4")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__b"))).cast("long"))
    val blocks = t
      .select(col("__t"), col("__x"),
        explode(array(sizes.map(s => lit(s.toLong)): _*)).as("__nb"))
      .withColumn("__blk", expr("(__t - 1) div __nb"))
      // complete blocks only
      .withColumn("__pos",
        col("__t") - col("__blk") * col("__nb")) // 1..nb within block
    val w = Window.partitionBy(col("__nb"), col("__blk"))
    val per = blocks
      .withColumn("__P", sum(col("__x")).over(w.orderBy(col("__t"))))
      .withColumn("__Sb", sum(col("__x")).over(w))
      .withColumn("__cnt", count(lit(1)).over(w))
      .filter(col("__cnt") === col("__nb"))
      .withColumn("__nc", col("__nb") * col("__P") - col("__pos") * col("__Sb"))
      .withColumn("__xc", col("__nb") * col("__x") - col("__Sb"))
      .groupBy(col("__nb"), col("__blk"))
      .agg((max(col("__nc")) - min(col("__nc"))).as("__Rn"),
        sum(dec(col("__xc")) * dec(col("__xc"))).as("__num0"))
      .filter(col("__num0") > 0)
      .select(col("__nb"),
        floor(lit(1.0e6) *
          (dec(col("__Rn")) * dec(col("__Rn")) * dec(col("__nb")))
            .cast("double") / col("__num0").cast("double"))
          .cast("long").as("__rs2q"))
    val bySize = per.groupBy(col("__nb").as("block_n"))
      .agg(count(lit(1)).as("m_blocks"), sum(col("__rs2q")).as("rs2_sum_q"))
      .filter(col("rs2_sum_q") > 0)
      .withColumn("y_q", floor(lit(5.0e8) *
        log(col("rs2_sum_q").cast("double") /
          (lit(1.0e6) * col("m_blocks").cast("double")))).cast("long"))
      .withColumn("__xq",
        floor(lit(1.0e9) * log(col("block_n").cast("double"))).cast("long"))
      .mat
    val slope = bySize.agg(count(lit(1)).as("__p"),
        sum(dec(col("__xq"))).as("__sx"), sum(dec(col("y_q"))).as("__sy"),
        sum(dec(col("__xq")) * dec(col("y_q"))).as("__sxy"),
        sum(dec(col("__xq")) * dec(col("__xq"))).as("__sxx"))
      .select(when(col("__p") >= 2,
        floor(lit(1.0e6) *
          (col("__p") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
          (col("__p") * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double")).cast("long")).as("hurst_q"))
    bySize.select(col("block_n"), col("m_blocks"), col("rs2_sum_q"),
        col("y_q"))
      .crossJoin(broadcast(slope))
      .orderBy(col("block_n"))
  }

  /** Mann–Kendall trend test on a bucketed series — the standard
    * nonparametric monotone-trend detector ([[coxStuart]]'s
    * full-power sibling: Cox–Stuart compares half-series pairs; MK
    * scores EVERY pair):
    *
    *   S = Σ_{i<j} sign(x_j − x_i),
    *   Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18,
    *   z = (S ∓ 1)/√Var  (continuity-corrected; 0 when S = 0)
    *
    * — S, the tie correction, and 18·Var are exact integers; the z is
    * one mirrored chain. The pair enumeration is a self-equi-join of
    * the BUCKET grid with itself (n²/2 rows — n is the bounded bucket
    * count, never the corpus; 720 hourly points = 259k pairs), the tie
    * groups one hash agg on the value grid.
    *
    * @return one row (n, s_l, var18_l, z_q)
    */
  def mannKendall(series: DataFrame, bucketCol: String,
                  xCol: String): DataFrame = {
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__b"))).cast("long"))
      .mat
    val pairs = t.select(col("__t").as("__t1"), col("__x").as("__x1"))
      .join(t.select(col("__t").as("__t2"), col("__x").as("__x2")),
        col("__t1") < col("__t2"))
      .agg(sum(signum(col("__x2") - col("__x1")).cast("long")).as("s_l"))
    val ties = t.groupBy(col("__x")).agg(count(lit(1)).as("__tp"))
      .agg(sum(col("__tp") * (col("__tp") - 1L) *
        (lit(2L) * col("__tp") + 5L)).as("__tie"),
        sum(col("__tp")).as("n"))
    val one = pairs.crossJoin(broadcast(ties))
      .withColumn("var18_l",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
          coalesce(col("__tie"), lit(0L)))
    one.select(col("n"), col("s_l"), col("var18_l"),
      when(col("var18_l") > 0 && col("s_l") =!= 0L,
        floor(lit(1.0e6) *
          (col("s_l") - signum(col("s_l")).cast("long")).cast("double") /
          sqrt(col("var18_l").cast("double") / lit(18.0))).cast("long"))
        .otherwise(when(col("var18_l") > 0, lit(0L))).as("z_q"))
  }

  /** Seasonal Mann–Kendall (Hirsch–Slack) — [[mannKendall]] with the
    * pair enumeration CONFINED to each season (hour-of-day, weekday):
    * a diurnal cycle contributes no spurious trend signal because
    * cross-season pairs never form; the per-season S and 18·Var sum
    * exactly and the total z is one chain on the sums.
    *
    * Plan: the per-season pair join keys on (season, t) so the n²
    * blow-up shrinks to Σ_s n_s² — with k seasons of equal size,
    * 1/k of the unrestricted cost; everything else is [[mannKendall]].
    *
    * @return one row (n, n_seasons, s_l, var18_l, z_q)
    */
  def seasonalMannKendall(series: DataFrame, bucketCol: String,
                          xCol: String, season: Column): DataFrame = {
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"),
        season.cast("long").as("__s"))
      .na.drop()
      .withColumn("__t", row_number()
        .over(Window.partitionBy(col("__s")).orderBy(col("__b")))
        .cast("long"))
      .mat
    val pairs = t.select(col("__s"), col("__t").as("__t1"),
        col("__x").as("__x1"))
      .join(t.select(col("__s"), col("__t").as("__t2"),
        col("__x").as("__x2")), Seq("__s"))
      .filter(col("__t1") < col("__t2"))
      .agg(sum(signum(col("__x2") - col("__x1")).cast("long")).as("s_l"))
    val ties = t.groupBy(col("__s"), col("__x"))
      .agg(count(lit(1)).as("__tp"))
      .groupBy(col("__s"))
      .agg(sum(col("__tp") * (col("__tp") - 1L) *
        (lit(2L) * col("__tp") + 5L)).as("__tie"),
        sum(col("__tp")).as("__ns"))
      .agg(sum(col("__ns") * (col("__ns") - 1L) *
        (lit(2L) * col("__ns") + 5L) - col("__tie")).as("var18_l"),
        sum(col("__ns")).as("n"), count(lit(1)).as("n_seasons"))
    val one = pairs.crossJoin(broadcast(ties))
    one.select(col("n"), col("n_seasons"), col("s_l"), col("var18_l"),
      when(col("var18_l") > 0 && col("s_l") =!= 0L,
        floor(lit(1.0e6) *
          (col("s_l") - signum(col("s_l")).cast("long")).cast("double") /
          sqrt(col("var18_l").cast("double") / lit(18.0))).cast("long"))
        .otherwise(when(col("var18_l") > 0, lit(0L))).as("z_q"))
  }

  /** Turning-point test of serial randomness — count the strict local
    * extrema: an i.i.d. series turns at 2/3 of its interior points;
    * fewer turns = trending/sticky, more = oscillating:
    *
    *   E[T] = 2(n−2)/3,  Var(T) = (16n−29)/90,
    *   z = (3T − 2(n−2)) / (3·√((16n−29)/90))
    *
    * — T and 3T − 2(n−2) exact integers, one sqrt. Ties produce no
    * turning point (strict inequalities), the documented convention.
    * Plan: one lag/lead window over the bounded bucket grid, one fold.
    *
    * @return one row (n, t_points, z_q)
    */
  def turningPoints(series: DataFrame, bucketCol: String,
                    xCol: String): DataFrame = {
    val w = Window.orderBy(col("__b"))
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__p", lag(col("__x"), 1).over(w))
      .withColumn("__nx", lead(col("__x"), 1).over(w))
    val one = t.agg(count(lit(1)).as("n"),
      sum(when(col("__p").isNotNull && col("__nx").isNotNull &&
        ((col("__x") > col("__p") && col("__x") > col("__nx")) ||
          (col("__x") < col("__p") && col("__x") < col("__nx"))),
        1L).otherwise(0L)).as("t_points"))
    one.select(col("n"), col("t_points"),
      when(col("n") >= 4,
        floor(lit(1.0e6) *
          (lit(3L) * col("t_points") - lit(2L) * (col("n") - 2L))
            .cast("double") /
          (lit(3.0) * sqrt((lit(16L) * col("n") - 29L).cast("double") /
            lit(90.0)))).cast("long")).as("z_q"))
  }

  /** Bartels rank test (the rank von Neumann ratio) of serial
    * randomness — [[runsTest]]'s variance-based sibling, more
    * powerful against smooth autocorrelation:
    *
    *   RVN = Σ_{t<n} (R_t − R_{t+1})² / Σ_t (R_t − (n+1)/2)²
    *
    * with mid-ranks; E[RVN] = 2, Var ≈ 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²).
    * On the DOUBLED rank grid both sums are exact integers
    * (num4 = 4·num, den4 = 4·den — the 4s cancel), so RVN is one
    * double division and z one mirrored chain.
    *
    * Plan: two bounded-grid windows (rank derivation via the exact
    * strict-below/equal counts, then one lead), one fold.
    *
    * @return one row (n, num4_l, den4_l, rvn_q = ⌊10⁶·RVN⌋, z_q)
    */
  def bartelsRank(series: DataFrame, bucketCol: String,
                  xCol: String): DataFrame = {
    val t = series
      .select(col(bucketCol).as("__b"), col(xCol).cast("long").as("__x"))
      .na.drop()
      .withColumn("__lt", count(lit(1)).over(Window.orderBy(col("__x"))
        .rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("__eq", count(lit(1)).over(Window.orderBy(col("__x"))
        .rangeBetween(0, 0)))
      .withColumn("__R2", lit(2L) * col("__lt") + col("__eq") + 1L)
      .withColumn("__R2n", lead(col("__R2"), 1)
        .over(Window.orderBy(col("__b"))))
    val one = t.agg(count(lit(1)).as("n"),
      sum(when(col("__R2n").isNotNull,
        (col("__R2") - col("__R2n")) * (col("__R2") - col("__R2n")))
        .otherwise(0L)).as("num4_l"))
    // den4 needs n: Σ(2R − (n+1))² = Σ4R² − 2(n+1)Σ2R + n(n+1)² — but
    // a second pass with n in hand is simpler and stays on the grid
    val den = t.crossJoin(broadcast(one.select(col("n"))))
      .agg(sum((col("__R2") - (col("n") + 1L)) *
        (col("__R2") - (col("n") + 1L))).as("den4_l"))
    val rvn = col("num4_l").cast("double") / col("den4_l").cast("double")
    val varr = (lit(4L) * (col("n") - 2L) *
      (lit(5L) * col("n") * col("n") - lit(2L) * col("n") - 9L))
      .cast("double") /
      (lit(5L) * col("n") * (col("n") + 1L) * (col("n") - 1L) *
        (col("n") - 1L)).cast("double")
    one.select(col("n"), col("num4_l")).crossJoin(den)
      .select(col("n"), col("num4_l"), col("den4_l"),
        when(col("den4_l") > 0,
          floor(lit(1.0e6) * rvn).cast("long")).as("rvn_q"),
        when(col("den4_l") > 0 && col("n") >= 4,
          floor(lit(1.0e6) * (rvn - lit(2.0)) / sqrt(varr)).cast("long"))
          .as("z_q"))
  }

  /** Seasonal/trend STRENGTH of each group's [[seasonalDecompose]]
    * output — Hyndman's forecasting-audit pair, the one-number answer
    * to "is this series worth a seasonal model":
    *
    *   F_S = max(0, 1 − Var(R) / Var(S + R))     (S + R = detr_q)
    *   F_T = max(0, 1 − Var(R) / Var(T + R))     (T + R = 10⁶·x − S)
    *
    * Variance ratios cancel n, so each Var is carried as the exact
    * n-cleared decimal numerator n·Σv² − (Σv)² over the SAME rows —
    * one double division + clamp per group, quantized ⌊10⁶·F⌋.
    *
    * Plan shape: one hash agg over the decomposition frame (itself
    * two window passes), per-group output — nothing new shuffles.
    *
    * @return one row per group (groupCol, n, fs_q, ft_q)
    */
  def decompositionStrength(events: DataFrame, groupCol: String,
                            epochMicrosCol: String): DataFrame = {
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val d = seasonalDecompose(events, groupCol, epochMicrosCol)
      .withColumn("__tr", lit(1000000L) * col("x") - col("seasonal_q"))
    def varNum(n: Column, s: Column, sq: Column) =
      dec38(n) * sq - s * s
    val agg = d.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(dec38(col("resid_q"))).as("__sr"),
        sum(dec38(col("resid_q")) * dec38(col("resid_q"))).as("__sr2"),
        sum(dec38(col("detr_q"))).as("__sd"),
        sum(dec38(col("detr_q")) * dec38(col("detr_q"))).as("__sd2"),
        sum(dec38(col("__tr"))).as("__st"),
        sum(dec38(col("__tr")) * dec38(col("__tr"))).as("__st2"))
      .withColumn("__vr", varNum(col("n"), col("__sr"), col("__sr2")))
      .withColumn("__vd", varNum(col("n"), col("__sd"), col("__sd2")))
      .withColumn("__vt", varNum(col("n"), col("__st"), col("__st2")))
    agg.select(col(groupCol), col("n"),
        when(col("__vd") > 0,
          floor(lit(1.0e6) * greatest(lit(0.0),
            lit(1.0) - col("__vr").cast("double") /
              col("__vd").cast("double"))).cast("long")).as("fs_q"),
        when(col("__vt") > 0,
          floor(lit(1.0e6) * greatest(lit(0.0),
            lit(1.0) - col("__vr").cast("double") /
              col("__vt").cast("double"))).cast("long")).as("ft_q"))
      .orderBy(col(groupCol))
  }

  /** Entropy RATE of the per-entity event-type Markov chain — nats of
    * genuine novelty per step once the chain's structure is priced in:
    * H = −Σᵢ πᵢ Σⱼ p_ij·ln p_ij, with π from [[markovStationary]]'s
    * integer power rounds and p_ij from [[markovTransitions]]' exact
    * counts. The session-behavior audit [[tokenEntropy]]-style
    * marginal entropy overstates: a chain that alternates a↔b has
    * high marginal entropy but ZERO entropy rate.
    *
    * Per-cell quantization (the established ln device): each (i, j)
    * contributes ⌊10⁹·(π_q/10¹²)·(n/r)·ln(r/n)⌋ — exact integers into
    * three double ops in fixed order, order-free long sum. Cells with
    * n = r (deterministic rows) contribute ln(1) = 0 exactly.
    *
    * @return one row (n_states, n_cells, h_q = Σ per-cell terms)
    */
  def markovEntropyRate(events: DataFrame, entityCol: String,
                        epochMicrosCol: String, typeCol: String,
                        tieCol: String, rounds: Int): DataFrame = {
    val pi = markovStationary(events, entityCol, epochMicrosCol, typeCol,
      tieCol, rounds)
    val tr = markovTransitions(events, entityCol, epochMicrosCol, typeCol,
      tieCol)
    val cells = tr.join(
      pi.select(col("state").as("from_type"), col("mass_q")),
      Seq("from_type"))
      .withColumn("__term",
        floor(lit(1.0e9) *
          ((col("mass_q").cast("double") / lit(1.0e12)) *
            (col("n").cast("double") / col("row_n").cast("double"))) *
          log(col("row_n").cast("double") / col("n").cast("double")))
          .cast("long"))
    val nStates = pi.agg(count(lit(1)).as("n_states"))
    cells.agg(count(lit(1)).as("n_cells"), sum(col("__term")).as("h_q"))
      .crossJoin(nStates)
      .select(col("n_states"), col("n_cells"), col("h_q"))
  }

  /** [[kmFromDurations]] with Greenwood confidence machinery — the
    * survival curve plus how much to TRUST each step: the cumulative
    * Greenwood sum and the standard error
    *
    *   G(t)  = Σ_{tᵢ≤t} dᵢ / (nᵢ·(nᵢ−dᵢ))       [per-step ⌊10¹²·⌋]
    *   se(t) = S(t)·√G(t)                        [⌊10⁶·, via the
    *           already-quantized surv_q — one multiply + one sqrt⌋]
    *
    * Event-free steps contribute exactly 0; the step that kills the
    * whole risk set (d = n) has S = 0 and se pinned to 0 (the
    * Greenwood term is undefined there and never needed). Same
    * bounded duration-grid plan as the base estimator plus one more
    * ordered window.
    *
    * @return (t_days, n_risk, d_events, n_censored, surv_q, g_cum_l,
    *         se_q)
    */
  def kmGreenwood(subjects: DataFrame, durationCol: String,
                  observedCol: String): DataFrame = {
    val km = kmFromDurations(subjects, durationCol, observedCol)
    val wCum = Window.orderBy(col("t_days").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km
      .withColumn("__g",
        when(col("d_events") === 0, lit(0L))
          .when(col("d_events") < col("n_risk"),
            floor(lit(1.0e12) * col("d_events").cast("double") /
              (col("n_risk") * (col("n_risk") - col("d_events")))
                .cast("double")).cast("long")))
      .withColumn("g_cum_l", sum(col("__g")).over(wCum))
      .select(col("t_days"), col("n_risk"), col("d_events"),
        col("n_censored"), col("surv_q"), col("g_cum_l"),
        when(col("surv_q") === 0, lit(0L))
          .otherwise(floor(col("surv_q").cast("double") *
            sqrt(col("g_cum_l").cast("double") / lit(1.0e12)))
            .cast("long")).as("se_q"))
  }
}
