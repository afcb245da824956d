package graft

import graft.operators.Mat._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ip.IpKit
import graft.operators.{Curation, Dedup, LpmJoin, MergeOps, Similarity, TimeAgg}
import graft.operators.MergeOps.MergePolicy
import graft.views.BmpViews

/** The driver-facing query inventory: each entry exercises one operator
  * family from SURVEY.md §2 (or an LLM-pipeline extension) against the
  * neutral parquet testdata, with a value-identical DuckDB oracle.
  *
  * Determinism rules used throughout so Spark and DuckDB hash-match:
  *  - money/metric sums go through Decimal(18,2) (exact) and are cast to
  *    double only at the end; averages divide an exact sum by an exact
  *    count in double (one identical fp op on both engines);
  *  - time buckets are pure integer arithmetic on epoch microseconds
  *    (events.ts → exact epoch-micros via TimeAgg.epochMicros, which
  *    adapts to either INT64-nanos or TIMESTAMP-micros fixtures);
  *  - every result has a total deterministic ORDER BY.
  */
object Queries {

  final case class Q(name: String,
                     run: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  /** Table `name` of the fixture dir; its schema is inferred once per
    * session (and listing), not on every gate build.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.SchemaCatalog.read(s, s"$dir/$name.parquet")

  /** events with `ts_us` (epoch micros, exact) added — schema-adaptive
    * via [[graft.operators.TimeAgg.epochMicros]] (the generator has
    * shipped both INT64-nanos and TIMESTAMP-micros `ts`).
    */
  private def ev(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.withColumn("ts_us", graft.operators.TimeAgg.epochMicros(e))
  }

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Casts wide integer *output* columns to string for the driver
    * compare. These columns are decimal(38,0) on the Spark side and
    * HUGEINT in the oracle; the values are equal but the driver's
    * hasher serializes int128 and decimal128 differently (the round-11
    * board's only failure class). Both engines render the integers
    * digit-identically as text — Spark's scale-0 decimal has no point
    * or exponent, matching DuckDB's `HUGEINT -> VARCHAR` — so string
    * is the wrap-safe carrier with driver-passing precedent. The
    * operators themselves keep their numeric return types; only the
    * gate output is normalized, mirrored by `CAST(.. AS VARCHAR)` in
    * the oracle's final SELECT.
    */
  private def wideStr(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("string")))

  /** DuckDB-side epoch-micros for events.ts — exact for both fixture
    * regimes: TIMESTAMP-micros reads as TIMESTAMP (cast is identity),
    * INT64-nanos reads as TIMESTAMP_NS (cast truncates to micros, the
    * same truncation as Spark's `ts div 1000` on the raw int64).
    */
  private val EvUs = "epoch_us(ts::TIMESTAMP)"

  // =====================================================================
  // Relational core (SURVEY §2.4 joins, §2.5 aggregations)
  // =====================================================================

  val q01PricingAgg = Q(
    "q01_pricing_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  val q02RoutesJoin = Q(
    "q02_j1_routes_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_orderkey) AS n_orders,
        COUNT(*) AS n_lines
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  val q03LeftEnrich = Q(
    "q03_j2_left_enrich",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("tot"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"), col("c_name"),
          coalesce(col("cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("tot").cast("double"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name,
        COALESCE(cnt, 0) AS order_cnt,
        COALESCE(CAST(tot AS DOUBLE), 0.0) AS total_spent
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  val q04DualDim = Q(
    "q04_j4_dual_dim_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  // =====================================================================
  // LPM + covering-prefix joins (J5/J6) on a synthetic 20-bit space
  // =====================================================================

  /** prefixes derived from `part`: (pstart, pend, len) in a 2^20 space. */
  private def lpmPrefixes(s: SparkSession, dir: String): DataFrame = {
    val step = pow(lit(2.0), lit(20) - col("len")).cast("long")
    t(s, dir, "part")
      .select(col("p_partkey"),
        (lit(4) + col("p_size") % 13).as("len"),
        (col("p_partkey") * 2654435761L % 1048576L).as("addr"))
      .withColumn("pstart", (col("addr") - col("addr") % step))
      .withColumn("pend", col("pstart") + step - 1)
      .drop("addr")
  }

  val q05Lpm = Q(
    "q05_j5_lpm",
    (s, dir) => {
      val probes = ev(s, dir).select(col("event_id"),
        ((col("event_id") * 40503L + col("user_id") * 9973L) % 1048576L).as("probe"))
      LpmJoin.lpmByExpansionAgg(
        probes, Seq("event_id"), "probe",
        lpmPrefixes(s, dir), "pstart", "len", bits = 20,
        payload = Seq("p_partkey"), tieBreakAsc = "p_partkey")
        .select(col("event_id"), col("probe"), col("len"), col("p_partkey"), col("pstart"))
        .orderBy("event_id")
    },
    Some(s"""
      WITH pfx0 AS (
        SELECT p_partkey, 4 + p_size % 13 AS len,
               (p_partkey * 2654435761) % 1048576 AS addr
        FROM part),
      pfx AS (
        SELECT p_partkey, len,
               addr - addr % (1::BIGINT << (20 - len)) AS pstart
        FROM pfx0),
      probes AS (
        SELECT event_id, (event_id * 40503 + user_id * 9973) % 1048576 AS probe
        FROM events),
      -- per-length expansion EQUI-join (same strategy as the engine's
      -- lpmByExpansionAgg and the q52/q73 oracle): probe BETWEEN
      -- pstart AND pend <=> truncate(probe, len) = pstart for aligned
      -- prefixes, so probes expand over the <=13 distinct lengths and
      -- hash-join — DuckDB's range-join form spilled >64 GB at 10x data.
      -- pfxr pre-reduces the prefix side to ONE row per (len, pstart):
      -- within a bucket only min(p_partkey) can win the final ranking
      -- (len DESC, pstart DESC, p_partkey ASC), and without the
      -- reduction a short-len bucket holds thousands of equivalent
      -- prefixes — at 10x that made the join fan out ~10^11 rows and
      -- spill DuckDB past 78 GB
      pfxr AS (
        SELECT len, pstart, MIN(p_partkey) AS p_partkey
        FROM pfx GROUP BY len, pstart),
      lens AS (SELECT DISTINCT len FROM pfxr),
      cand AS (
        SELECT event_id, probe, l.len,
               probe - probe % (1::BIGINT << (20 - l.len)) AS t
        FROM probes CROSS JOIN lens l)
      SELECT event_id, probe, pfxr.len AS len, p_partkey, pstart
      FROM cand JOIN pfxr ON cand.len = pfxr.len AND cand.t = pfxr.pstart
      QUALIFY row_number() OVER (PARTITION BY event_id
        ORDER BY pfxr.len DESC, pstart DESC, p_partkey ASC) = 1
      ORDER BY event_id"""))

  val q06Covering = Q(
    "q06_j6_covering_join",
    (s, dir) => {
      val roaStart = (col("s_suppkey") * 97L % 64L) * 16384L
      val roas = t(s, dir, "supplier").select(
        roaStart.as("rstart"),
        (roaStart + lit(16384L) * (lit(1) + col("s_suppkey") % 4L) - 1).as("rend"),
        (lit(8) + col("s_suppkey") % 8L).as("maxlen"))
      val step = pow(lit(2.0), lit(20) - col("len")).cast("long")
      val ribs = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (lit(6) + col("o_orderkey") % 10L).as("len"),
          (col("o_orderkey") * 7741L % 1048576L).as("addr"))
        .withColumn("rib_start", col("addr") - col("addr") % step)
        .withColumn("rib_end", col("rib_start") + step - 1)
      val matched = LpmJoin.coveringJoin(
        ribs, "rib_start", "rib_end", "len", roas, "rstart", "rend", "maxlen")
        .select(col("o_orderkey")).distinct()
        .withColumn("st", lit("valid"))
      ribs.join(matched, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("st"), lit("unknown")).as("rpki_status"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH roas AS (
        SELECT (s_suppkey * 97 % 64) * 16384 AS rstart,
               (s_suppkey * 97 % 64) * 16384 + 16384 * (1 + s_suppkey % 4) - 1 AS rend,
               8 + s_suppkey % 8 AS maxlen
        FROM supplier),
      ribs0 AS (
        SELECT o_orderkey, 6 + o_orderkey % 10 AS len,
               (o_orderkey * 7741) % 1048576 AS addr
        FROM orders),
      ribs AS (
        SELECT o_orderkey, len,
               addr - addr % (1::BIGINT << (20 - len)) AS rib_start,
               addr - addr % (1::BIGINT << (20 - len)) + (1::BIGINT << (20 - len)) - 1 AS rib_end
        FROM ribs0)
      SELECT o_orderkey,
        CASE WHEN EXISTS (SELECT 1 FROM roas r
          WHERE ribs.rib_start >= r.rstart AND ribs.rib_end <= r.rend
            AND ribs.len <= r.maxlen)
        THEN 'valid' ELSE 'unknown' END AS rpki_status
      FROM ribs ORDER BY o_orderkey"""))

  val q07EnrichOverwrite = Q(
    "q07_j7_enrich_overwrite",
    (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"),
          coalesce(when(col("c_acctbal") > 0, col("c_name")), lit("unknown"))
            .as("enriched_name"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
        COALESCE(CASE WHEN c_acctbal > 0 THEN c_name END, 'unknown') AS enriched_name,
        o_orderstatus
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey"""))

  val q08Anti = Q(
    "q08_j8_anti_join",
    (s, dir) => {
      val p = t(s, dir, "part")
      val hot = t(s, dir, "lineitem").filter(col("l_quantity") > 49.5)
        .select(col("l_partkey"))
      p.join(hot, col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey, p_name FROM part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49.5)
      ORDER BY p_partkey"""))

  // =====================================================================
  // Merge / CDC / dedup semantics (§2.2, §2.3, §2.6) over the event log
  // =====================================================================

  val q09Latest = Q(
    "q09_w1_latest_per_key",
    (s, dir) =>
      MergeOps.dedupToLatest(ev(s, dir), Seq("user_id"), Seq("ts_us", "event_id"))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy("user_id"),
    Some(s"""
      SELECT user_id, $EvUs AS ts_us, event_id, event_type, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY $EvUs DESC, event_id DESC) = 1
      ORDER BY user_id"""))

  val q10First = Q(
    "q10_m2_insert_ignore",
    (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      val current = e.limit(0)
      MergeOps.insertIgnore(current, e, Seq("user_id"), Seq("ts_us", "event_id"))
        .orderBy("user_id")
    },
    Some(s"""
      SELECT user_id, $EvUs AS ts_us, event_id, event_type
      FROM events
      WHERE user_id IS NOT NULL -- insertIgnore drops unjoinable null keys
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY $EvUs ASC, event_id ASC) = 1
      ORDER BY user_id"""))

  val q11MergeRetain = Q(
    "q11_m1_merge_retain_on_withdraw",
    (s, dir) => {
      val e = ev(s, dir).withColumn("isw", col("event_type") === "error")
      val policy = MergePolicy(
        keys = Seq("user_id"), withdrawnCol = "isw",
        orderBy = Seq("ts_us", "event_id"),
        retainOnWithdraw = Seq("value", "props"),
        alwaysUpdate = Seq("ts_us", "event_id"))
      MergeOps.applyOrdered(e, policy)
        .select(col("user_id"), col("ts_us").as("last_ts_us"),
          col("event_id").as("last_event_id"), col("isw").as("is_withdrawn"),
          col("value").as("retained_value"), col("props").as("retained_props"))
        .orderBy("user_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id, $EvUs AS ts_us, event_type, value, props
                 FROM events),
      last_all AS (
        SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
               (event_type = 'error') AS is_withdrawn
        FROM e QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ts_us DESC, event_id DESC) = 1),
      last_adv AS (
        SELECT user_id, value AS retained_value, props AS retained_props
        FROM e WHERE event_type <> 'error'
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ts_us DESC, event_id DESC) = 1),
      -- all-withdraw keys retain the FIRST update's values (the first
      -- withdraw lands with no existing row and writes its attrs) —
      -- mirrors MergeOps.applyOrdered's record-by-record fallback. The
      -- fallback keys on ROW existence, not value nullness: a last
      -- advertise with a legitimately-NULL value must stay NULL
      first_any AS (
        SELECT user_id, value AS first_value, props AS first_props
        FROM e QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ts_us ASC, event_id ASC) = 1)
      SELECT l.user_id, last_ts_us, last_event_id, is_withdrawn,
             CASE WHEN la.user_id IS NULL THEN fa.first_value
                  ELSE la.retained_value END AS retained_value,
             CASE WHEN la.user_id IS NULL THEN fa.first_props
                  ELSE la.retained_props END AS retained_props
      FROM last_all l
      LEFT JOIN last_adv la ON l.user_id = la.user_id
      LEFT JOIN first_any fa ON l.user_id = fa.user_id
      ORDER BY l.user_id"""))

  val q12Cdc = Q(
    "q12_t1_cdc_changes",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull && col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_id"), col("prev_type"), col("event_type"))
        .orderBy("event_id")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY $EvUs, event_id) AS prev_type
        FROM events)
      SELECT user_id, event_id, prev_type, event_type
      FROM e WHERE prev_type IS NOT NULL AND prev_type <> event_type
      ORDER BY event_id"""))

  val q13Purge = Q(
    "q13_t9_stale_purge",
    (s, dir) => {
      val e = ev(s, dir)
      val th = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(max(col("ts_us")).as("th_ts"))
      MergeOps.purgeStale(e, "user_id", "ts_us", th, "user_id", "th_ts")
        .groupBy(col("user_id")).agg(count(lit(1)).as("kept"))
        .orderBy("user_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, $EvUs AS ts_us, event_type FROM events),
      th AS (SELECT user_id, MAX(ts_us) AS th_ts FROM e
             WHERE event_type = 'signup' GROUP BY user_id)
      SELECT e.user_id, COUNT(*) AS kept
      FROM e LEFT JOIN th ON e.user_id = th.user_id
      WHERE th.th_ts IS NULL OR e.ts_us >= th.th_ts
      GROUP BY e.user_id ORDER BY e.user_id"""))

  // =====================================================================
  // Windowed aggregations (§2.5)
  // =====================================================================

  val q14ChgStats = Q(
    "q14_a1_chg_stats_1min",
    (s, dir) =>
      TimeAgg.chgStats(ev(s, dir), "ts_us", 60, col("event_type") === "error",
        Seq("user_id"))
        .orderBy("bucket", "user_id"),
    Some(s"""
      SELECT ($EvUs // 60000000) * 60 AS bucket, user_id,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS withdraws,
        COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS updates
      FROM events GROUP BY bucket, user_id ORDER BY bucket, user_id"""))

  val q15ChgStats2m = Q(
    "q15_a3_chg_stats_2min",
    (s, dir) =>
      ev(s, dir)
        .groupBy(TimeAgg.timeBucketSec(col("ts_us"), 120).as("bucket"),
          col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy("bucket", "user_id", "event_type"),
    Some(s"""
      SELECT ($EvUs // 120000000) * 120 AS bucket, user_id, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY bucket, user_id, event_type
      ORDER BY bucket, user_id, event_type"""))

  val q16GlobalState = Q(
    "q16_a4_global_rib_rollup",
    (s, dir) => {
      val e = ev(s, dir)
        .withColumn("peer", col("event_id") % 7L)
        .withColumn("wd", col("value") < 50)
      TimeAgg.globalRib(e, Seq("user_id"), "peer", "wd", "ts_us")
        .orderBy("user_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id % 7 AS peer, (value < 50) AS wd,
                        $EvUs AS ts_us FROM events)
      SELECT user_id,
        COUNT(DISTINCT peer) AS num_peers,
        COUNT(DISTINCT CASE WHEN NOT wd THEN peer END) AS advertising_peers,
        COUNT(DISTINCT CASE WHEN wd THEN peer END) AS withdrawn_peers,
        bool_and(wd) AS iswithdrawn,
        MAX(ts_us) AS last_ts, MIN(ts_us) AS first_ts
      FROM e GROUP BY user_id ORDER BY user_id"""))

  val q17Hourly = Q(
    "q17_a6_hourly_profile",
    (s, dir) =>
      ev(s, dir)
        .groupBy(TimeAgg.timeBucketSec(col("ts_us"), 3600).as("bucket"),
          col("event_type"))
        .agg(
          sum(when(col("value") < 50, 1).otherwise(0)).as("n_small"),
          sum(when(col("value") >= 50 && col("value") < 150, 1).otherwise(0)).as("n_mid"),
          sum(when(col("value") >= 150, 1).otherwise(0)).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy("bucket", "event_type"),
    Some(s"""
      SELECT ($EvUs // 3600000000) * 3600 AS bucket, event_type,
        CAST(SUM(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        CAST(SUM(CASE WHEN value >= 50 AND value < 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        CAST(SUM(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        COUNT(*) AS n
      FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type"""))

  val q18AggOfAgg = Q(
    "q18_a8_agg_of_agg",
    (s, dir) => {
      val perMin = TimeAgg.chgStats(ev(s, dir), "ts_us", 60,
        col("event_type") === "error", Seq("user_id"))
      TimeAgg.aggOfAgg(perMin, Seq("user_id"), Seq("updates", "withdraws"))
        .orderBy("user_id")
    },
    Some(s"""
      WITH per_min AS (
        SELECT ($EvUs // 60000000) * 60 AS bucket, user_id,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS withdraws,
          COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS updates
        FROM events GROUP BY bucket, user_id)
      SELECT user_id,
        CAST(SUM(updates) AS DOUBLE) / COUNT(updates) AS avg_updates,
        MIN(updates) AS min_updates, MAX(updates) AS max_updates,
        CAST(SUM(withdraws) AS DOUBLE) / COUNT(withdraws) AS avg_withdraws,
        MIN(withdraws) AS min_withdraws, MAX(withdraws) AS max_withdraws
      FROM per_min GROUP BY user_id ORDER BY user_id"""))

  val q19TopN = Q(
    "q19_w3_topn",
    (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
    Some("""
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""))

  // =====================================================================
  // Scalar function suite (§2.7) — inet helpers on synthetic addresses
  // =====================================================================

  val q20Scalars = Q(
    "q20_f_scalar_suite",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("ip",
          when(col("c_custkey") % 2 === 0,
            format_string("10.%d.%d.%d/%d",
              col("c_custkey") % 223L, (col("c_custkey") * 7) % 256L,
              (col("c_custkey") * 13) % 256L, lit(8) + col("c_custkey") % 25L))
            .otherwise(format_string("2001:db8::%x/%d",
              col("c_custkey") % 65536L, lit(32) + col("c_custkey") % 97L)))
        .withColumn("blanked_name",
          when(col("c_custkey") % 10 === 0, lit("")).otherwise(col("c_name")))
      c.select(
        col("c_custkey"),
        col("ip"),
        IpKit.inetHost(col("ip")).as("host"),
        IpKit.inetFamily(col("ip")).as("family"),
        IpKit.inetMaskLen(col("ip")).as("masklen"),
        BmpViews.nameOrHost(col("blanked_name"), col("ip")).as("name_or_host"),
        substring(col("c_name"), 1, 8).as("short_name"),
        regexp_replace(col("c_name"), "[#\\s]", "").as("squashed"),
        upper(col("c_name")).as("upper_name"),
        // F6: the pseudo-node-style regex filter as a flag column
        (col("ip").rlike("\\.\\d+/\\d+$") && !col("ip").endsWith("/8"))
          .as("pseudo_flag"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_name,
          CASE WHEN c_custkey % 2 = 0
            THEN printf('10.%d.%d.%d/%d', c_custkey % 223, (c_custkey * 7) % 256,
                        (c_custkey * 13) % 256, 8 + c_custkey % 25)
            ELSE printf('2001:db8::%x/%d', c_custkey % 65536, 32 + c_custkey % 97)
          END AS ip,
          CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END AS blanked_name
        FROM customer)
      SELECT c_custkey, ip,
        regexp_extract(ip, '^([^/]+)', 1) AS host,
        CASE WHEN contains(ip, ':') THEN 6 ELSE 4 END AS family,
        CAST(regexp_extract(ip, '/(\d+)$', 1) AS INTEGER) AS masklen,
        CASE WHEN length(blanked_name) > 0 THEN blanked_name
             ELSE regexp_extract(ip, '^([^/]+)', 1) END AS name_or_host,
        substring(c_name, 1, 8) AS short_name,
        regexp_replace(c_name, '[#\s]', '', 'g') AS squashed,
        upper(c_name) AS upper_name,
        (regexp_matches(ip, '\.\d+/\d+$') AND NOT ip LIKE '%/8') AS pseudo_flag
      FROM c ORDER BY c_custkey"""))

  val q21Tsv = Q(
    "q21_s2_tsv_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val e = ev(s, dir)
      val lines = e.select(col("event_id"),
        concat_ws("\t",
          col("event_id").cast("string"),
          col("event_type"),
          when(col("value") < 50, lit("")).otherwise(col("event_id").cast("string")),
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .as("line"))
      val schema = StructType(Seq(
        StructField("f_id", StringType), StructField("f_type", StringType),
        StructField("f_opt", StringType), StructField("f_ts", StringType)))
      graft.model.Messages.parseTsv(lines, "line", schema)
        .select(col("event_id"),
          col("f_type").as("parsed_type"),
          graft.model.Messages.longEmptyAsZero(col("f_opt")).as("opt_long"),
          unix_micros(graft.model.Messages.parseTs(col("f_ts"))).as("parsed_ts_us"))
        .orderBy("event_id")
    },
    Some(s"""
      SELECT event_id, event_type AS parsed_type,
        CASE WHEN value < 50 THEN 0 ELSE event_id END AS opt_long,
        $EvUs AS parsed_ts_us
      FROM events ORDER BY event_id"""))

  // =====================================================================
  // LLM-pipeline: dedup / text analysis / similarity
  // =====================================================================

  val q22ExactDedup = Q(
    "q22_dd_exact_dedup",
    (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), md5(col("text")), "doc_id")
        .orderBy("content_hash"),
    Some("""
      SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
             MIN(doc_id) AS keeper_id
      FROM documents GROUP BY md5(text) ORDER BY content_hash"""))

  val q23NgramJaccard = Q(
    "q23_dd_ngram_jaccard",
    // maxShingleDf = 50: the 100 TB stop-shingle guard, mirrored in the
    // oracle's HAVING — candidate generation drops shingles shared by
    // more than 50 docs (verification still uses full sets)
    (s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 5, threshold = 0.5, maxShingleDf = 50)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH sh AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 4, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+4], ' ')))
            AS sh
        FROM documents),
      shn AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      freq AS (SELECT tok FROM ex GROUP BY tok HAVING COUNT(*) <= 50),
      exok AS (SELECT ex.* FROM ex JOIN freq USING (tok)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM exok x JOIN exok y ON x.tok = y.tok AND x.doc_id < y.doc_id)
      SELECT id_a, id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM cand JOIN shn a ON cand.id_a = a.doc_id
                JOIN shn b ON cand.id_b = b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      ORDER BY id_a, id_b"""))

  val q24TextStats = Q(
    "q24_tx_token_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val blank = length(trim(col("text"))) === 0
      d.select(
        col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFns.subwordCount(col("text")).cast("long").as("n_subwords"),
        when(blank, lit(0L))
          .otherwise(size(array_distinct(TextFns.tokens(col("text")))).cast("long"))
          .as("n_distinct"),
        when(blank, lit(null)).otherwise(TextFns.typeTokenRatio(col("text"))).as("ttr"),
        when(blank, lit(null)).otherwise(TextFns.avgTokenLen(col("text"))).as("avg_tok_len"),
        length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, text, (length(trim(text)) = 0) AS blank,
        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
      SELECT doc_id,
        CASE WHEN blank THEN 0 ELSE len(toks) END AS n_tokens,
        len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            t -> len(t) > 0)) AS n_subwords,
        CASE WHEN blank THEN 0 ELSE len(list_distinct(toks)) END AS n_distinct,
        CASE WHEN blank THEN NULL
             ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS ttr,
        CASE WHEN blank THEN NULL
             ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks)
        END AS avg_tok_len,
        length(text) AS n_chars_calc
      FROM d ORDER BY doc_id"""))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  val q25Quality = Q(
    "q25_tx_quality_score",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFns.stopwordRatio(col("text"), Stopwords).as("stopword_ratio"),
        TextFns.qualityScore(col("text"), Stopwords).as("quality"))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, text,
        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
      f AS (SELECT doc_id, text, toks,
        CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))
          AS DOUBLE) / len(toks) AS swr,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d)
      SELECT doc_id, swr AS stopword_ratio,
        least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
          + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3 AS quality
      FROM f ORDER BY doc_id"""))

  val q26LangId = Q(
    "q26_tx_lang_id",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFns.markerHits(col("text"), TextFns.EnMarkers).cast("long").as("en_hits"),
        TextFns.markerHits(col("text"), TextFns.EsMarkers).cast("long").as("es_hits"),
        TextFns.markerHits(col("text"), TextFns.DeMarkers).cast("long").as("de_hits"),
        TextFns.markerHits(col("text"), TextFns.FrMarkers).cast("long").as("fr_hits"),
        TextFns.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
      h AS (SELECT doc_id,
        len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is'))) AS en_hits,
        len(list_filter(toks, t -> t IN ('el','la','de','los','las','que','y'))) AS es_hits,
        len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht'))) AS de_hits,
        len(list_filter(toks, t -> t IN ('le','la','les','des','et','est'))) AS fr_hits
        FROM d)
      SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
        CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
             WHEN en_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
             WHEN es_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
             WHEN de_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
             ELSE 'fr' END AS pred_lang
      FROM h ORDER BY doc_id"""))

  val q27Fingerprint = Q(
    "q27_tx_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
        list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
          t -> CAST(ascii(t) + ascii(t[-1]) + len(t) AS BIGINT)) AS vals
        FROM documents)
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS fp
      FROM d ORDER BY doc_id"""))

  val q28CosineTopK = Q(
    "q28_ann_cosine_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0) AS cos
        FROM q JOIN c ON query_id <> neighbor_id)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id, round(cos, 6) AS cos_r
      FROM scored
      QUALIFY rank <= 3
      ORDER BY query_id, rank"""))

  // LSH gate queries run the ENGINE-PORTABLE hash variants (md5-derived
  // 60-bit hashes, overflow-free universal family) so the DuckDB oracle
  // reproduces candidate generation EXACTLY — the xxhash64 defaults are
  // the throughput path and are spec-covered (DedupSpec).
  val q29MinHash = Q(
    "q29_dd_minhash_lsh",
    // maxBandBucket = 50: the mega-bucket guard (one viral template
    // must not produce b²/2 candidates), mirrored in the oracle
    (s, dir) =>
      Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 6, threshold = 0.3,
        baseHash = Dedup.md5Base, maxBandBucket = 50)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b"),
    Some("""
      WITH sh0 AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')))
            AS sh
        FROM documents),
      shn AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT % 2147483647 AS hh FROM ex),
      params AS (SELECT unnest(range(0, 12)) AS s),
      mh AS (
        SELECT doc_id, s,
          MIN(((1000003 * s + 12345) * hh + (999983 * s + 7)) % 2147483647) AS m
        FROM h CROSS JOIN params GROUP BY doc_id, s),
      bandsig AS (
        SELECT doc_id, s // 2 AS band,
          MIN(CASE WHEN s % 2 = 0 THEN m END) AS m0,
          MIN(CASE WHEN s % 2 = 1 THEN m END) AS m1
        FROM mh GROUP BY doc_id, band),
      bok AS (SELECT band, m0, m1 FROM bandsig
              GROUP BY band, m0, m1 HAVING COUNT(*) <= 50),
      bandok AS (SELECT bandsig.* FROM bandsig JOIN bok USING (band, m0, m1)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandok a JOIN bandok b
          ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
         AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      FROM cand JOIN shn a ON cand.id_a = a.doc_id
                JOIN shn b ON cand.id_b = b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
      ORDER BY id_a, id_b"""))

  val q30SimHash = Q(
    "q30_dd_simhash",
    (s, dir) =>
      // maxHamming 3 < nChunks 4 keeps the pigeonhole banding EXACT
      // (every qualifying pair shares a chunk), so the all-pairs oracle
      // sees the same result the banded scale path produces
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
        tokenHash = Dedup.md5Hash60, bits = 60)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents),
      h AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h FROM tok),
      bitsums AS (
        SELECT doc_id, bb.b AS bit, SUM((h >> bb.b) & 1) AS c, COUNT(*) AS n
        FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
        GROUP BY doc_id, bb.b),
      fp AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN 2 * c >= n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS fp
        FROM bitsums GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
      ORDER BY id_a, id_b"""))

  val q31LshAnn = Q(
    "q31_ann_lsh_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshCosineTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, dim = 64, planes = 6)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    },
    // the oracle recomputes the deterministic hyperplane weights inline
    // (same overflow-free integer formula as Similarity.planeWeight) and
    // replicates bucket assignment + within-bucket exact top-k
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      dots AS (
        SELECT vec_id, pp.p AS p,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) *
                 (((pp.p * 1103515 + (i - 1) * 12347 + 42) * 2654435761 % 1000003)
                  / 1000003.0 - 0.5))) AS dp
        FROM v CROSS JOIN (SELECT unnest(range(0, 6)) AS p) pp),
      sig AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id),
      vs AS (SELECT v.vec_id, cv, sig FROM v JOIN sig USING (vec_id)),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.cv) + 1),
            i -> CAST(q.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(q.cv) + 1),
               i -> CAST(q.cv[i] AS DOUBLE) * CAST(q.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.cv) + 1),
               i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))), 0) AS cos
        FROM vs q JOIN vs c ON q.sig = c.sig AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 50)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id, round(cos, 6) AS cos
      FROM scored
      QUALIFY rank <= 3
      ORDER BY query_id, rank"""))

  // =====================================================================
  // Coverage extensions: A2/A4-incremental/A7, J3, F11/F15, retention,
  // dedup-within-TTL
  // =====================================================================

  val q32ChgByAsn = Q(
    "q32_a2_chg_stats_byasn",
    (s, dir) =>
      TimeAgg.chgStats(ev(s, dir), "ts_us", 60, col("event_type") === "error",
        Seq("user_id", "event_type"))
        .orderBy("bucket", "user_id", "event_type"),
    Some(s"""
      SELECT ($EvUs // 60000000) * 60 AS bucket, user_id, event_type,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS withdraws,
        COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS updates
      FROM events GROUP BY bucket, user_id, event_type
      ORDER BY bucket, user_id, event_type"""))

  val q33Incremental = Q(
    "q33_a4_incremental_watermark",
    (s, dir) => {
      val horizon = 7L * 86400 * 1000000 // 7-day re-run horizon
      val e = TimeAgg.incrementalSince(ev(s, dir), "ts_us", horizon)
        .withColumn("peer", col("event_id") % 7L)
        .withColumn("wd", col("value") < 50)
      TimeAgg.globalRib(e, Seq("user_id"), "peer", "wd", "ts_us")
        .orderBy("user_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id % 7 AS peer, (value < 50) AS wd,
                        $EvUs AS ts_us FROM events),
      w AS (SELECT MAX(ts_us) - 7*86400*1000000::BIGINT AS wm FROM e)
      SELECT user_id,
        COUNT(DISTINCT peer) AS num_peers,
        COUNT(DISTINCT CASE WHEN NOT wd THEN peer END) AS advertising_peers,
        COUNT(DISTINCT CASE WHEN wd THEN peer END) AS withdrawn_peers,
        bool_and(wd) AS iswithdrawn,
        MAX(ts_us) AS last_ts, MIN(ts_us) AS first_ts
      FROM e, w WHERE e.ts_us >= w.wm
      GROUP BY user_id ORDER BY user_id"""))

  val q34RibCounts = Q(
    "q34_a7_rib_counts_15min",
    (s, dir) =>
      ev(s, dir)
        .groupBy(TimeAgg.timeBucketSec(col("ts_us"), 900).as("bucket"), col("user_id"))
        .agg(
          sum(when(col("event_id") % 2 === 0, 1).otherwise(0)).as("v4_count"),
          sum(when(col("event_id") % 2 =!= 0, 1).otherwise(0)).as("v6_count"))
        .orderBy("bucket", "user_id"),
    Some(s"""
      SELECT ($EvUs // 900000000) * 900 AS bucket, user_id,
        CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v4_count,
        CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS v6_count
      FROM events GROUP BY bucket, user_id ORDER BY bucket, user_id"""))

  val q35LogJoin = Q(
    "q35_j3_log_history_join",
    (s, dir) => {
      val e = ev(s, dir); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      e.join(broadcast(c), col("user_id") + 1 === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("event_id"), col("event_type"), col("c_name"), col("n_name"),
          col("r_name"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, event_type, c_name, n_name, r_name
      FROM events
        JOIN customer ON user_id + 1 = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      ORDER BY event_id"""))

  val q36Arrays = Q(
    "q36_f11_array_ops",
    (s, dir) => {
      val toks = TextFns.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        size(toks).cast("long").as("n"),
        array_join(slice(toks, 1, 5), " ").as("head5"),
        array_contains(toks, "the").as("has_the"),
        array_position(toks, "data").cast("long").as("data_pos"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
      SELECT doc_id,
        toks[1] AS first_tok,
        toks[-1] AS last_tok,
        len(toks) AS n,
        array_to_string(toks[1:5], ' ') AS head5,
        list_contains(toks, 'the') AS has_the,
        CAST(COALESCE(list_position(toks, 'data'), 0) AS BIGINT) AS data_pos
      FROM d ORDER BY doc_id"""))

  val q37AsnFilter = Q(
    "q37_f15_reserved_filter",
    (s, dir) => {
      val asn = col("o_orderkey") * 37L % 131072L
      t(s, dir, "orders")
        .withColumn("asn", asn)
        .filter(!col("asn").isin(0L, 23456L) &&
          !col("asn").between(64496L, 65535L) &&
          !col("o_orderstatus").isin("X", "Y"))
        .select(col("o_orderkey"), col("asn"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, (o_orderkey * 37) % 131072 AS asn
      FROM orders
      WHERE (o_orderkey * 37) % 131072 NOT IN (0, 23456)
        AND (o_orderkey * 37) % 131072 NOT BETWEEN 64496 AND 65535
        AND o_orderstatus NOT IN ('X', 'Y')
      ORDER BY o_orderkey"""))

  val q38Retention = Q(
    "q38_r1_retention",
    (s, dir) => {
      val cutoff = 1705276800000000L // 2024-01-15 00:00:00 UTC in micros
      TimeAgg.applyRetention(ev(s, dir), "ts_us", cutoff)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("kept"), min(col("ts_us")).as("min_ts"))
        .orderBy("event_type")
    },
    Some(s"""
      SELECT event_type, COUNT(*) AS kept, MIN($EvUs) AS min_ts
      FROM events WHERE $EvUs >= 1705276800000000
      GROUP BY event_type ORDER BY event_type"""))

  val q39DedupTtl = Q(
    "q39_d1_dedup_within_ttl",
    (s, dir) => {
      val bucketed = ev(s, dir)
        .withColumn("ttl_bucket", TimeAgg.timeBucketSec(col("ts_us"), 1200))
      MergeOps.dedupToLatest(bucketed, Seq("user_id", "event_type", "ttl_bucket"),
        Seq("ts_us", "event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("survivors"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH b AS (SELECT event_type, user_id, event_id, $EvUs AS ts_us,
                        ($EvUs // 1200000000) * 1200 AS ttl_bucket FROM events),
      d AS (SELECT * FROM b QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type, ttl_bucket
        ORDER BY ts_us DESC, event_id DESC) = 1)
      SELECT event_type, COUNT(*) AS survivors FROM d
      GROUP BY event_type ORDER BY event_type"""))

  val q40GeoLpm = Q(
    "q40_j5_geo_lpm_inet",
    (s, dir) => {
      graft.plans.GraftFunctions.register(s)
      // geo table: region /8s + nation /16s as REAL dotted prefixes,
      // parsed by the native inet_start/inet_end Catalyst expressions
      val regions = t(s, dir, "region").select(
        format_string("%d.0.0.0/8", lit(10) + col("r_regionkey")).as("geo_prefix"),
        lit(8).as("len"))
      val nations = t(s, dir, "nation").select(
        format_string("%d.%d.0.0/16", lit(10) + col("n_regionkey"), col("n_nationkey"))
          .as("geo_prefix"),
        lit(16).as("len"))
      val geo = regions.unionByName(nations)
        .withColumn("gstart", call_function("inet_start", col("geo_prefix")))
        .withColumn("gend", call_function("inet_end", col("geo_prefix")))
      val probes = t(s, dir, "customer").select(
        col("c_custkey"),
        format_string("%d.%d.%d.%d", lit(10) + col("c_custkey") % 5L,
          col("c_custkey") % 25L, col("c_custkey") % 256L,
          (col("c_custkey") * 3) % 256L).as("ip"))
        .withColumn("addr", call_function("inet_num", col("ip")))
      LpmJoin.lpmRange(probes, Seq("c_custkey"), "addr",
        geo, "gstart", "gend", "len")
        .select(col("c_custkey"), col("ip"), col("geo_prefix"), col("len"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH geo AS (
        SELECT printf('%d.0.0.0/8', 10 + r_regionkey) AS geo_prefix, 8 AS len,
               (10 + r_regionkey) * 16777216 AS gstart,
               (11 + r_regionkey) * 16777216 - 1 AS gend
        FROM region
        UNION ALL
        SELECT printf('%d.%d.0.0/16', 10 + n_regionkey, n_nationkey), 16,
               (10 + n_regionkey) * 16777216 + n_nationkey * 65536,
               (10 + n_regionkey) * 16777216 + (n_nationkey + 1) * 65536 - 1
        FROM nation),
      probes AS (
        SELECT c_custkey,
          printf('%d.%d.%d.%d', 10 + c_custkey % 5, c_custkey % 25,
                 c_custkey % 256, (c_custkey * 3) % 256) AS ip,
          (10 + c_custkey % 5) * 16777216 + (c_custkey % 25) * 65536
            + (c_custkey % 256) * 256 + (c_custkey * 3) % 256 AS addr
        FROM customer)
      SELECT c_custkey, ip, geo_prefix, len
      FROM probes JOIN geo ON addr BETWEEN gstart AND gend
      QUALIFY row_number() OVER (PARTITION BY c_custkey
        ORDER BY len DESC, gstart DESC) = 1
      ORDER BY c_custkey"""))

  // shared by q43 (plain) and q60 (strict + tolerance): purchases side +
  // per-(user, ts) deduped signups side
  private def asOfSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val signups = MergeOps.dedupToLatest(
      e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts_us").as("s_ts"), col("event_id").as("s_event_id")),
      Seq("user_id", "s_ts"), Seq("s_event_id"))
    (purchases, signups)
  }

  val q43AsOf = Q(
    "q43_asof_point_in_time",
    (s, dir) => {
      val (purchases, signups) = asOfSides(s, dir)
      graft.operators.AsOfJoin.asOf(purchases, signups, Seq("user_id"),
        "ts_us", "s_ts", Seq("s_event_id", "s_ts"))
        .select("user_id", "event_id", "ts_us", "s_event_id", "s_ts")
        .orderBy("event_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, $EvUs AS ts_us FROM events),
      l AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'),
      r0 AS (SELECT user_id, ts_us AS s_ts, event_id AS s_event_id FROM e
             WHERE event_type = 'signup'),
      r AS (SELECT * FROM r0 QUALIFY row_number() OVER (
              PARTITION BY user_id, s_ts ORDER BY s_event_id DESC) = 1)
      SELECT l.user_id, l.event_id, l.ts_us, r.s_event_id, r.s_ts
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.s_ts <= l.ts_us
      QUALIFY row_number() OVER (PARTITION BY l.user_id, l.event_id
        ORDER BY r.s_ts DESC NULLS LAST, r.s_event_id DESC NULLS LAST) = 1
      ORDER BY l.event_id"""))

  val q44SemiIntersect = Q(
    "q44_u1_semi_intersection",
    (s, dir) => {
      val e = ev(s, dir)
      val users = e.select(col("user_id")).distinct()
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val errorers = e.filter(col("event_type") === "error").select(col("user_id"))
      users.join(buyers, Seq("user_id"), "left_semi")
        .join(errorers, Seq("user_id"), "left_semi")
        .orderBy("user_id")
    },
    Some("""
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
      ORDER BY user_id"""))

  val q45RunningSum = Q(
    "q45_w4_running_aggregates",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir).select(
        col("user_id"), col("event_id"),
        count(lit(1)).over(cum).as("running_n"),
        sum(dec(col("value"))).over(cum).cast("double").as("running_value"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
        .orderBy("event_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id, $EvUs AS ts_us,
                        CAST(value AS DECIMAL(18,2)) AS v FROM events)
      SELECT user_id, event_id,
        COUNT(*) OVER w_cum AS running_n,
        CAST(SUM(v) OVER w_cum AS DOUBLE) AS running_value,
        lag(event_id) OVER w AS prev_event_id,
        ts_us - lag(ts_us) OVER w AS gap_us
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
             w_cum AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  val q46PropsExtract = Q(
    "q46_f_semistructured_props",
    (s, dir) =>
      ev(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
        .groupBy((col("k") % 10L).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("k_mod"),
    Some("""
      WITH e AS (SELECT user_id,
        -- NULLIF guards the no-match case: DuckDB regexp_extract yields
        -- '' there and CAST('' AS BIGINT) ERRORS, where Spark's
        -- regexp_extract(..).cast produces NULL — the oracle must reach
        -- the same NULL group, not abort
        CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
        FROM events)
      SELECT k % 10 AS k_mod, COUNT(*) AS n,
        CAST(SUM(k) AS BIGINT) AS sum_k,
        COUNT(DISTINCT user_id) AS n_users
      FROM e GROUP BY k_mod ORDER BY k_mod"""))

  val q42MmFeatures = Q(
    "q42_mm_feature_extract",
    (s, dir) => {
      // documents' text bytes stand in for opaque media content — the
      // pipeline shape (binary col → batched per-partition decode →
      // feature vector) is the real thing, the decoder is the stub
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), lit("text").as("kind"),
          encode(col("text"), "UTF-8").as("content"))
      graft.operators.Multimodal.extractFeatures(media, "content", dim = 8)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("f0"),
          element_at(col("features"), 2).cast("long").as("f1"),
          size(col("features")).as("fdim"))
        .orderBy("media_id")
    },
    // the stub features are integer byte-folds reduced mod 2^24 (exact
    // in float32 at any content size) — the oracle recomputes them from
    // the hex dump of the UTF-8 bytes (byte j feeds lane (j-1) % 8;
    // f0/f1 are lanes 0/1)
    Some("""
      WITH b AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents),
      bytes AS (
        SELECT media_id, unnest(range(1, n + 1)) AS j, h FROM b),
      agg AS (
        SELECT media_id,
          SUM(CASE WHEN (j - 1) % 8 = 0
              THEN ('0x' || substr(h, 2 * j - 1, 2))::BIGINT END) AS s0,
          SUM(CASE WHEN (j - 1) % 8 = 1
              THEN ('0x' || substr(h, 2 * j - 1, 2))::BIGINT END) AS s1
        FROM bytes GROUP BY media_id)
      SELECT b.media_id,
        CAST(COALESCE(s0, 0) % 16777216 AS BIGINT) AS f0,
        CAST(COALESCE(s1, 0) % 16777216 AS BIGINT) AS f1,
        8 AS fdim
      FROM b LEFT JOIN agg USING (media_id)
      ORDER BY media_id"""))

  val q41IvfAnn = Q(
    "q41_ann_ivf_topk",
    (s, dir) => {
      // exact-recall configuration (nprobe = nClusters): every cluster
      // is probed, so the full IVF machinery — centroid build, cluster
      // assignment, probe routing, per-cluster scoring — must reproduce
      // the brute-force answer bit-for-bit, which the oracle computes
      // directly. The approximate regime (nprobe < nClusters) is
      // spec-covered (SimilarityAndSkewSpec).
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 3, nClusters = 16, nprobe = 16)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0) AS cos
        FROM q JOIN c ON query_id <> neighbor_id)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id, round(cos, 6) AS cos
      FROM scored
      QUALIFY rank <= 3
      ORDER BY query_id, rank"""))

  // =====================================================================
  // Round-2 coverage: M13 precedence merge, T7 cascade, embedding
  // near-dup, deterministic sampling
  // =====================================================================

  val q47InfoAsnMerge = Q(
    "q47_m13_info_asn_precedence",
    (s, dir) => {
      // whois = every customer; peeringdb = every 3rd (authoritative).
      // mergeInfoAsn: peeringdb overwrites, whois fills the gaps
      // (gen_whois_asn.py:186-199 precedence semantics)
      val whois = t(s, dir, "customer").select(
        col("c_custkey").as("asn"), col("c_name").as("as_name"),
        lit("whois").as("source"))
      val pdb = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0).select(
        col("c_custkey").as("asn"), upper(col("c_name")).as("as_name"),
        lit("peeringdb").as("source"))
      graft.sources.Enrichment.mergeInfoAsn(whois, pdb)
        .orderBy("asn")
    },
    Some("""
      WITH whois AS (
        SELECT c_custkey AS asn, c_name AS as_name, 'whois' AS source
        FROM customer),
      pdb AS (
        SELECT c_custkey AS asn, upper(c_name) AS as_name, 'peeringdb' AS source
        FROM customer WHERE c_custkey % 3 = 0)
      SELECT asn, as_name, source FROM pdb
      UNION ALL
      SELECT w.asn, w.as_name, w.source FROM whois w
      WHERE NOT EXISTS (SELECT 1 FROM pdb p WHERE p.asn = w.asn)
      ORDER BY asn"""))

  val q48RouterCascade = Q(
    "q48_t7_router_cascade",
    (s, dir) => {
      // peers = customers pinned to router c_custkey % 10; router-up
      // events = routers 0..4 coming up at ts 500k. Peers whose state
      // predates their router's up-transition cascade to 'down'
      // (RouterQuery.java:121-153 semantics)
      val peers = t(s, dir, "customer").select(
        col("c_custkey").as("hash_id"),
        (col("c_custkey") % 10).as("router_hash_id"),
        lit("up").as("state"),
        (col("c_custkey") * 1000).as("ts_us"))
      val ups = t(s, dir, "nation").filter(col("n_nationkey") < 5).select(
        col("n_nationkey").as("hash_id"), lit("up").as("state"),
        lit(500000L).as("ts_us"))
      graft.streaming.Ingest.routerUpCascade(peers, ups)
        .orderBy("hash_id")
    },
    Some("""
      WITH peers AS (
        SELECT c_custkey AS hash_id, c_custkey % 10 AS router_hash_id,
               'up' AS state, c_custkey * 1000 AS ts_us
        FROM customer),
      ups AS (
        SELECT n_nationkey AS rh, MIN(500000) AS rts
        FROM nation WHERE n_nationkey < 5 GROUP BY n_nationkey)
      SELECT hash_id, router_hash_id,
        CASE WHEN rts IS NOT NULL AND ts_us < rts THEN 'down' ELSE state END AS state,
        ts_us
      FROM peers LEFT JOIN ups ON router_hash_id = rh
      ORDER BY hash_id"""))

  val q49EmbedNearDup = Q(
    "q49_dd_embed_neardup",
    (s, dir) =>
      // LSH-blocked embedding near-dup: candidates share the 6-plane
      // bucket (deterministic overflow-free hyperplanes — the oracle
      // recomputes them), verified by exact cosine ≥ threshold.
      // maxBucket = 100 is the degenerate-bucket guard, mirrored in
      // the oracle's HAVING; the multi-table recall path (tables > 1)
      // is spec-covered (SimilarityAndSkewSpec)
      Similarity.cosineNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, dim = 64, planes = 6, maxBucket = 100)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b"),
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      dots AS (
        SELECT vec_id, pp.p AS p,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) *
                 (((pp.p * 1103515 + (i - 1) * 12347 + 42) * 2654435761 % 1000003)
                  / 1000003.0 - 0.5))) AS dp
        FROM v CROSS JOIN (SELECT unnest(range(0, 6)) AS p) pp),
      sig AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id),
      sok AS (SELECT sig FROM sig GROUP BY sig HAVING COUNT(*) <= 100),
      vs AS (SELECT v.vec_id, cv, sig FROM v JOIN sig USING (vec_id)
             JOIN sok USING (sig)),
      scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_sum(list_transform(range(1, len(a.cv) + 1),
            i -> CAST(a.cv[i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(a.cv) + 1),
               i -> CAST(a.cv[i] AS DOUBLE) * CAST(a.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(b.cv) + 1),
               i -> CAST(b.cv[i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))), 0) AS cos
        FROM vs a JOIN vs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(cos, 6) AS cos
      FROM scored WHERE cos >= 0.3
      ORDER BY id_a, id_b"""))

  val q50DetSample = Q(
    "q50_s_deterministic_sample",
    (s, dir) =>
      // stable hash-based 10% sample — the training-pipeline primitive
      // for reproducible subsets/splits (same rows on every engine and
      // every run, unlike rand()-based sampling)
      t(s, dir, "documents")
        .filter(Dedup.md5Hash60(col("doc_id").cast("string")) % 100 < 10)
        .select(col("doc_id"), length(col("text")).as("text_len"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, CAST(len(text) AS INT) AS text_len
      FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
      ORDER BY doc_id"""))

  // =====================================================================
  // Round-3 coverage: T6 peer default naming, IPv6 binary LPM, M14
  // pdb_exchange_peers, A9 rd-keyed l3vpn stats
  // =====================================================================

  val q51PeerInherit = Q(
    "q51_t6_peer_default_naming",
    (s, dir) => {
      // peers = customers; every 4th reports the loc-rib default
      // (peer_addr AND peer_bgp_id both 0.0.0.0) → inherits name/bgp_id
      // from its router (9_triggers.sql:46-49); addr-only / bgp-only
      // zeros must NOT inherit. router_hash_id % 30 > 24 rows have no
      // router → trigger's SELECT INTO yields NULLs.
      val peers = t(s, dir, "customer").select(
        col("c_custkey").as("hash_id"),
        col("c_name").as("name"),
        (col("c_custkey") % 30).as("router_hash_id"),
        when((col("c_custkey") % 4).isin(0, 1), lit("0.0.0.0"))
          .otherwise(format_string("10.1.%d.%d",
            col("c_custkey") % 256L, (col("c_custkey") * 3) % 256L)).as("peer_addr"),
        when((col("c_custkey") % 4).isin(0, 2), lit("0.0.0.0"))
          .otherwise(format_string("10.2.%d.%d",
            col("c_custkey") % 256L, (col("c_custkey") * 7) % 256L)).as("peer_bgp_id"))
      val routers = t(s, dir, "nation").select(
        col("n_nationkey").as("hash_id"),
        col("n_name").as("name"),
        format_string("172.16.%d.1", col("n_nationkey")).as("ip_address"))
      graft.streaming.Ingest.inheritPeerDefaults(peers, routers)
        .select(col("hash_id"), col("peer_addr"), col("peer_bgp_id"),
          col("name"), col("router_hash_id"))
        .orderBy("hash_id")
    },
    Some("""
      WITH peers AS (
        SELECT c_custkey AS hash_id, c_name AS name,
          c_custkey % 30 AS router_hash_id,
          CASE WHEN c_custkey % 4 IN (0, 1) THEN '0.0.0.0'
               ELSE printf('10.1.%d.%d', c_custkey % 256, (c_custkey * 3) % 256)
          END AS peer_addr,
          CASE WHEN c_custkey % 4 IN (0, 2) THEN '0.0.0.0'
               ELSE printf('10.2.%d.%d', c_custkey % 256, (c_custkey * 7) % 256)
          END AS peer_bgp_id
        FROM customer),
      routers AS (
        SELECT n_nationkey AS hash_id, n_name AS name,
               printf('172.16.%d.1', n_nationkey) AS ip_address
        FROM nation)
      SELECT p.hash_id, p.peer_addr,
        CASE WHEN p.peer_addr = '0.0.0.0' AND p.peer_bgp_id = '0.0.0.0'
             THEN r.ip_address ELSE p.peer_bgp_id END AS peer_bgp_id,
        CASE WHEN p.peer_addr = '0.0.0.0' AND p.peer_bgp_id = '0.0.0.0'
             THEN r.name ELSE p.name END AS name,
        p.router_hash_id
      FROM peers p LEFT JOIN routers r ON p.router_hash_id = r.hash_id
      ORDER BY p.hash_id"""))

  // family-agnostic LPM inputs shared by q52 (range path) and q73
  // (expansion equi-join path) — the two physical strategies must
  // hash-match each other AND the one DuckDB oracle (reference
  // find_geo_ip, 1_base.sql:66-81): v4 /8s + v6 /32s + /48s + the
  // IPv4-mapped /96; probes mix v4, v6, and ::ffff: mapped addresses.
  // All prefix lengths are nibble-aligned so the DuckDB oracle
  // reproduces containment as a hex-string prefix match.
  private def lpmV6Geo(s: SparkSession, dir: String): DataFrame = {
    val geo = t(s, dir, "region").select(
      format_string("%d.0.0.0/8", lit(10) + col("r_regionkey")).as("geo_prefix"))
      .unionByName(t(s, dir, "nation").select(
        format_string("2001:%x::/32", col("n_nationkey") + 1).as("geo_prefix")))
      .unionByName(t(s, dir, "nation").select(
        format_string("2001:%x:%x::/48",
          (col("n_nationkey") % 5) + 1, col("n_nationkey")).as("geo_prefix")))
      .unionByName(t(s, dir, "region").filter(col("r_regionkey") === 0)
        .select(lit("::ffff:0:0/96").as("geo_prefix")))
    IpKit.withPrefixRange(geo, "geo_prefix")
  }

  private def lpmV6Probes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      when(col("c_custkey") % 3 === 0,
        format_string("%d.%d.%d.%d", lit(10) + col("c_custkey") % 5L,
          col("c_custkey") % 25L, col("c_custkey") % 256L,
          (col("c_custkey") * 3) % 256L))
        .when(col("c_custkey") % 3 === 1,
          format_string("2001:%x:%x::%x", lit(1) + col("c_custkey") % 5L,
            col("c_custkey") % 20L, col("c_custkey") % 65536L))
        .otherwise(format_string("::ffff:%d.%d.%d.%d",
          col("c_custkey") % 256L, (col("c_custkey") * 3) % 256L,
          (col("c_custkey") * 5) % 256L, (col("c_custkey") * 7) % 256L))
        .as("ip"))
      .withColumn("addr", IpKit.inetNum(col("ip"))) // native codegen'd

  val q52LpmV6 = Q(
    "q52_j5_lpm_ipv6_binary",
    (s, dir) => {
      // family guard: 4-byte v4 forms never compare into 16-byte v6
      // ranges (mapped probes are 16-byte, so they match only v6 dims)
      LpmJoin.lpmRange(lpmV6Probes(s, dir), Seq("c_custkey"), "addr",
        lpmV6Geo(s, dir), "ip_start", "ip_end", "ip_len",
        extraCond = length(col("addr")) === length(col("ip_start")))
        .select(col("c_custkey"), col("ip"), col("geo_prefix"),
          col("ip_len").as("len"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH geo AS (
        SELECT printf('%d.0.0.0/8', 10 + r_regionkey) AS geo_prefix, 8 AS len,
               4 AS fam, printf('%02x', 10 + r_regionkey) AS hp
        FROM region
        UNION ALL
        SELECT printf('2001:%x::/32', n_nationkey + 1), 32, 6,
               '2001' || printf('%04x', n_nationkey + 1)
        FROM nation
        UNION ALL
        SELECT printf('2001:%x:%x::/48', (n_nationkey % 5) + 1, n_nationkey), 48, 6,
               '2001' || printf('%04x', (n_nationkey % 5) + 1) || printf('%04x', n_nationkey)
        FROM nation
        UNION ALL
        SELECT '::ffff:0:0/96', 96, 6, '00000000000000000000ffff'
        FROM region WHERE r_regionkey = 0),
      probes AS (
        SELECT c_custkey,
          CASE WHEN c_custkey % 3 = 0
                 THEN printf('%d.%d.%d.%d', 10 + c_custkey % 5, c_custkey % 25,
                             c_custkey % 256, (c_custkey * 3) % 256)
               WHEN c_custkey % 3 = 1
                 THEN printf('2001:%x:%x::%x', 1 + c_custkey % 5, c_custkey % 20,
                             c_custkey % 65536)
               ELSE printf('::ffff:%d.%d.%d.%d', c_custkey % 256,
                           (c_custkey * 3) % 256, (c_custkey * 5) % 256,
                           (c_custkey * 7) % 256) END AS ip,
          CASE WHEN c_custkey % 3 = 0 THEN 4 ELSE 6 END AS fam,
          CASE WHEN c_custkey % 3 = 0
                 THEN printf('%02x%02x%02x%02x', 10 + c_custkey % 5, c_custkey % 25,
                             c_custkey % 256, (c_custkey * 3) % 256)
               WHEN c_custkey % 3 = 1
                 THEN '2001' || printf('%04x', 1 + c_custkey % 5)
                      || printf('%04x', c_custkey % 20) || '0000000000000000'
                      || printf('%04x', c_custkey % 65536)
               ELSE '00000000000000000000ffff'
                    || printf('%02x%02x%02x%02x', c_custkey % 256,
                              (c_custkey * 3) % 256, (c_custkey * 5) % 256,
                              (c_custkey * 7) % 256) END AS hx
        FROM customer)
      SELECT c_custkey, ip, geo_prefix, len
      FROM probes p JOIN geo g
        ON p.fam = g.fam AND substr(p.hx, 1, len // 4) = g.hp
      QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY len DESC) = 1
      ORDER BY c_custkey"""))

  val q73LpmV6Expansion = Q(
    "q73_j5_lpm_ipv6_expansion",
    (s, dir) => {
      // same inputs and oracle as q52, different physical strategy: the
      // ancestor-expansion equi-join (VERDICT r4 item 1 — the v6 scale
      // path that replaces the broadcast nested-loop for large v6 dims)
      LpmJoin.lpmByExpansionBinary(lpmV6Probes(s, dir), Seq("c_custkey"), "addr",
        lpmV6Geo(s, dir), "ip_start", "ip_len",
        payload = Seq("geo_prefix"), tieBreakAsc = "geo_prefix")
        .select(col("c_custkey"), col("ip"), col("geo_prefix"),
          col("ip_len").as("len"))
        .orderBy("c_custkey")
    },
    q52LpmV6.oracle)

  val q53PdbIxPeers = Q(
    "q53_m14_pdb_ix_peers",
    (s, dir) => {
      // two PeeringDB refresh snapshots over the same IX-peer key space
      // (ix_id, peer_ipv4, peer_ipv6): the newer run overwrites every
      // non-key column for the rows it carries (peeringdb.py:48-60
      // ON CONFLICT DO UPDATE), untouched rows survive
      def snapshot(df: DataFrame, speed: Column, tsUs: Column): DataFrame = df.select(
        (col("s_suppkey") % 8).as("ix_id"),
        format_string("IX-%d", col("s_suppkey") % 8).as("ix_name"),
        format_string("206.%d.%d.1", col("s_suppkey") % 16L, col("s_suppkey") % 250L)
          .as("peer_ipv4"),
        format_string("2001:504:%x::%x", col("s_suppkey") % 8L, col("s_suppkey"))
          .as("peer_ipv6"),
        (col("s_suppkey") % 3 === 0).as("rs_peer"),
        col("s_name").as("peer_name"),
        (col("s_suppkey") * 100).as("peer_asn"),
        speed.as("speed"),
        tsUs.as("ts_us"))
      val sup  = t(s, dir, "supplier")
      val base = snapshot(sup, lit(1000L) * (lit(1) + col("s_suppkey") % 10L),
        col("s_suppkey").cast("long"))
      val upd  = snapshot(sup.filter(col("s_suppkey") % 2 === 0), lit(10000L),
        lit(1000000L) + col("s_suppkey"))
      graft.sources.Enrichment.mergePdbIxPeers(base, upd)
        .select("ix_id", "peer_ipv4", "peer_ipv6", "ix_name", "peer_name",
          "peer_asn", "rs_peer", "speed", "ts_us")
        .orderBy("ix_id", "peer_ipv4", "peer_ipv6")
    },
    Some("""
      WITH base AS (
        SELECT s_suppkey % 8 AS ix_id, printf('IX-%d', s_suppkey % 8) AS ix_name,
          printf('206.%d.%d.1', s_suppkey % 16, s_suppkey % 250) AS peer_ipv4,
          printf('2001:504:%x::%x', s_suppkey % 8, s_suppkey) AS peer_ipv6,
          (s_suppkey % 3 = 0) AS rs_peer, s_name AS peer_name,
          s_suppkey * 100 AS peer_asn, 1000 * (1 + s_suppkey % 10) AS speed,
          s_suppkey AS ts_us
        FROM supplier),
      upd AS (
        SELECT s_suppkey % 8 AS ix_id, printf('IX-%d', s_suppkey % 8) AS ix_name,
          printf('206.%d.%d.1', s_suppkey % 16, s_suppkey % 250) AS peer_ipv4,
          printf('2001:504:%x::%x', s_suppkey % 8, s_suppkey) AS peer_ipv6,
          (s_suppkey % 3 = 0) AS rs_peer, s_name AS peer_name,
          s_suppkey * 100 AS peer_asn, 10000 AS speed,
          1000000 + s_suppkey AS ts_us
        FROM supplier WHERE s_suppkey % 2 = 0),
      merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b WHERE NOT EXISTS (
          SELECT 1 FROM upd u WHERE u.ix_id = b.ix_id
            AND u.peer_ipv4 = b.peer_ipv4 AND u.peer_ipv6 = b.peer_ipv6))
      SELECT ix_id, peer_ipv4, peer_ipv6, ix_name, peer_name, peer_asn,
             rs_peer, speed, ts_us
      FROM merged ORDER BY ix_id, peer_ipv4, peer_ipv6"""))

  val q54L3vpnByRd = Q(
    "q54_a9_l3vpn_chg_byrd",
    (s, dir) => {
      // A9 rd-keyed l3vpn change stats (10_l3vpn.sql:256-267): bucket ×
      // (peer_hash_id, rd) with withdraw/update counts
      val e = ev(s, dir)
        .withColumn("peer_hash_id", col("event_id") % 7L)
        .withColumn("rd", format_string("%d:%d",
          lit(100) + col("user_id") % 3L, col("user_id") % 5L))
      TimeAgg.chgStats(e, "ts_us", 60, col("event_type") === "error",
        Seq("peer_hash_id", "rd"))
        .orderBy("bucket", "peer_hash_id", "rd")
    },
    Some(s"""
      SELECT ($EvUs // 60000000) * 60 AS bucket, event_id % 7 AS peer_hash_id,
        printf('%d:%d', 100 + user_id % 3, user_id % 5) AS rd,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS withdraws,
        COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS updates
      FROM events GROUP BY bucket, peer_hash_id, rd
      ORDER BY bucket, peer_hash_id, rd"""))

  val q55PeerEventLog = Q(
    "q55_t4_peer_event_log",
    (s, dir) => {
      // T4 (9_triggers.sql:50-70): EVERY peer message appends an event
      // row — session fields only when up, BMP/BGP error fields only
      // when down
      val peers = t(s, dir, "customer").select(
        col("c_custkey").as("hash_id"),
        when(col("c_custkey") % 3 === 0, lit("down")).otherwise(lit("up")).as("state"),
        (col("c_custkey") * 1000).as("ts_us"),
        format_string("10.9.%d.%d", col("c_custkey") % 250L, (col("c_custkey") * 3) % 250L)
          .as("peer_addr"),
        col("c_name").as("name"),
        (col("c_custkey") % 64500L).as("peer_as"),
        format_string("10.0.0.%d", col("c_custkey") % 250L).as("local_ip"),
        lit(179).as("local_port"),
        lit(65000L).as("local_asn"),
        lit("caps-s").as("sent_capabilities"),
        lit("caps-r").as("recv_capabilities"),
        format_string("reason-%d", col("c_custkey") % 5L).as("bmp_reason"),
        (col("c_custkey") % 7L).as("bgp_err_code"),
        (col("c_custkey") % 11L).as("bgp_err_subcode"),
        lit("cease").as("error_text"))
      graft.streaming.Ingest.peerEventLog(peers)
        .orderBy("peer_hash_id")
    },
    Some("""
      WITH p AS (
        SELECT c_custkey AS peer_hash_id,
          CASE WHEN c_custkey % 3 = 0 THEN 'down' ELSE 'up' END AS state,
          c_custkey * 1000 AS ts_us,
          printf('10.9.%d.%d', c_custkey % 250, (c_custkey * 3) % 250) AS peer_addr,
          c_name AS name, c_custkey % 64500 AS peer_as,
          printf('10.0.0.%d', c_custkey % 250) AS l_ip,
          printf('reason-%d', c_custkey % 5) AS reason,
          c_custkey % 7 AS err_code, c_custkey % 11 AS err_sub
        FROM customer)
      SELECT peer_hash_id, state, ts_us, peer_addr, name, peer_as,
        CASE WHEN state = 'up' THEN l_ip END AS local_ip,
        CASE WHEN state = 'up' THEN 179 END AS local_port,
        CASE WHEN state = 'up' THEN CAST(65000 AS BIGINT) END AS local_asn,
        CASE WHEN state = 'up' THEN 'caps-s' END AS sent_capabilities,
        CASE WHEN state = 'up' THEN 'caps-r' END AS recv_capabilities,
        CASE WHEN state <> 'up' THEN reason END AS bmp_reason,
        CASE WHEN state <> 'up' THEN err_code END AS bgp_err_code,
        CASE WHEN state <> 'up' THEN err_sub END AS bgp_err_subcode,
        CASE WHEN state <> 'up' THEN 'cease' END AS error_text
      FROM p ORDER BY peer_hash_id"""))

  val q56CollectorCascade = Q(
    "q56_t8_collector_cascade",
    (s, dir) => {
      // T8 (CollectorQuery.java:60-87): a collector start/stop event
      // downs its routers whose state predates the event
      val routers = t(s, dir, "customer").select(
        col("c_custkey").as("hash_id"),
        (col("c_custkey") % 8).as("collector_hash_id"),
        lit("up").as("state"),
        (col("c_custkey") * 1000).as("ts_us"))
      val evs = t(s, dir, "region").select(
        col("r_regionkey").cast("long").as("hash_id"),
        lit("stopped").as("action"),
        lit(300000L).as("ts_us"))
      graft.streaming.Ingest.collectorCascade(routers, evs)
        .orderBy("hash_id")
    },
    Some("""
      WITH routers AS (
        SELECT c_custkey AS hash_id, c_custkey % 8 AS collector_hash_id,
               'up' AS state, c_custkey * 1000 AS ts_us
        FROM customer),
      evs AS (
        SELECT CAST(r_regionkey AS BIGINT) AS ch, MAX(300000) AS cts
        FROM region GROUP BY r_regionkey)
      SELECT hash_id, collector_hash_id,
        CASE WHEN cts IS NOT NULL AND ts_us < cts THEN 'down' ELSE state END AS state,
        ts_us
      FROM routers LEFT JOIN evs ON collector_hash_id = ch
      ORDER BY hash_id"""))

  val q57LsScalars = Q(
    "q57_f5_f7_ls_scalars",
    (s, dir) => {
      // F7 protocol-dependent router id (8_views.sql:113,131) + F5
      // Withdrawn/Advertised label (8_views.sql:95,112) + F6 pseudo-node
      // exclusion flag (8_views.sql:122) on a synthetic ls_nodes frame
      val nodes = t(s, dir, "customer").select(
        col("c_custkey").as("hash_id"),
        element_at(array(lit("OSPFv2"), lit("IS-IS_L2"), lit("OSPFv3"), lit("IS-IS_L1")),
          (col("c_custkey") % 4 + 1).cast("int")).as("protocol"),
        format_string("10.10.%d.%d", col("c_custkey") % 250L, (col("c_custkey") * 7) % 250L)
          .as("router_id"),
        when(col("c_custkey") % 5 === 0,
          format_string("0100.0a0a.%04x.[%d]", col("c_custkey") % 65536L, col("c_custkey") % 10L))
          .otherwise(format_string("0100.0a0a.%04x", col("c_custkey") % 65536L))
          .as("igp_router_id"),
        (col("c_custkey") % 2 === 0).as("isWithdrawn"))
      nodes.select(
        col("hash_id"),
        col("protocol"),
        graft.views.BmpViews.routerIdByProtocol(col("protocol"), col("router_id"),
          col("igp_router_id")).as("Router_ID"),
        graft.views.BmpViews.withdrawnLabel(col("isWithdrawn")).as("status"),
        graft.views.BmpViews.lsNodeFilter(col("igp_router_id")).as("keep"))
        .orderBy("hash_id")
    },
    Some("""
      WITH nodes AS (
        SELECT c_custkey AS hash_id,
          (['OSPFv2', 'IS-IS_L2', 'OSPFv3', 'IS-IS_L1'])[(c_custkey % 4 + 1)::INT]
            AS protocol,
          printf('10.10.%d.%d', c_custkey % 250, (c_custkey * 7) % 250) AS router_id,
          CASE WHEN c_custkey % 5 = 0
            THEN printf('0100.0a0a.%04x.[%d]', c_custkey % 65536, c_custkey % 10)
            ELSE printf('0100.0a0a.%04x', c_custkey % 65536) END AS igp_router_id,
          (c_custkey % 2 = 0) AS isWithdrawn
        FROM customer)
      SELECT hash_id, protocol,
        CASE WHEN protocol IN ('OSPFv2', 'OSPFv3') THEN router_id
             ELSE igp_router_id END AS Router_ID,
        CASE WHEN isWithdrawn THEN 'Withdrawn' ELSE 'Advertised' END AS status,
        (NOT regexp_matches(igp_router_id, '\..[1-9A-F]00$')
          AND NOT igp_router_id LIKE '%]') AS keep
      FROM nodes ORDER BY hash_id"""))

  val q58IpBits = Q(
    "q58_f14_ip_bits",
    (s, dir) => {
      // F14 IP→bit-string (IpAddr.getIpBits parity,
      // ConsumerRunnableAppTest.java:34-38) — v4 gate; the v6 128-bit
      // form is spec-covered (IpKitSpec reference vector)
      val c = t(s, dir, "customer").select(
        col("c_custkey"),
        format_string("%d.%d.%d.%d", col("c_custkey") % 223L, (col("c_custkey") * 7) % 256L,
          (col("c_custkey") * 13) % 256L, (col("c_custkey") * 29) % 256L).as("ip"))
      c.select(col("c_custkey"), col("ip"),
        IpKit.ipBitsUdf(col("ip")).as("bits"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey,
        printf('%d.%d.%d.%d', c_custkey % 223, (c_custkey * 7) % 256,
               (c_custkey * 13) % 256, (c_custkey * 29) % 256) AS ip,
        lpad(bin((c_custkey % 223) * 16777216 + ((c_custkey * 7) % 256) * 65536
                 + ((c_custkey * 13) % 256) * 256 + (c_custkey * 29) % 256), 32, '0')
          AS bits
      FROM customer ORDER BY c_custkey"""))

  val q59SaltedAgg = Q(
    "q59_u2_salted_agg",
    (s, dir) => {
      // skew-salted two-phase aggregation ≡ plain aggregation — the
      // oracle computes the plain form, proving the salt+partial+final
      // decomposition is value-exact (decimal partials stay exact)
      graft.operators.Skew.saltedAgg(
        ev(s, dir), Seq("user_id"), col("event_id"), n = 8,
        partialAggs = Seq(count(lit(1)).as("pc"), sum(dec(col("value"))).as("ps")),
        finalAggs = Seq(sum(col("pc")).as("n"),
          sum(col("ps")).cast("double").as("sum_value")))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id"""))

  val q60AsOfStrict = Q(
    "q60_asof_strict_tolerance",
    (s, dir) => {
      // strict (<, not ≤) + bounded-staleness as-of: each purchase
      // pairs with the latest signup STRICTLY before it and at most
      // 2 simulated days older
      val (purchases, signups) = asOfSides(s, dir)
      graft.operators.AsOfJoin.asOf(purchases, signups, Seq("user_id"),
        "ts_us", "s_ts", Seq("s_event_id", "s_ts"),
        tolerance = Some(172800000000L), strict = true)
        .select("user_id", "event_id", "ts_us", "s_event_id", "s_ts")
        .orderBy("event_id")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, $EvUs AS ts_us FROM events),
      l AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'),
      r0 AS (SELECT user_id, ts_us AS s_ts, event_id AS s_event_id FROM e
             WHERE event_type = 'signup'),
      r AS (SELECT * FROM r0 QUALIFY row_number() OVER (
              PARTITION BY user_id, s_ts ORDER BY s_event_id DESC) = 1)
      SELECT l.user_id, l.event_id, l.ts_us, r.s_event_id, r.s_ts
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.s_ts < l.ts_us
        AND l.ts_us - r.s_ts <= 172800000000
      QUALIFY row_number() OVER (PARTITION BY l.user_id, l.event_id
        ORDER BY r.s_ts DESC NULLS LAST, r.s_event_id DESC NULLS LAST) = 1
      ORDER BY l.event_id"""))

  val q61FrameSample = Q(
    "q61_mm_frame_sampling",
    (s, dir) => {
      // deterministic every-Nth-byte frame sampling over opaque media
      // content (documents' UTF-8 bytes stand in) — offsets only, the
      // real demuxer consumes them
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("content"))
      graft.operators.Multimodal.sampleFrameOffsets(media, "content", everyN = 7)
        .select(col("media_id"),
          size(col("frame_offsets")).as("n_frames"),
          element_at(col("frame_offsets"), -1).as("last_offset"))
        .orderBy("media_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id AS media_id,
          greatest((octet_length(encode(text)) // 7) - 1, 0) AS m
        FROM documents)
      SELECT media_id, CAST(m + 1 AS INT) AS n_frames,
             CAST(m * 7 AS INT) AS last_offset
      FROM b ORDER BY media_id"""))

  val q62DupClusters = Q(
    "q62_dd_dup_clusters",
    (s, dir) => {
      // connected components over a deterministic sparse pair graph
      // (near-dup pairs in production; here synthesized from events so
      // the oracle can close the same graph with a recursive CTE)
      val e = t(s, dir, "events")
        .filter(col("event_id") % 23 === 0)
        .select((col("event_id") % 1000).as("id_a"),
          ((col("event_id") * 7 + 3) % 1000).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      Dedup.dupClusters(e).orderBy("id")
    },
    Some("""
      WITH RECURSIVE e0 AS (
        SELECT event_id % 1000 AS a, (event_id * 7 + 3) % 1000 AS b
        FROM events
        WHERE event_id % 23 = 0 AND event_id % 1000 <> (event_id * 7 + 3) % 1000),
      edges AS (
        SELECT a AS src, b AS dst FROM e0
        UNION
        SELECT b AS src, a AS dst FROM e0),
      reach(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
      SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id ORDER BY id"""))

  val q63PiiRedact = Q(
    "q63_tx_pii_redact",
    (s, dir) => {
      // scrub-then-hash curation pass: deterministic fake PII appended to
      // each doc, redacted + whitespace-normalized inline in the scan
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or "),
          lit("10.2."), col("doc_id") % 250, lit(".9 tel +1555000"),
          col("doc_id") % 1000).as("raw"))
      d.select(
        col("doc_id"),
        graft.functions.TextFns.piiCount(col("raw"), graft.functions.TextFns.EmailPattern)
          .cast("long").as("n_email"),
        graft.functions.TextFns.piiCount(col("raw"), graft.functions.TextFns.Ipv4Pattern)
          .cast("long").as("n_ip"),
        graft.functions.TextFns.piiCount(col("raw"), graft.functions.TextFns.PhonePattern)
          .cast("long").as("n_phone"),
        md5(graft.functions.TextFns.normalizeText(
          graft.functions.TextFns.redactPii(col("raw")))).as("clean_hash"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@mail.example.com or ' ||
          '10.2.' || (doc_id % 250) || '.9 tel +1555000' || (doc_id % 1000) AS raw
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+')) AS n_email,
        len(regexp_extract_all(raw, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
        len(regexp_extract_all(raw, '\+[0-9]{7,15}\b')) AS n_phone,
        md5(regexp_replace(lower(trim(
          regexp_replace(regexp_replace(regexp_replace(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
            '\+[0-9]{7,15}\b', '<PHONE>', 'g'))),
          '\s+', ' ', 'g')) AS clean_hash
      FROM d ORDER BY doc_id"""))

  val q64GeoIpOverwrite = Q(
    "q64_m15_geo_ip_overwrite",
    (s, dir) => {
      // M15 (gen_whois/dbHandler.py geo_ip upsert): nightly geo feed
      // refresh — newer snapshot overwrites every non-key column per ip,
      // untouched rows survive
      def snap(df: DataFrame, cc: Column, tsUs: Column): DataFrame = df.select(
        format_string("192.%d.%d.0", col("c_custkey") % 200L, col("c_custkey") % 250L)
          .as("ip"),
        cc.as("country"),
        format_string("city-%d", col("c_custkey") % 500L).as("city"),
        (col("c_custkey") % 90L).cast("double").as("latitude"),
        (col("c_custkey") % 180L).cast("double").as("longitude"),
        tsUs.as("ts_us"))
      // custkey < 1000 keeps ip = f(custkey mod 200, mod 250) injective
      // (lcm = 1000) — current state has unique keys by invariant
      val c    = t(s, dir, "customer").filter(col("c_custkey") < 1000)
      val base = snap(c, lit("US"), col("c_custkey").cast("long"))
      val upd  = snap(c.filter(col("c_custkey") % 3 === 0), lit("DE"),
        lit(5000000L) + col("c_custkey"))
      graft.streaming.Ingest.overwriteMerge(base, upd, Seq("ip"), Seq("ts_us"))
        .select("ip", "country", "city", "latitude", "longitude", "ts_us")
        .orderBy("ip")
    },
    Some("""
      WITH base AS (
        SELECT printf('192.%d.%d.0', c_custkey % 200, c_custkey % 250) AS ip,
          'US' AS country, printf('city-%d', c_custkey % 500) AS city,
          CAST(c_custkey % 90 AS DOUBLE) AS latitude,
          CAST(c_custkey % 180 AS DOUBLE) AS longitude,
          c_custkey AS ts_us
        FROM customer WHERE c_custkey < 1000),
      upd AS (
        SELECT printf('192.%d.%d.0', c_custkey % 200, c_custkey % 250) AS ip,
          'DE' AS country, printf('city-%d', c_custkey % 500) AS city,
          CAST(c_custkey % 90 AS DOUBLE) AS latitude,
          CAST(c_custkey % 180 AS DOUBLE) AS longitude,
          5000000 + c_custkey AS ts_us
        FROM customer WHERE c_custkey < 1000 AND c_custkey % 3 = 0)
      SELECT ip, country, city, latitude, longitude, ts_us FROM upd
      UNION ALL
      SELECT base.ip, base.country, base.city, base.latitude, base.longitude, base.ts_us
      FROM base WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.ip = base.ip)
      ORDER BY ip"""))

  val q65StatReports = Q(
    "q65_m10_stat_reports",
    (s, dir) => {
      // M10 (StatReportsQuery.java): stat_reports is append-only — parse
      // the TSV envelope, append, aggregate counters per peer
      val o = t(s, dir, "orders")
      val lines = o.select(col("o_orderkey"), concat_ws("\t",
        format_string("peer-%d", col("o_custkey") % 50L),
        date_format(timestamp_micros(col("o_orderkey") * 1000000L),
          "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        when(col("o_orderkey") % 5 === 0, lit("")).otherwise((col("o_orderkey") % 7L).cast("string")),
        (col("o_orderkey") % 3L).cast("string"),
        (col("o_orderkey") % 4L).cast("string"),
        lit("0"), lit("0"), lit("0"), lit("0"),
        (col("o_orderkey") % 1000L).cast("string"),
        (col("o_orderkey") % 900L).cast("string")).as("line"))
      graft.model.Messages.bmpStatFromTsv(lines)
        .groupBy(col("peer_hash_id"))
        .agg(
          count(lit(1)).as("n_reports"),
          sum(col("prefixes_rejected")).as("tot_rejected"),
          sum(col("known_dup_prefixes")).as("tot_dup_prefixes"),
          sum(col("known_dup_withdraws")).as("tot_dup_withdraws"),
          max(col("routes_adj_rib_in")).as("max_adj_rib_in"),
          max(col("ts_us")).as("last_ts_us"))
        .orderBy("peer_hash_id")
    },
    Some("""
      SELECT printf('peer-%d', o_custkey % 50) AS peer_hash_id,
        COUNT(*) AS n_reports,
        CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE o_orderkey % 7 END) AS BIGINT) AS tot_rejected,
        CAST(SUM(o_orderkey % 3) AS BIGINT) AS tot_dup_prefixes,
        CAST(SUM(o_orderkey % 4) AS BIGINT) AS tot_dup_withdraws,
        MAX(o_orderkey % 1000) AS max_adj_rib_in,
        MAX(o_orderkey * 1000000) AS last_ts_us
      FROM orders GROUP BY 1 ORDER BY peer_hash_id"""))

  val q66Intervals = Q(
    "q66_f10_interval_arith",
    (s, dir) => {
      // F10 (8_views.sql / cron queries: now() - interval windows,
      // calendar-aware month steps): recency window anchored at max(ts),
      // day truncation, +1 MONTH (clamps Jan 31 → Feb 28/29 in both
      // engines), all emitted as epoch micros
      val e   = ev(s, dir)
      val mx  = e.agg(max(col("ts_us")).as("mx_us"))
      e.crossJoin(broadcast(mx))
        .filter(timestamp_micros(col("ts_us")) >
          timestamp_micros(col("mx_us")) - expr("INTERVAL 90 MINUTES"))
        .select(
          col("event_id"),
          unix_micros(date_trunc("day", timestamp_micros(col("ts_us")))).as("day_us"),
          unix_micros(timestamp_micros(col("ts_us")) + expr("INTERVAL 1 MONTH")).as("next_month_us"),
          (col("mx_us") - col("ts_us")).as("age_us"))
        .orderBy("event_id")
    },
    Some(s"""
      WITH mx AS (SELECT MAX($EvUs) AS mx_us FROM events)
      SELECT event_id,
        epoch_us(date_trunc('day', make_timestamp($EvUs))) AS day_us,
        epoch_us(make_timestamp($EvUs) + INTERVAL 1 MONTH) AS next_month_us,
        mx_us - $EvUs AS age_us
      FROM events, mx
      WHERE make_timestamp($EvUs) > make_timestamp(mx_us) - INTERVAL 90 MINUTE
      ORDER BY event_id"""))

  val q67SeqPacking = Q(
    "q67_tx_seq_packing",
    (s, dir) =>
      // contiguous greedy fill: 512-token packs, 8 independent shards
      graft.operators.Packing.packByTokenBudget(
        t(s, dir, "documents"), "doc_id", "text", budget = 512, shards = 8)
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (
        SELECT doc_id, doc_id % 8 AS shard,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        FROM tk)
      SELECT doc_id, shard, n_tok, CAST(tok_before // 512 AS BIGINT) AS bin
      FROM c ORDER BY doc_id"""))

  val q68ProfileStats = Q(
    "q68_profile_stats",
    (s, dir) =>
      // per-source data-quality report: counters + exact decimal mean +
      // exact interpolated percentiles over the events value column
      graft.operators.Packing.profileNumeric(ev(s, dir), Seq("event_type"), "value")
        .orderBy("event_type"),
    Some("""
      SELECT event_type,
        COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        COUNT(DISTINCT value) AS n_distinct,
        MIN(value) AS min_v,
        MAX(value) AS max_v,
        CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(value) AS mean_v,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val q69Decontam = Q(
    "q69_dd_decontamination",
    (s, dir) => {
      // benchmark-leak check: benchmarks = every 17th doc; flag corpus
      // docs sharing ≥5 distinct 5-grams (stop-shingles df>50 excluded
      // from matching, same guard as q23)
      val docs  = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 0)
      Dedup.contaminationFlags(docs, bench, "doc_id", "text",
        shingleN = 5, minOverlap = 5, maxShingleDf = 50)
        .orderBy("id", "bench_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 4, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+4], ' ')))
            AS sh
        FROM documents),
      shn AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
      ex  AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      bex AS (SELECT doc_id AS bench_id, tok FROM ex WHERE doc_id % 17 = 0),
      freq AS (SELECT tok FROM ex GROUP BY tok HAVING COUNT(*) <= 50),
      bok AS (SELECT bex.bench_id, bex.tok FROM bex JOIN freq USING (tok))
      SELECT ex.doc_id AS id, bok.bench_id, COUNT(*) AS n_shared
      FROM ex JOIN bok USING (tok)
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
      ORDER BY id, bench_id"""))

  val q70SourceCap = Q(
    "q70_s_source_cap",
    (s, dir) =>
      // balanced corpus mixing: ≤ 25 docs per source, deterministic
      // md5-of-id order (stable across runs and input layouts)
      graft.operators.Packing.capPerGroup(
        t(s, dir, "documents").select("doc_id", "source", "lang"),
        groupCol = "source", idCol = "doc_id", k = 25)
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rn
        FROM documents)
      WHERE rn <= 25 ORDER BY doc_id"""))

  val q71SourceMix = Q(
    "q71_s_weighted_mix",
    (s, dir) => {
      // epoch construction: per-source weight 0.5/1.25/2.0/2.75 by
      // source number mod 4 — downsampling AND upsampling, hash-decided
      // fractional copies, fully deterministic
      val docs = t(s, dir, "documents").select("doc_id", "source")
      val weights = docs.select(col("source")).distinct()
        .withColumn("weight",
          lit(0.5) + substring(col("source"), 4, 10).cast("int") % 4 * lit(0.75))
      graft.operators.Packing.mixByWeight(docs, "source", "doc_id", weights)
        .select("doc_id", "source", "weight", "copy_id")
        .orderBy("doc_id", "copy_id")
    },
    Some("""
      WITH w AS (
        SELECT source, 0.5 + (CAST(substr(source, 4) AS INT) % 4) * 0.75 AS weight
        FROM (SELECT DISTINCT source FROM documents)),
      d AS (
        SELECT doc_id, documents.source AS source, weight,
          CAST(floor(weight) AS BIGINT) +
          CASE WHEN ('0x' || substr(md5(doc_id || ':mix'), 1, 15))::BIGINT % 1000000
                    < (weight - floor(weight)) * 1000000
               THEN 1 ELSE 0 END AS n
        FROM documents JOIN w USING (source))
      SELECT doc_id, source, CAST(weight AS DOUBLE) AS weight, copy_id
      FROM d, UNNEST(generate_series(1, n)) AS u(copy_id)
      WHERE n > 0 ORDER BY doc_id, copy_id"""))

  val q72QuantizeInt8 = Q(
    "q72_ann_quantize_int8",
    (s, dir) => {
      // int8 embedding compression: per-vector scale, code sum, and max
      // reconstruction error — all double arithmetic mirrored exactly
      val e = t(s, dir, "embeddings")
        .withColumn("qz", graft.operators.Similarity.quantizeInt8(col("embedding")))
        .select(col("vec_id"), col("qz.scale").as("scale"), col("qz.q").as("q"),
          col("embedding"))
      e.select(
        col("vec_id"),
        col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
        array_max(zip_with(col("embedding"),
          graft.operators.Similarity.dequantizeInt8(col("q"), col("scale")),
          (x, d) => abs(x.cast("double") - d))).as("max_err"))
        .orderBy("vec_id")
    },
    Some("""
      WITH z AS (
        SELECT vec_id, embedding,
          CASE WHEN CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) > 0
               THEN 127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
               ELSE 0.0 END AS scale
        FROM embeddings),
      q AS (
        SELECT vec_id, embedding, scale,
          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS qv
        FROM z)
      SELECT vec_id, scale,
        CAST(list_sum(qv) AS BIGINT) AS sum_q,
        list_max(list_transform(list_zip(embedding, qv),
          p -> abs(CAST(p[1] AS DOUBLE) -
                   CASE WHEN scale > 0 THEN CAST(p[2] AS DOUBLE) / scale ELSE 0.0 END)))
          AS max_err
      FROM q ORDER BY vec_id"""))

  val q74CoveringExpansion = Q(
    "q74_j6_covering_expansion",
    (s, dir) => {
      // J6 scale path (same reference predicate as q06,
      // `2_aggregations.sql:338-343`): CIDR-ALIGNED ROAs — the real-data
      // shape — validated through the ancestor-expansion EQUI-join
      // (LpmJoin.coveringJoinByExpansion) instead of the broadcast
      // nested loop, against the SAME range-predicate oracle form. The
      // oracle states containment as range inequalities; the engine
      // factors it into (start, len) equality — value-identical on
      // aligned dims, so a hash match certifies the factoring.
      val roas = t(s, dir, "supplier").select(
        (lit(6) + col("s_suppkey") % 8L).cast("int").as("rlen"),
        (col("s_suppkey") * 7919L % 1048576L).as("raddr"),
        (lit(2) + col("s_suppkey") % 6L).as("extra"))
        .withColumn("rstep", pow(lit(2.0), lit(20) - col("rlen")).cast("long"))
        .withColumn("rstart", col("raddr") - col("raddr") % col("rstep"))
        .withColumn("maxlen", col("rlen") + col("extra"))
        .select("rstart", "rlen", "maxlen")
      val step = pow(lit(2.0), lit(20) - col("len")).cast("long")
      val ribs = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (lit(6) + col("o_orderkey") % 10L).as("len"),
          (col("o_orderkey") * 7741L % 1048576L).as("addr"))
        .withColumn("rib_start", col("addr") - col("addr") % step)
      val matched = LpmJoin.coveringJoinByExpansion(
        ribs, "rib_start", "len", roas, "rstart", "rlen", "maxlen", bits = 20)
        .select(col("o_orderkey")).distinct()
        .withColumn("st", lit("valid"))
      ribs.join(matched, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("st"), lit("unknown")).as("rpki_status"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH roas0 AS (
        SELECT 6 + s_suppkey % 8 AS rlen,
               (s_suppkey * 7919) % 1048576 AS raddr,
               2 + s_suppkey % 6 AS extra
        FROM supplier),
      roas AS (
        SELECT raddr - raddr % (1::BIGINT << (20 - rlen)) AS rstart,
               raddr - raddr % (1::BIGINT << (20 - rlen)) + (1::BIGINT << (20 - rlen)) - 1 AS rend,
               rlen + extra AS maxlen
        FROM roas0),
      ribs0 AS (
        SELECT o_orderkey, 6 + o_orderkey % 10 AS len,
               (o_orderkey * 7741) % 1048576 AS addr
        FROM orders),
      ribs AS (
        SELECT o_orderkey, len,
               addr - addr % (1::BIGINT << (20 - len)) AS rib_start,
               addr - addr % (1::BIGINT << (20 - len)) + (1::BIGINT << (20 - len)) - 1 AS rib_end
        FROM ribs0)
      SELECT o_orderkey,
        CASE WHEN EXISTS (SELECT 1 FROM roas r
          WHERE ribs.rib_start >= r.rstart AND ribs.rib_end <= r.rend
            AND ribs.len <= r.maxlen)
        THEN 'valid' ELSE 'unknown' END AS rpki_status
      FROM ribs ORDER BY o_orderkey"""))

  // =====================================================================
  // Round-6 coverage: corpus-curation operators (Gopher repetition
  // filter, leakage-safe stratified split, token chunking, semantic
  // centroid outliers)
  // =====================================================================

  val q75GopherRepetition = Q(
    "q75_tx_gopher_repetition",
    (s, dir) =>
      Curation.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, (length(trim(text)) = 0) AS blank,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents),
      base AS (SELECT doc_id,
               CASE WHEN blank THEN 0 ELSE len(toks) END AS n_tokens FROM d),
      g AS (SELECT doc_id, n,
              array_to_string(list_slice(toks, i, i + n - 1), ' ') AS gram
            FROM d, (VALUES (2),(3),(5)) ns(n),
                 LATERAL unnest(range(1, len(toks) - n + 2)) t(i)
            WHERE NOT blank AND len(toks) >= n),
      cnt AS (SELECT doc_id, n, gram, COUNT(*) AS c
              FROM g GROUP BY doc_id, n, gram),
      sig AS (SELECT doc_id, n,
                CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac,
                CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS DOUBLE)
                  / SUM(c) AS dup_frac
              FROM cnt GROUP BY doc_id, n),
      wide AS (SELECT doc_id,
                 COALESCE(MAX(CASE WHEN n = 2 THEN top_frac END), 0.0) AS top2_frac,
                 COALESCE(MAX(CASE WHEN n = 3 THEN top_frac END), 0.0) AS top3_frac,
                 COALESCE(MAX(CASE WHEN n = 2 THEN dup_frac END), 0.0) AS dup2_frac,
                 COALESCE(MAX(CASE WHEN n = 5 THEN dup_frac END), 0.0) AS dup5_frac
               FROM sig GROUP BY doc_id)
      SELECT base.doc_id, n_tokens,
        COALESCE(top2_frac, 0.0) AS top2_frac,
        COALESCE(top3_frac, 0.0) AS top3_frac,
        COALESCE(dup2_frac, 0.0) AS dup2_frac,
        COALESCE(dup5_frac, 0.0) AS dup5_frac,
        (COALESCE(top2_frac, 0.0) <= 0.05 AND COALESCE(top3_frac, 0.0) <= 0.04
          AND COALESCE(dup2_frac, 0.0) <= 0.10
          AND COALESCE(dup5_frac, 0.0) <= 0.15) AS passes_repetition
      FROM base LEFT JOIN wide ON base.doc_id = wide.doc_id
      ORDER BY base.doc_id"""))

  val q76StratSplit = Q(
    "q76_s_stratified_split",
    (s, dir) =>
      // split key = hash of NORMALIZED CONTENT (not row id): duplicate
      // and whitespace/case-variant docs land in the same split, so an
      // imperfect dedup can't leak eval text into train
      Curation.stratifiedSplit(t(s, dir, "documents"), "text")
        .groupBy(col("source"), col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(Dedup.md5Hash60(TextFns.normalizeText(col("text"))))
            .as("n_uniq_texts"))
        .orderBy("source", "split"),
    Some("""
      WITH d AS (SELECT source,
        ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
          1, 15))::BIGINT AS h,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
        END AS n_toks
        FROM documents),
      sp AS (SELECT source, n_toks, h,
               -- NULL text → NULL hash: Spark's pmod(hash, 100) on a null
               -- bucket routes to 'train' (documented in stratifiedSplit);
               -- without this branch the NULL comparison falls to 'test'
               CASE WHEN h IS NULL THEN 'train'
                    WHEN h % 100 < 80 THEN 'train'
                    WHEN h % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM d)
      SELECT source, split, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        COUNT(DISTINCT h) AS n_uniq_texts
      FROM sp GROUP BY source, split
      ORDER BY source, split"""))

  val q77Chunking = Q(
    "q77_tx_chunking",
    (s, dir) =>
      Curation.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy("doc_id", "start_tok"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      c AS (SELECT doc_id, CAST(i AS INT) AS start_tok,
              list_slice(toks, i, i + 31) AS chunk
            FROM d, LATERAL unnest(range(1, greatest(len(toks), 1) + 1, 24)) t(i)
            WHERE i = 1 OR i + 7 < len(toks))
      SELECT doc_id, start_tok,
        CAST(len(chunk) AS INT) AS n_chunk_tokens,
        array_to_string(chunk, ' ') AS chunk_text
      FROM c ORDER BY doc_id, start_tok"""))

  val q78CentroidOutlier = Q(
    "q78_sem_centroid_outlier",
    (s, dir) =>
      Similarity.centroidOutliers(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", outlierFrac = 0.1)
        .select(col("vec_id"), col("label"),
          round(col("cos"), 6).as("cos_r"), col("rank"), col("is_outlier"))
        .orderBy("label", "rank"),
    Some("""
      WITH cent AS (
        SELECT label, i AS pos,
          CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
            AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
        GROUP BY label, i),
      cvec AS (SELECT label, list(c ORDER BY pos) AS centroid
               FROM cent GROUP BY label),
      scored AS (
        SELECT e.vec_id, e.label,
          list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * centroid[i])) AS dp,
          sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS na,
          sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
            i -> centroid[i] * centroid[i]))) AS nb
        FROM embeddings e JOIN cvec USING (label)),
      r AS (
        SELECT vec_id, label,
          CASE WHEN na * nb > 0 THEN dp / (na * nb) END AS cos,
          CAST(row_number() OVER (PARTITION BY label
            ORDER BY (CASE WHEN na * nb > 0 THEN dp / (na * nb) END)
              ASC NULLS FIRST, vec_id ASC) AS INT) AS rank,
          COUNT(*) OVER (PARTITION BY label) AS n
        FROM scored)
      SELECT vec_id, label, round(cos, 6) AS cos_r, rank,
        rank <= CAST(ceil(0.1 * n) AS BIGINT) AS is_outlier
      FROM r ORDER BY label, rank"""))

  val q79IncrementalDedup = Q(
    "q79_dd_incremental_bloom",
    (s, dir) => {
      // "which of today's batch is genuinely new" — corpus = even docs;
      // the batch re-submits two slices of the archive under fresh ids
      // (the even halves of those slices are content-dups) — exact
      // anti-join semantics, Bloom-pruned so only candidate dups shuffle
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val nb = docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"), col("source")))
      val key = Dedup.md5Hash60(TextFns.normalizeText(col("text")))
      Dedup.newKeysOnly(nb, corpus, key, expectedItems = 1000)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some("""
      WITH nb AS (
        SELECT doc_id + 10000000 AS doc_id, text, source FROM documents
        WHERE doc_id % 7 = 1
        UNION ALL
        SELECT doc_id + 20000000 AS doc_id, text, source FROM documents
        WHERE doc_id % 7 = 3),
      ck AS (
        SELECT ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
          1, 15))::BIGINT AS k
        FROM documents WHERE doc_id % 2 = 0)
      SELECT doc_id, source FROM nb
      WHERE NOT EXISTS (SELECT 1 FROM ck WHERE k =
        ('0x' || substr(md5(regexp_replace(lower(trim(nb.text)), '\s+', ' ', 'g')),
          1, 15))::BIGINT)
      ORDER BY doc_id"""))

  val q80TfIdfTerms = Q(
    "q80_tx_tfidf_terms",
    (s, dir) =>
      Curation.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank"),
    Some("""
      WITH t AS (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tt AS (SELECT doc_id, term, COUNT(*) AS tf
             FROM t WHERE len(term) > 0 GROUP BY doc_id, term),
      d AS (SELECT term, COUNT(*) AS df FROM tt GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents),
      sc AS (SELECT doc_id, term, tf, df,
               CAST(tf * n.n AS DOUBLE) / df AS score
             FROM tt JOIN d USING (term) CROSS JOIN n)
      SELECT doc_id,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term ASC) AS INT) AS rank,
        term, tf, df, score
      FROM sc
      QUALIFY rank <= 3
      ORDER BY doc_id, rank"""))

  val q81Sessionize = Q(
    "q81_sessionize_gap",
    (s, dir) => {
      // gap-based sessionization over the event stream: silence longer
      // than 30000s starts a new per-user session (threshold sits at the
      // corpus' median inter-event gap so both outcomes are exercised)
      val sess = TimeAgg.sessionize(ev(s, dir), Seq("user_id"), "ts_us",
        gapMicros = 30000000000L, tieBreak = Seq("event_id"))
      sess.groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
        .orderBy("user_id", "session_idx")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_id, $EvUs AS ts_us FROM events),
      m AS (SELECT user_id, ts_us, event_id,
              -- null-ts contract mirror: sessionize sorts nulls last and
              -- starts ONE untimed trailing session at the first null-ts
              -- row; the bare gap comparison would evaluate NULL (falsy)
              -- and silently chain null rows into the prior session
              CASE WHEN ts_us IS NULL THEN
                     CASE WHEN lag(ts_us) OVER w IS NOT NULL THEN 1 ELSE 0 END
                   WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > 30000000000 THEN 1
                   ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us NULLS LAST, event_id)),
      sx AS (SELECT user_id, ts_us,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY ts_us NULLS LAST, event_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS session_idx
             FROM m)
      SELECT user_id, session_idx, COUNT(*) AS n_events,
        MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        MAX(ts_us) - MIN(ts_us) AS duration_us
      FROM sx GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""))

  val q82Boilerplate = Q(
    "q82_tx_boilerplate",
    (s, dir) =>
      Curation.boilerplateSegments(t(s, dir, "documents"), "doc_id", "text",
        segTokens = 4, minDocs = 2)
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      s AS (SELECT doc_id, CAST(i AS INT) AS start,
              array_to_string(list_slice(toks, i, i + 3), ' ') AS seg
            FROM d, LATERAL unnest(range(1, greatest(len(toks), 1) + 1, 4)) t(i)),
      b AS (SELECT seg FROM (SELECT seg, doc_id FROM s GROUP BY seg, doc_id)
            GROUP BY seg HAVING COUNT(*) >= 2),
      p AS (SELECT s.doc_id,
              COUNT(*) AS n_segments,
              CAST(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_boiler,
              coalesce(array_to_string(
                list(s.seg ORDER BY s.start) FILTER (WHERE b.seg IS NULL), ' '),
                '') AS clean_text
            FROM s LEFT JOIN b ON s.seg = b.seg
            GROUP BY s.doc_id)
      SELECT doc.doc_id,
        coalesce(p.n_segments, 0) AS n_segments,
        coalesce(p.n_boiler, 0) AS n_boiler,
        CASE WHEN p.n_segments > 0
             THEN CAST(p.n_boiler AS DOUBLE) / p.n_segments END AS boiler_frac,
        p.clean_text
      FROM documents doc LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  val q83UnigramLp = Q(
    "q83_tx_unigram_lp",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.unigramScore(docs, Curation.fitUnigramLm(docs, "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tf AS (SELECT doc_id, term FROM t WHERE len(term) > 0),
      c AS (SELECT term, COUNT(*) AS c FROM tf GROUP BY term),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM c),
      lp AS (SELECT doc_id, ln(CAST(c.c AS DOUBLE) / tot.total) AS lp
             FROM tf JOIN c USING (term) CROSS JOIN tot),
      p AS (SELECT doc_id, COUNT(*) AS n_tokens,
              round(SUM(lp) / COUNT(*), 6) AS logprob_mean
            FROM lp GROUP BY doc_id)
      SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, p.logprob_mean
      FROM documents d LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  val q84DuplicateSpans = Q(
    "q84_dd_duplicate_spans",
    (s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        gramSize = 6, minCount = 2, gramKeyOf = Dedup.md5Hash60)
        .orderBy("doc_id", "span_start"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      w AS (SELECT doc_id, CAST(i AS INT) AS start,
              ('0x' || substr(md5(
                array_to_string(list_slice(toks, i, i + 5), ' ')), 1, 15))::BIGINT
                AS gk
            FROM d, LATERAL unnest(range(1, len(toks) - 4)) t(i)
            WHERE len(toks) >= 6),
      k AS (SELECT gk FROM w GROUP BY gk HAVING COUNT(*) >= 2),
      ds AS (SELECT doc_id, start FROM w JOIN k USING (gk)),
      m AS (SELECT doc_id, start,
              CASE WHEN start > coalesce(max(start + 5) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -2147483648) + 1
                THEN 1 ELSE 0 END AS new_span
            FROM ds),
      sx AS (SELECT doc_id, start,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS span
             FROM m)
      SELECT doc_id, MIN(start) AS span_start,
        CAST(MAX(start) + 5 AS INT) AS span_end,
        CAST(MAX(start) + 5 - MIN(start) + 1 AS INT) AS n_span_tokens
      FROM sx GROUP BY doc_id, span
      ORDER BY doc_id, span_start"""))

  val q86SourceOverlap = Q(
    "q86_dd_source_overlap",
    (s, dir) =>
      Curation.sourceOverlap(t(s, dir, "documents"), "text", "source",
        gramSize = 6, gramKeyOf = Dedup.md5Hash60)
        .orderBy("source_a", "source_b"),
    Some("""
      WITH d AS (SELECT source,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      g AS (SELECT DISTINCT source,
              ('0x' || substr(md5(
                array_to_string(list_slice(toks, i, i + 5), ' ')), 1, 15))::BIGINT
                AS gk
            FROM d, LATERAL unnest(range(1, len(toks) - 4)) t(i)
            WHERE len(toks) >= 6)
      SELECT a.source AS source_a, b.source AS source_b,
        COUNT(*) AS n_shared_grams
      FROM g a JOIN g b ON a.gk = b.gk AND a.source < b.source
      GROUP BY 1, 2 ORDER BY source_a, source_b"""))

  val q85QualityModel = Q(
    "q85_ml_quality_classifier",
    (s, dir) => {
      // model-based quality filter: a weak text-derived label ("doc
      // mentions spark" as the trusted-distribution proxy — the corpus'
      // lang/source tags are independent of its synthetic text, so
      // they'd train a noise model), fitted on the doc_id % 8 = 0
      // eighth, scored on the held-out odd half with the truth column
      // alongside. The
      // label token is MASKED out of the featurizer (maskTerms), so no
      // unigram/bigram feature can contain "spark" and the model cannot
      // win by looking up the label's hash bucket — it must learn the
      // label's context (in this corpus: document length and the
      // co-occurrence lift longer word-salad docs give every token;
      // length alone is measured AUC ≈ 0.73 held-out, and the spec
      // pins ≥ 0.9 on a corpus with real class-conditional vocabulary).
      // Trainer is the quantized batch-gradient path with the PORTABLE
      // featurizer (md5-folded buckets) and integer-quantized
      // coefficient pooling: every gradient is an exact long sum, the
      // margin's fp chain has a fixed op order, and ln/exp run on
      // exactly-agreed doubles (the q299/q309 cross-engine contract) —
      // so the full training loop replays in DuckDB as a recursive
      // CTE carrying (coefficients[], b0, wl) one row per iteration.
      // NULL-text contract (both arms): the label is text-derived BY
      // CONSTRUCTION (documents carries no label column), so a NULL
      // text yields has_kw = NULL but trains/scores as label 0 with an
      // empty term array — the coalesce below keeps the non-nullable
      // Double encoder from rejecting the row, and the oracle's
      // coalesce(split, []) keeps the same docs on its n_d = 0 path
      // instead of vanishing through unnest(NULL).
      // ORACLE-COST CONTRACT (round 11): the training set is capped to
      // doc_id % 8 = 0 and the loop to 6 iterations — DuckDB replays
      // the recursion at O(vocab × iters) and the uncapped 30-iteration
      // run alone blew the driver's gate budget in round 10 (>120 s at
      // sf0.001; measured 10.7 s capped). The held-out half is
      // unchanged (doc_id % 2 = 1, disjoint from the train cap), so
      // the gate still scores the same 250 docs.
      val docs = t(s, dir, "documents")
      val kw = array_contains(TextFns.tokens(col("text")), "spark")
      val train = docs.filter(col("doc_id") % 8 === 0)
        .withColumn("label", coalesce(kw, lit(false)).cast("double"))
      val model = operators.QualityClassifier.trainQuantized(
        train, "text", "label",
        numFeatures = 1 << 15, maxIter = 6, stepSize = 2.0,
        maskTerms = Set("spark"), portable = true)
      operators.QualityClassifier.scoreQuantized(
        docs.filter(col("doc_id") % 2 === 1), model, "text",
        maskTerms = Set("spark"), portable = true)
        .select(col("doc_id"), kw.as("has_kw"),
          round(col("quality_prob"), 9).as("quality_prob"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      t0 AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS rawt,
               list_filter(coalesce(
                   regexp_split_to_array(lower(trim(text)), '\s+'), []),
                 t -> t <> 'spark') AS u,
               doc_id % 8 = 0 AS is_train
             FROM documents),
      tt AS (SELECT doc_id, is_train,
               CASE WHEN len(u) >= 2 THEN u ||
                 list_transform(range(1, len(u)), i -> u[i] || ' ' || u[i+1])
                 ELSE u END AS terms,
               CASE WHEN list_contains(rawt, 'spark') THEN 1.0
                 ELSE 0.0 END AS label,
               list_contains(rawt, 'spark') AS has_kw
             FROM t0),
      tb AS (SELECT doc_id, is_train, label, len(terms) AS n_d,
               ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 32768 AS b
             FROM tt, LATERAL unnest(terms) AS t(term)),
      tokc AS (SELECT doc_id, label, n_d, b,
                 CAST(count(*) AS BIGINT) AS mult
               FROM tb WHERE is_train GROUP BY 1, 2, 3, 4),
      docs0 AS (SELECT doc_id, label, CAST(0 AS BIGINT) AS n_d,
                  CAST(NULL AS BIGINT) AS b, CAST(0 AS BIGINT) AS mult
                FROM tt WHERE is_train AND len(terms) = 0),
      tok AS (SELECT * FROM tokc UNION ALL SELECT * FROM docs0),
      slots AS (SELECT b, CAST(row_number() OVER (ORDER BY b) AS INT) AS s
                FROM (SELECT DISTINCT b FROM tokc)),
      toks AS (SELECT tok.doc_id, CAST(tok.label AS DOUBLE) AS label,
                 tok.n_d, slots.s, tok.mult
               FROM tok LEFT JOIN slots USING (b)),
      ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n
              FROM tt WHERE is_train),
      st AS (
        SELECT 0 AS it,
          list_transform(range(1, (SELECT count(*) FROM slots) + 1),
            i -> CAST(0.0 AS DOUBLE)) AS cs,
          CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS wl
        UNION ALL
        SELECT st.it + 1, g.ncs,
          st.b0 - 2.0 * ((CAST(g.g0 AS DOUBLE) / 1048576.0) / g.n),
          st.wl - 2.0 * ((CAST(g.g1 AS DOUBLE) / 1048576.0) / g.n)
        FROM st, LATERAL (
          WITH cw AS (
            SELECT CAST(generate_subscripts(st.cs, 1) AS INT) AS s,
              unnest(st.cs) AS c),
          m AS (
            SELECT t.doc_id, t.label, t.n_d, t.s, t.mult,
              CASE WHEN t.s IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(cw.c * 1073741824.0) AS BIGINT)
              END AS cq
            FROM toks t LEFT JOIN cw ON cw.s = t.s),
          d AS (
            SELECT *,
              SUM(cq * mult) OVER (PARTITION BY doc_id) AS sqd,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY s NULLS FIRST) AS rn
            FROM m),
          rr AS (
            SELECT *,
              1.0 / (1.0 + exp(-(CASE WHEN n_d = 0 THEN st.b0
                ELSE (st.b0 + st.wl * ln(1.0 + CAST(n_d AS DOUBLE)))
                  + (CAST(sqd AS DOUBLE) / 1073741824.0)
                    / CAST(n_d AS DOUBLE) END))) - label AS res
            FROM d),
          gg AS (
            SELECT
              CAST(sum(CASE WHEN rn = 1
                THEN CAST(floor(res * 1048576.0) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS g0,
              CAST(sum(CASE WHEN rn = 1 AND n_d > 0
                THEN CAST(floor(res * ln(1.0 + CAST(n_d AS DOUBLE))
                  * 1048576.0) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS g1
            FROM rr),
          gs AS (
            SELECT s, CAST(sum(CAST(floor(res / CAST(n_d AS DOUBLE)
                * 16777216.0) AS BIGINT) * mult) AS BIGINT) AS gj
            FROM rr WHERE s IS NOT NULL GROUP BY s),
          nc AS (
            SELECT cw.s,
              cw.c - 2.0 * ((CAST(coalesce(gs.gj, 0) AS DOUBLE)
                / 16777216.0) / (SELECT n FROM ntr)
                + 0.001 * cw.c) AS cnew
            FROM cw LEFT JOIN gs ON gs.s = cw.s)
          SELECT (SELECT list(cnew ORDER BY s) FROM nc) AS ncs,
            (SELECT g0 FROM gg) AS g0, (SELECT g1 FROM gg) AS g1,
            (SELECT n FROM ntr) AS n
        ) AS g
        WHERE st.it < 6),
      fin AS (SELECT cs, b0, wl FROM st WHERE it = 6),
      sb AS (SELECT tt.doc_id, tt.has_kw, len(tt.terms) AS n_d,
               slots.s
             FROM tt, LATERAL unnest(tt.terms) AS t(term)
             LEFT JOIN slots
               ON slots.b = ('0x' || substr(md5(t.term), 1, 15))::BIGINT
                 % 32768
             WHERE tt.doc_id % 2 = 1),
      fcw AS (SELECT CAST(generate_subscripts(cs, 1) AS INT) AS s,
                unnest(cs) AS c
              FROM fin),
      sq AS (SELECT sb.doc_id, sb.has_kw, sb.n_d,
               CAST(sum(CASE WHEN sb.s IS NULL THEN 0
                 ELSE CAST(floor(fcw.c * 1073741824.0)
                   AS BIGINT) END) AS BIGINT) AS sqd
             FROM sb LEFT JOIN fcw ON fcw.s = sb.s
             GROUP BY 1, 2, 3),
      sall AS (SELECT doc_id, has_kw, n_d, sqd FROM sq
               UNION ALL
               SELECT doc_id, has_kw, 0, CAST(0 AS BIGINT) FROM tt
               WHERE doc_id % 2 = 1 AND len(terms) = 0)
      SELECT doc_id, has_kw,
        round(1.0 / (1.0 + exp(-(CASE WHEN n_d = 0
          THEN (SELECT b0 FROM fin)
          ELSE ((SELECT b0 FROM fin) + (SELECT wl FROM fin)
              * ln(1.0 + CAST(n_d AS DOUBLE)))
            + (CAST(sqd AS DOUBLE) / 1073741824.0) / CAST(n_d AS DOUBLE)
          END))), 9) AS quality_prob
      FROM sall ORDER BY doc_id"""))

  val q87BpeTokenize = Q(
    "q87_tx_bpe_tokenize",
    (s, dir) => {
      // corpus-fit BPE: distributed word counting, deterministic driver
      // merge loop on the bounded frequency table, distributed encode.
      // Fully deterministic (exact integer counts, fixed tie-break), and
      // — new in round 8 — fully ORACLED: the DuckDB twin replays the
      // whole thing in SQL. The key device is representing a word's
      // symbol sequence as a double-space-joined string ("  l  o  w  "),
      // under which one left-to-right non-overlapping BPE merge pass of
      // pair (l,r) is EXACTLY one SQL replace(w, ' l  r ', ' lr ')
      // (separators are provably absent from symbols — words are
      // whitespace-split; the flanking single spaces pin both symbol
      // boundaries, and a consumed match leaves the outer spaces to
      // re-form the next boundary, so adjacent merges chain like the
      // Scala pass does, including the aaa→[aa,a] overlap rule). The
      // training loop is a recursive CTE whose per-step argmax is an
      // aggregate subquery over the working table (count desc, l, r
      // asc tie-break = code-point order on both engines); encoding is
      // a second recursive CTE applying the lowest-rank applicable
      // merge at its leftmost position per step (LATERAL ... ORDER BY
      // rank LIMIT 1), exactly encodeWord's priority rule.
      val docs = t(s, dir, "documents")
      val merges = operators.Bpe.train(
        operators.Bpe.wordFrequencies(docs, "text"), numMerges = 50)
      operators.Bpe.tokenCount(docs, "text", merges)
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE wf AS (
        SELECT word, COUNT(*)::BIGINT AS freq FROM (
          SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
          FROM documents WHERE text IS NOT NULL) WHERE len(word) > 0
        GROUP BY word
      ),
      seeded AS (
        SELECT '  ' || array_to_string(regexp_split_to_array(word, ''), '  ')
          || '  ' AS w, freq
        FROM wf
      ),
      bpe(iter, w, freq) AS (
        SELECT 0, w, freq FROM seeded
        UNION ALL
        SELECT iter + 1,
          replace(w, ' ' || best.l || '  ' || best.r || ' ',
                     ' ' || best.l || best.r || ' '),
          freq
        FROM bpe CROSS JOIN (
          SELECT l, r FROM (
            SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS c
            FROM (SELECT list_filter(string_split(w, '  '), x -> x <> '')
                    AS syms, freq FROM bpe),
              LATERAL unnest(range(1, len(syms))) t(i)
            GROUP BY 1, 2)
          ORDER BY c DESC, l, r LIMIT 1) best
        WHERE iter < 50
      ),
      merges AS (
        SELECT iter AS rank, l, r FROM (
          SELECT iter, l, r, row_number() OVER (
              PARTITION BY iter ORDER BY c DESC, l, r) AS rn
          FROM (
            SELECT iter, syms[i] AS l, syms[i+1] AS r, SUM(freq) AS c
            FROM (SELECT iter, list_filter(string_split(w, '  '), x -> x <> '')
                    AS syms, freq
                  FROM bpe WHERE iter < 50),
              LATERAL unnest(range(1, len(syms))) t(i)
            GROUP BY 1, 2, 3))
        WHERE rn = 1
      ),
      enc(w0, w) AS (
        SELECT word, '  ' || array_to_string(regexp_split_to_array(word, ''), '  ')
          || '  ' FROM wf
        UNION ALL
        SELECT w0,
          substr(w, 1, p - 1) || ' ' || l || r || ' ' ||
            substr(w, p + len(' ' || l || '  ' || r || ' '))
        FROM (
          SELECT w0, w, b.l AS l, b.r AS r,
            strpos(w, ' ' || b.l || '  ' || b.r || ' ') AS p
          FROM enc, LATERAL (
            SELECT l, r FROM merges
            WHERE strpos(w, ' ' || l || '  ' || r || ' ') > 0
            ORDER BY rank LIMIT 1) b(l, r))
      ),
      final AS (
        SELECT w0, w FROM enc e
        WHERE NOT EXISTS (SELECT 1 FROM merges m
          WHERE strpos(e.w, ' ' || m.l || '  ' || m.r || ' ') > 0)
      ),
      word_tokens AS (
        SELECT w0 AS word,
          len(list_filter(string_split(w, '  '), x -> x <> '')) AS n_sub
        FROM final
      ),
      doc_words AS (
        SELECT doc_id, word FROM (
          SELECT doc_id,
            unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
          FROM documents WHERE text IS NOT NULL) WHERE len(word) > 0
      )
      SELECT d.doc_id,
        COALESCE(x.n_words, 0)::INT AS n_words,
        COALESCE(x.n_bpe, 0)::INT AS n_bpe_tokens
      FROM documents d LEFT JOIN (
        SELECT doc_id, COUNT(*)::INT AS n_words, SUM(n_sub)::INT AS n_bpe
        FROM doc_words JOIN word_tokens USING (word) GROUP BY doc_id) x
        USING (doc_id)
      ORDER BY doc_id"""))

  val q88ParagraphDedup = Q(
    "q88_dd_paragraph_dedup",
    (s, dir) =>
      // Dolma-style keep-first paragraph dedup; paragraphs are 4-token
      // blocks (the word-salad corpus has no newline layout — real
      // docs pass a "\n{2,}" split), keyed by md5Hash60 for oracle
      // portability (production: xxhash64)
      Dedup.paragraphDedup(t(s, dir, "documents"), "doc_id", "text",
        paragraphsOf = Dedup.tokenBlocks(_, 4), keyOf = Dedup.md5Hash60)
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      s AS (SELECT doc_id, CAST(i AS INT) AS pos,
              array_to_string(list_slice(toks, i, i + 3), ' ') AS para
            FROM d, LATERAL unnest(range(1, greatest(len(toks), 1) + 1, 4)) t(i)),
      m AS (SELECT doc_id, pos, para,
              row_number() OVER (
                PARTITION BY ('0x' || substr(md5(para), 1, 15))::BIGINT
                ORDER BY doc_id, pos) AS rn
            FROM s),
      p AS (SELECT doc_id, COUNT(*) AS n_paragraphs,
              CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dropped,
              coalesce(array_to_string(
                list(para ORDER BY pos) FILTER (WHERE rn = 1), ' '), '')
                AS clean_text
            FROM m GROUP BY doc_id)
      SELECT doc.doc_id,
        coalesce(p.n_paragraphs, 0) AS n_paragraphs,
        coalesce(p.n_dropped, 0) AS n_dropped,
        p.clean_text
      FROM documents doc LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  val q89SemDedup = Q(
    "q89_sem_semdedup",
    (s, dir) =>
      // SemDeDup keep rule over deterministic hyperplane clusters: the
      // (centroid-cos, id)-minimal member of every mutual-duplicate
      // group survives; centroids are the quantized exact mean (q78's
      // arithmetic), clusters the 6-plane buckets the q49 oracle
      // already reproduces
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, dim = 64, planes = 6, maxBucket = 100)
        .orderBy("id"),
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      dots AS (
        SELECT vec_id, pp.p AS p,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) *
                 (((pp.p * 1103515 + (i - 1) * 12347 + 42) * 2654435761 % 1000003)
                  / 1000003.0 - 0.5))) AS dp
        FROM v CROSS JOIN (SELECT unnest(range(0, 6)) AS p) pp),
      sig AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
            AS BIGINT) AS cluster
        FROM dots GROUP BY vec_id),
      cent AS (
        SELECT cluster, i AS pos,
          CAST(SUM(CAST(floor(CAST(cv[i] AS DOUBLE) * 1000000.0) AS BIGINT))
            AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
        FROM v JOIN sig USING (vec_id), LATERAL unnest(range(1, len(cv) + 1)) t(i)
        GROUP BY cluster, i),
      cvec AS (SELECT cluster, list(c ORDER BY pos) AS centroid
               FROM cent GROUP BY cluster),
      scored AS (
        SELECT v.vec_id, s.cluster, v.cv,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
               i -> centroid[i] * centroid[i]))), 0) AS ccos
        FROM v JOIN sig s USING (vec_id) JOIN cvec USING (cluster)),
      sok AS (SELECT cluster FROM sig GROUP BY cluster HAVING COUNT(*) <= 100),
      pok AS (SELECT scored.* FROM scored JOIN sok USING (cluster)),
      dropped AS (
        SELECT DISTINCT CASE WHEN (a.ccos, a.vec_id) > (b.ccos, b.vec_id)
                             THEN a.vec_id ELSE b.vec_id END AS vec_id
        FROM pok a JOIN pok b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, len(a.cv) + 1),
                i -> CAST(a.cv[i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))
              / NULLIF(sqrt(list_sum(list_transform(range(1, len(a.cv) + 1),
                   i -> CAST(a.cv[i] AS DOUBLE) * CAST(a.cv[i] AS DOUBLE))))
                 * sqrt(list_sum(list_transform(range(1, len(b.cv) + 1),
                   i -> CAST(b.cv[i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))), 0)
                >= 0.3)
      SELECT sc.vec_id AS id, sc.cluster,
        round(sc.ccos, 6) AS cos_centroid,
        d.vec_id IS NULL AS keep
      FROM scored sc LEFT JOIN dropped d USING (vec_id)
      ORDER BY id"""))

  val q91KeepBest = Q(
    "q91_dd_pipeline_keep_best",
    (s, dir) => {
      // END-TO-END dedup pipeline: minhash-LSH candidate pairs (q29's
      // exact config) → connected components (q62's operator) →
      // keep-best resolution (longest text, tie by id). The gate proves
      // the three stages COMPOSE correctly — each is individually
      // oracle-gated, this checks the seams.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 6, threshold = 0.3,
        baseHash = Dedup.md5Base, maxBandBucket = 50)
      val clusters = Dedup.dupClusters(pairs.select(
        col("id_a"), col("id_b")))
      Dedup.dedupKeepBest(docs, "doc_id", clusters, length(col("text")))
        .select(col("doc_id"), col("cluster_id"),
          length(col("text")).cast("long").as("text_len"), col("is_kept"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE sh0 AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')))
            AS sh
        FROM documents),
      shn AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT % 2147483647 AS hh FROM ex),
      params AS (SELECT unnest(range(0, 12)) AS s),
      mh AS (
        SELECT doc_id, s,
          MIN(((1000003 * s + 12345) * hh + (999983 * s + 7)) % 2147483647) AS m
        FROM h CROSS JOIN params GROUP BY doc_id, s),
      bandsig AS (
        SELECT doc_id, s // 2 AS band,
          MIN(CASE WHEN s % 2 = 0 THEN m END) AS m0,
          MIN(CASE WHEN s % 2 = 1 THEN m END) AS m1
        FROM mh GROUP BY doc_id, band),
      bok AS (SELECT band, m0, m1 FROM bandsig
              GROUP BY band, m0, m1 HAVING COUNT(*) <= 50),
      bandok AS (SELECT bandsig.* FROM bandsig JOIN bok USING (band, m0, m1)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandok a JOIN bandok b
          ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
         AND a.doc_id < b.doc_id),
      p0 AS (
        SELECT id_a, id_b
        FROM cand JOIN shn a ON cand.id_a = a.doc_id
                  JOIN shn b ON cand.id_b = b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM p0
        UNION
        SELECT id_b AS src, id_a AS dst FROM p0),
      reach AS (
        SELECT src AS id, src AS comp FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
      cl AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
      ranked AS (
        SELECT d.doc_id, cl.cluster_id,
          CAST(len(d.text) AS BIGINT) AS text_len,
          row_number() OVER (
            PARTITION BY coalesce(cl.cluster_id, d.doc_id)
            ORDER BY len(d.text) DESC, d.doc_id ASC) AS rn
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
      SELECT doc_id, cluster_id, text_len, rn = 1 AS is_kept
      FROM ranked ORDER BY doc_id"""))

  val q90Blocklist = Q(
    "q90_tx_blocklist",
    (s, dir) =>
      // C4-style badword page filter, token-exact; list words chosen
      // from the corpus vocabulary so both verdicts are exercised
      Curation.blocklistFilter(t(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "dup", "vector"))
        // the comparator handles scalars only — flatten the term array
        .withColumn("blocked_terms", array_join(col("blocked_terms"), " "))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> t IN ('slow', 'dup', 'vector')) AS hits
             FROM documents)
      SELECT doc_id,
        coalesce(CAST(len(hits) AS BIGINT), 0) AS n_blocked,
        coalesce(array_to_string(list_sort(list_distinct(hits)), ' '), '')
          AS blocked_terms,
        coalesce(len(hits) = 0, true) AS passes_blocklist
      FROM d
      ORDER BY doc_id"""))

  val q92FuzzyDedup = Q(
    "q92_dd_fuzzy_editdist",
    (s, dir) =>
      // MinHash-LSH candidates (q91's exact config) verified by
      // normalized Levenshtein similarity — the character-level fuzzy
      // dedup verifier; threshold 0.8 splits the fixture's 32 candidate
      // pairs 25 dup / 7 non-dup, so both verdicts are exercised
      Dedup.fuzzyDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 6, minEditSim = 0.8,
        baseHash = Dedup.md5Base, maxBandBucket = 50)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH sh0 AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')))
            AS sh
        FROM documents),
      shn AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT % 2147483647 AS hh FROM ex),
      params AS (SELECT unnest(range(0, 12)) AS s),
      mh AS (
        SELECT doc_id, s,
          MIN(((1000003 * s + 12345) * hh + (999983 * s + 7)) % 2147483647) AS m
        FROM h CROSS JOIN params GROUP BY doc_id, s),
      bandsig AS (
        SELECT doc_id, s // 2 AS band,
          MIN(CASE WHEN s % 2 = 0 THEN m END) AS m0,
          MIN(CASE WHEN s % 2 = 1 THEN m END) AS m1
        FROM mh GROUP BY doc_id, band),
      bok AS (SELECT band, m0, m1 FROM bandsig
              GROUP BY band, m0, m1 HAVING COUNT(*) <= 50),
      bandok AS (SELECT bandsig.* FROM bandsig JOIN bok USING (band, m0, m1)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandok a JOIN bandok b
          ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
         AND a.doc_id < b.doc_id),
      nt AS (SELECT doc_id, lower(trim(text)) AS t FROM documents)
      SELECT id_a, id_b,
        CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
        1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
            / greatest(length(a.t), length(b.t), 1) AS edit_sim,
        1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
            / greatest(length(a.t), length(b.t), 1) >= 0.8 AS is_dup
      FROM cand JOIN nt a ON id_a = a.doc_id JOIN nt b ON id_b = b.doc_id
      ORDER BY id_a, id_b"""))

  val q93PerplexityBuckets = Q(
    "q93_tx_perplexity_buckets",
    (s, dir) => {
      // CCNet head/middle/tail bucketing over the q83 unigram-LM score;
      // exact tercile cutoffs (quantile_cont semantics on both engines)
      // compared against the round(,6)-stabilized score
      val docs = t(s, dir, "documents")
      Curation.perplexityBuckets(docs,
        Curation.fitUnigramLm(docs, "text"), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tf AS (SELECT doc_id, term FROM t WHERE len(term) > 0),
      c AS (SELECT term, COUNT(*) AS c FROM tf GROUP BY term),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM c),
      lp AS (SELECT doc_id, ln(CAST(c.c AS DOUBLE) / tot.total) AS lp
             FROM tf JOIN c USING (term) CROSS JOIN tot),
      p AS (SELECT doc_id, COUNT(*) AS n_tokens,
              round(SUM(lp) / COUNT(*), 6) AS logprob_mean
            FROM lp GROUP BY doc_id),
      sc AS (SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
               p.logprob_mean
             FROM documents d LEFT JOIN p USING (doc_id)),
      cuts AS (SELECT quantile_cont(logprob_mean, 1.0/3) AS lo,
                      quantile_cont(logprob_mean, 2.0/3) AS hi FROM sc)
      SELECT doc_id, n_tokens, logprob_mean,
        CASE WHEN logprob_mean IS NULL THEN 'tail'
             WHEN logprob_mean <= lo THEN 'tail'
             WHEN logprob_mean <= hi THEN 'middle'
             ELSE 'head' END AS bucket
      FROM sc CROSS JOIN cuts
      ORDER BY doc_id"""))

  val q94SourceQuality = Q(
    "q94_s_source_quality",
    (s, dir) => {
      // RefinedWeb-style domain-level filtering: per-source rollup +
      // keep/drop verdict. A shifted duplicate of every 7th doc is
      // unioned in so dup_ratio is non-zero and BOTH verdict arms cut:
      // sources fail on mean quality (< 0.48) or on dup share (> 0.12,
      // between the 3-dup and 4-dup per-source ratios the union creates)
      val docs = t(s, dir, "documents")
      val redup = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + lit(100000L)))
      Curation.sourceQualityStats(redup, "text", "source", Stopwords,
        minMeanQuality = 0.48, maxDupRatio = 0.12)
        .orderBy("source")
    },
    Some("""
      WITH base AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT source, text FROM documents WHERE doc_id % 7 = 0),
      d AS (SELECT source, text,
              regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM base),
      f AS (SELECT source,
              CAST(floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
                + least((CAST(len(list_filter(toks,
                    t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                    / len(toks)) * 5.0, 1.0) * 0.3) * 1000000.0) AS BIGINT) AS qq,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k
            FROM d),
      g AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(qq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS mean_quality,
              1.0 - CAST(COUNT(DISTINCT k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS dup_ratio
            FROM f GROUP BY source)
      SELECT source, n_docs, mean_quality, dup_ratio,
        mean_quality >= 0.48 AND dup_ratio <= 0.12 AS keep_source
      FROM g ORDER BY source"""))

  /** Shared DuckDB replay of the q95 k-means (k=8, iters=2):
    * init c0 → two quantized-mean rounds (c1, c2) → per-(vector,
    * centroid) cosine under the final centroids (`af`). q95 ranks
    * af for the assignment; q239 reads the same af for the
    * simplified silhouette.
    */
  private val Kmeans8x2Cte = """v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      c0 AS (SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
             FROM embeddings ORDER BY vec_id LIMIT 8),
      a1 AS (
        SELECT v.vec_id, v.cv, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c0 c),
      s1 AS (SELECT vec_id, cv, cid AS cluster FROM (
               SELECT vec_id, cv, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn
               FROM a1) WHERE rn = 1),
      m1 AS (SELECT cluster AS cid, i AS pos,
               CAST(SUM(CAST(floor(CAST(cv[i] AS DOUBLE) * 1000000.0) AS BIGINT))
                 AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
             FROM s1, LATERAL unnest(range(1, len(cv) + 1)) t(i)
             GROUP BY cluster, i),
      mv1 AS (SELECT cid, list(m ORDER BY pos) AS mean FROM m1 GROUP BY cid),
      c1 AS (SELECT c0.cid, coalesce(mv1.mean, c0.centroid) AS centroid
             FROM c0 LEFT JOIN mv1 USING (cid)),
      a2 AS (
        SELECT v.vec_id, v.cv, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c1 c),
      s2 AS (SELECT vec_id, cv, cid AS cluster FROM (
               SELECT vec_id, cv, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn
               FROM a2) WHERE rn = 1),
      m2 AS (SELECT cluster AS cid, i AS pos,
               CAST(SUM(CAST(floor(CAST(cv[i] AS DOUBLE) * 1000000.0) AS BIGINT))
                 AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
             FROM s2, LATERAL unnest(range(1, len(cv) + 1)) t(i)
             GROUP BY cluster, i),
      mv2 AS (SELECT cid, list(m ORDER BY pos) AS mean FROM m2 GROUP BY cid),
      c2 AS (SELECT c1.cid, coalesce(mv2.mean, c1.centroid) AS centroid
             FROM c1 LEFT JOIN mv2 USING (cid)),
      af AS (
        SELECT v.vec_id, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c2 c)"""

  val q95Kmeans = Q(
    "q95_ann_kmeans",
    (s, dir) =>
      // distributed Lloyd k-means, oracle-grade: first-8-by-id init, two
      // assign→quantized-mean rounds, final assignment; the oracle
      // unrolls both iterations as CTEs (q78/q89 quantized-centroid and
      // q41 raw-cosine-ranking precedents)
      Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("vec_id"),
    Some(s"""
      WITH $Kmeans8x2Cte,
      fin AS (SELECT vec_id, cid, ccos, row_number() OVER (
                PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn,
                MAX(ccos) OVER (PARTITION BY vec_id) AS mx
              FROM af)
      SELECT vec_id, cid AS cluster, round(mx, 6) AS cos
      FROM fin WHERE rn = 1
      ORDER BY vec_id"""))

  val q96SparseCosine = Q(
    "q96_ann_sparse_cosine",
    (s, dir) =>
      // sparse lexical cosine over the DF-capped term space; the word-
      // salad corpus has a ~31-term vocabulary, so cap 400 keeps the
      // whole mid-frequency band (shared-salad pairs spread 0.03–0.999)
      // and 0.9 splits 47 similar / 124k dissimilar — both verdicts cut
      Similarity.sparseCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        maxTermDf = 400, minCosine = 0.9)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH t AS (SELECT doc_id AS id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tf AS (SELECT id, term, COUNT(*) AS tf FROM t
             WHERE len(term) > 0 GROUP BY id, term),
      keep AS (SELECT term FROM tf GROUP BY term HAVING COUNT(*) <= 400),
      k AS (SELECT tf.* FROM tf JOIN keep USING (term)),
      norms AS (SELECT id, SUM(tf * tf) AS n2 FROM k GROUP BY id),
      dots AS (SELECT a.id AS id_a, b.id AS id_b,
                 CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
               FROM k a JOIN k b ON a.term = b.term AND a.id < b.id
               GROUP BY 1, 2)
      SELECT id_a, id_b, dot,
        CAST(dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos,
        CAST(dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.9
          AS is_sim
      FROM dots JOIN norms na ON na.id = id_a JOIN norms nb ON nb.id = id_b
      ORDER BY id_a, id_b"""))

  val q97Bm25 = Q(
    "q97_ret_bm25_topk",
    (s, dir) => {
      // BM25 ranked retrieval: first 20 docs as the query set against
      // the full corpus; quantized-long scores make the ranking (and
      // the emitted score) integer-exact on both engines
      val docs = t(s, dir, "documents")
      operators.Retrieval.bm25TopK(docs.filter(col("doc_id") < 20), docs,
        "doc_id", "text", k = 5, maxTermDf = 500)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH t AS (SELECT doc_id AS d,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tfx AS (SELECT d, term, COUNT(*) AS tf FROM t
              WHERE len(term) > 0 GROUP BY d, term),
      dlx AS (SELECT d, CAST(SUM(tf) AS BIGINT) AS dl FROM tfx GROUP BY d),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      ax AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
             FROM dlx),
      dfx AS (SELECT term, COUNT(*) AS df FROM tfx
              GROUP BY term HAVING COUNT(*) <= 500),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM (
               SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents WHERE doc_id < 20)
             WHERE len(term) > 0),
      m AS (SELECT qt.query_id, tfx.d, tfx.tf, dfx.df, dlx.dl
            FROM tfx JOIN qt USING (term) JOIN dfx USING (term)
                 JOIN dlx ON dlx.d = tfx.d
            WHERE qt.query_id <> tfx.d),
      sc AS (SELECT query_id, d,
               CAST(SUM(CAST(floor(1000000.0 * (
                 ln(1.0 + (CAST(nn.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5))
                 * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
                   / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                      * (1.0 - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / ax.avgdl)))
                 )) AS BIGINT)) AS BIGINT) AS score_q
             FROM m CROSS JOIN nn CROSS JOIN ax
             GROUP BY query_id, d)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY score_q DESC, d ASC) AS INTEGER) AS rank,
        d AS doc_id,
        CAST(score_q AS DOUBLE) / 1000000.0 AS score
      FROM sc
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  val q98GopherRules = Q(
    "q98_tx_gopher_rules",
    (s, dir) =>
      // Gopher A1.1 token-shape battery; minWords 50 splits the fixture
      // by length and the stop-hit rule by vocabulary — several rules cut
      Curation.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        Stopwords)
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
             FROM documents),
      m AS (SELECT doc_id,
              CAST(len(t) AS BIGINT) AS n_words,
              CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                AS DOUBLE) / greatest(CAST(len(t) AS BIGINT), 1) AS mean_word_len,
              CAST(len(list_filter(t,
                x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
                / greatest(CAST(len(t) AS BIGINT), 1) AS symbol_ratio,
              CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                / greatest(CAST(len(t) AS BIGINT), 1) AS alpha_frac,
              CAST(len(list_filter(t,
                x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
                AS stop_hits
            FROM d)
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
        n_words >= 50 AND n_words <= 100000 AS ok_word_count,
        mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
        symbol_ratio <= 0.1 AS ok_symbols,
        alpha_frac >= 0.8 AS ok_alpha,
        stop_hits >= 2 AS ok_stopwords,
        (n_words >= 50 AND n_words <= 100000)
          AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
          AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2
          AS passes_gopher
      FROM m ORDER BY doc_id"""))

  val q99CurationFunnel = Q(
    "q99_pipeline_curation_funnel",
    (s, dir) => {
      // END-TO-END curation funnel: Gopher rules (q98) ∧ blocklist
      // (q90) ∧ exact-dedup canonical (q22 keeper) ∧ stratified split
      // (q76) → one training-set verdict per doc. Each stage is
      // individually gated; this checks the seams (q91's pattern for
      // the quality/selection half of the pipeline).
      val docs = t(s, dir, "documents")
      val g = Curation.gopherRules(docs, "doc_id", "text", Stopwords)
        .select(col("doc_id"), col("passes_gopher"))
      val b = Curation.blocklistFilter(docs, "doc_id", "text", Seq("dup"))
        .select(col("doc_id"), col("passes_blocklist"))
      val keepers = Dedup.exact(docs, md5(col("text")), "doc_id")
        .select(col("content_hash"), col("keeper_id"))
      val sp = Curation.stratifiedSplit(docs, "text")
        .select(col("doc_id"), col("split"))
      docs.select(col("doc_id"), md5(col("text")).as("__h"))
        .join(keepers, col("__h") === col("content_hash"), "left")
        .select(col("doc_id"), (col("doc_id") === col("keeper_id")).as("is_canonical"))
        .join(g, Seq("doc_id")).join(b, Seq("doc_id")).join(sp, Seq("doc_id"))
        .withColumn("selected",
          col("passes_gopher") && col("passes_blocklist") &&
            col("is_canonical") && col("split") === "train")
        .select("doc_id", "passes_gopher", "passes_blocklist",
          "is_canonical", "split", "selected")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
             FROM documents),
      gv AS (SELECT doc_id,
               (CAST(len(t) AS BIGINT) >= 50 AND CAST(len(t) AS BIGINT) <= 100000)
               AND (CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                     AS DOUBLE) / greatest(CAST(len(t) AS BIGINT), 1) >= 3.0
                 AND CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                     AS DOUBLE) / greatest(CAST(len(t) AS BIGINT), 1) <= 10.0)
               AND CAST(len(list_filter(t,
                     x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
                   / greatest(CAST(len(t) AS BIGINT), 1) <= 0.1
               AND CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                     AS DOUBLE) / greatest(CAST(len(t) AS BIGINT), 1) >= 0.8
               AND CAST(len(list_filter(t,
                     x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
                   >= 2 AS passes_gopher
             FROM d),
      bl AS (SELECT doc_id,
               coalesce(len(list_filter(t, x -> x IN ('dup'))) = 0, true)
                 AS passes_blocklist
             FROM d),
      e AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper
            FROM documents GROUP BY md5(text)),
      ec AS (SELECT doc.doc_id, doc.doc_id = e.keeper AS is_canonical
             FROM documents doc LEFT JOIN e ON md5(doc.text) = e.h),
      sp AS (SELECT doc_id,
               CASE WHEN h IS NULL THEN 'train'
                    WHEN h % 100 < 80 THEN 'train'
                    WHEN h % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id,
                     ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g')), 1, 15))::BIGINT AS h
                   FROM documents))
      SELECT doc_id, passes_gopher, passes_blocklist, is_canonical, split,
        passes_gopher AND passes_blocklist AND is_canonical
          AND split = 'train' AS selected
      FROM gv JOIN bl USING (doc_id) JOIN ec USING (doc_id) JOIN sp USING (doc_id)
      ORDER BY doc_id"""))

  /** (q100) DSIR importance weights: target-vs-raw unigram
    * log-likelihood ratio per doc, integer-quantized per TERM so the
    * per-doc long sum is partition-order free (Curation scaladoc).
    */
  val q100DsirWeights = Q(
    "q100_s_dsir_weights",
    (s, dir) =>
      Curation.importanceWeights(t(s, dir, "documents"),
        "doc_id", "text", "source", targetSource = "src7")
        .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tf AS (SELECT doc_id, source, term FROM t WHERE len(term) > 0),
      c AS (SELECT term,
              CAST(SUM(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
              CAST(SUM(CASE WHEN source <> 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS cr
            FROM tf GROUP BY term),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
                     CAST(COUNT(*) AS BIGINT) AS v FROM c),
      w AS (SELECT term,
              CAST(floor(1000000.0 * (
                ln((ct + 1) / CAST(nt + v AS DOUBLE)) -
                ln((cr + 1) / CAST(nr + v AS DOUBLE)))) AS BIGINT) AS w_q
            FROM c CROSS JOIN tot),
      p AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(w_q) AS weight_q
            FROM tf JOIN w USING (term) GROUP BY doc_id)
      SELECT d.doc_id, d.source,
        coalesce(p.n_tokens, 0) AS n_tokens,
        CAST(coalesce(p.weight_q, 0) AS BIGINT) AS dsir_weight_q,
        round(coalesce(p.weight_q, 0) / 1000000.0, 6) AS dsir_weight
      FROM documents d LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  /** (q101) Token-budget mixture sampling: acceptance rate derived from
    * measured per-source token mass vs ⌊budget·w⌋, selected by exact
    * integer hash-threshold (Packing scaladoc). Weights cover 4 of the
    * 20 sources; absent sources keep nothing, an over-budgeted source
    * keeps everything.
    */
  val q101BudgetSample = Q(
    "q101_s_budget_sample",
    (s, dir) =>
      graft.operators.Packing.sampleToBudget(t(s, dir, "documents"),
        "doc_id", "text", "source",
        weights = Map("src0" -> 0.4, "src3" -> 0.3, "src7" -> 0.2,
          "src12" -> 0.1),
        budgetTokens = 5000L)
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
            AS n_tokens
        FROM documents),
      m AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
            FROM tk GROUP BY source),
      w(source, tgt) AS (VALUES ('src0', 2000), ('src3', 1500),
                                ('src7', 1000), ('src12', 500)),
      b AS (SELECT doc_id,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':budget'),
                1, 15))::BIGINT % 1000000 AS bucket
            FROM documents)
      SELECT tk.doc_id, tk.source, CAST(tk.n_tokens AS BIGINT) AS n_tokens,
        m.src_tokens, CAST(coalesce(w.tgt, 0) AS BIGINT) AS tgt_tokens,
        CAST(b.bucket AS HUGEINT) * m.src_tokens <
          CAST(coalesce(w.tgt, 0) AS HUGEINT) * 1000000 AS selected
      FROM tk JOIN m USING (source) LEFT JOIN w USING (source)
        JOIN b USING (doc_id)
      ORDER BY doc_id"""))

  /** (q102) Per-source tokenizer fertility under the corpus-fit BPE
    * (q87's tokenizer): subword-per-word ratio by source — the
    * which-sources-pay-more-tokens audit. Oracle = q87's recursive-CTE
    * BPE replay aggregated by source; fertility is one exact
    * long/long → double division on both engines.
    */
  val q102BpeFertility = Q(
    "q102_tx_bpe_fertility",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = operators.Bpe.train(
        operators.Bpe.wordFrequencies(docs, "text"), numMerges = 50)
      operators.Bpe.fertilityBySource(docs, "text", "source", merges)
        .orderBy("source")
    },
    Some("""
      WITH RECURSIVE wf AS (
        SELECT word, COUNT(*)::BIGINT AS freq FROM (
          SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
          FROM documents WHERE text IS NOT NULL) WHERE len(word) > 0
        GROUP BY word
      ),
      seeded AS (
        SELECT '  ' || array_to_string(regexp_split_to_array(word, ''), '  ')
          || '  ' AS w, freq
        FROM wf
      ),
      bpe(iter, w, freq) AS (
        SELECT 0, w, freq FROM seeded
        UNION ALL
        SELECT iter + 1,
          replace(w, ' ' || best.l || '  ' || best.r || ' ',
                     ' ' || best.l || best.r || ' '),
          freq
        FROM bpe CROSS JOIN (
          SELECT l, r FROM (
            SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS c
            FROM (SELECT list_filter(string_split(w, '  '), x -> x <> '')
                    AS syms, freq FROM bpe),
              LATERAL unnest(range(1, len(syms))) t(i)
            GROUP BY 1, 2)
          ORDER BY c DESC, l, r LIMIT 1) best
        WHERE iter < 50
      ),
      merges AS (
        SELECT iter AS rank, l, r FROM (
          SELECT iter, l, r, row_number() OVER (
              PARTITION BY iter ORDER BY c DESC, l, r) AS rn
          FROM (
            SELECT iter, syms[i] AS l, syms[i+1] AS r, SUM(freq) AS c
            FROM (SELECT iter, list_filter(string_split(w, '  '), x -> x <> '')
                    AS syms, freq
                  FROM bpe WHERE iter < 50),
              LATERAL unnest(range(1, len(syms))) t(i)
            GROUP BY 1, 2, 3))
        WHERE rn = 1
      ),
      enc(w0, w) AS (
        SELECT word, '  ' || array_to_string(regexp_split_to_array(word, ''), '  ')
          || '  ' FROM wf
        UNION ALL
        SELECT w0,
          substr(w, 1, p - 1) || ' ' || l || r || ' ' ||
            substr(w, p + len(' ' || l || '  ' || r || ' '))
        FROM (
          SELECT w0, w, b.l AS l, b.r AS r,
            strpos(w, ' ' || b.l || '  ' || b.r || ' ') AS p
          FROM enc, LATERAL (
            SELECT l, r FROM merges
            WHERE strpos(w, ' ' || l || '  ' || r || ' ') > 0
            ORDER BY rank LIMIT 1) b(l, r))
      ),
      final AS (
        SELECT w0, w FROM enc e
        WHERE NOT EXISTS (SELECT 1 FROM merges m
          WHERE strpos(e.w, ' ' || m.l || '  ' || m.r || ' ') > 0)
      ),
      word_tokens AS (
        SELECT w0 AS word,
          len(list_filter(string_split(w, '  '), x -> x <> '')) AS n_sub
        FROM final
      ),
      doc_words AS (
        SELECT doc_id, word FROM (
          SELECT doc_id,
            unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
          FROM documents WHERE text IS NOT NULL) WHERE len(word) > 0
      ),
      per_doc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_words,
          CAST(SUM(n_sub) AS BIGINT) AS n_bpe
        FROM doc_words JOIN word_tokens USING (word) GROUP BY doc_id
      )
      SELECT d.source, COUNT(*)::BIGINT AS n_docs,
        CAST(SUM(coalesce(p.n_words, 0)) AS BIGINT) AS n_words,
        CAST(SUM(coalesce(p.n_bpe, 0)) AS BIGINT) AS n_bpe_tokens,
        CASE WHEN SUM(coalesce(p.n_words, 0)) > 0 THEN
          CAST(SUM(coalesce(p.n_bpe, 0)) AS DOUBLE)
            / CAST(SUM(coalesce(p.n_words, 0)) AS DOUBLE) END AS fertility
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      GROUP BY d.source
      ORDER BY d.source"""))

  /** (q103) Temperature-flattened mixture (α = 0.5): targets ∝
    * ⌊√mass⌋ (exact integer sqrt, exact HUGEINT floor division —
    * Packing.temperatureMix scaladoc), selection by the q101 integer
    * hash-threshold. Every source participates (flattening), so the
    * gate exercises mid-rate splits on all 20 sources.
    */
  val q103TemperatureMix = Q(
    "q103_s_temperature_mix",
    (s, dir) =>
      graft.operators.Packing.temperatureMix(t(s, dir, "documents"),
        "doc_id", "text", "source", budgetTokens = 5000L)
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
            AS n_tokens
        FROM documents),
      m AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
            FROM tk GROUP BY source),
      iq AS (SELECT source, src_tokens,
               CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS q
             FROM m),
      den AS (SELECT CAST(SUM(q) AS HUGEINT) AS d FROM iq),
      w AS (SELECT source, src_tokens,
              CAST((CAST(5000 AS HUGEINT) * CAST(q AS HUGEINT)) // den.d
                AS BIGINT) AS tgt_tokens
            FROM iq CROSS JOIN den),
      b AS (SELECT doc_id,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':budget'),
                1, 15))::BIGINT % 1000000 AS bucket
            FROM documents)
      SELECT tk.doc_id, tk.source, CAST(tk.n_tokens AS BIGINT) AS n_tokens,
        w.src_tokens, w.tgt_tokens,
        CAST(b.bucket AS HUGEINT) * w.src_tokens <
          CAST(w.tgt_tokens AS HUGEINT) * 1000000 AS selected
      FROM tk JOIN w USING (source) JOIN b USING (doc_id)
      ORDER BY tk.doc_id"""))

  /** (q104) Bigram-LM document scoring (order-1 CCNet proxy, one up
    * from q83's unigram): add-one-smoothed transition log-probs,
    * ⌊10⁶·ln⌋-quantized per transition then long-summed per doc —
    * partition-order free; the mean is two exact-input double
    * divisions (Curation.bigramScore scaladoc).
    */
  val q104BigramLp = Q(
    "q104_tx_bigram_lp",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.bigramScore(docs, Curation.fitBigramLm(docs, "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH tk AS (
        SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents WHERE text IS NOT NULL),
      tr AS (
        SELECT doc_id, t[i] AS t1, t[i+1] AS t2
        FROM tk, LATERAL unnest(range(1, len(t))) u(i)
        WHERE len(t) >= 2),
      c12 AS (SELECT t1, t2, COUNT(*)::BIGINT AS c12 FROM tr GROUP BY 1, 2),
      c1 AS (SELECT t1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      vv AS (SELECT COUNT(DISTINCT x)::BIGINT AS v FROM
               (SELECT unnest(t) AS x FROM tk)),
      sc AS (
        SELECT tr.doc_id, COUNT(*)::BIGINT AS n_trans,
          CAST(SUM(CAST(floor(1000000.0 * ln(
            CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + vv.v AS DOUBLE)))
            AS BIGINT)) AS BIGINT) AS lpq
        FROM tr JOIN c12 USING (t1, t2) JOIN c1 USING (t1) CROSS JOIN vv
        GROUP BY tr.doc_id)
      SELECT d.doc_id,
        coalesce(sc.n_trans, 0) AS n_trans,
        coalesce(sc.lpq, 0) AS bigram_lp_q,
        CASE WHEN sc.n_trans > 0 THEN
          (CAST(sc.lpq AS DOUBLE) / 1000000.0) / CAST(sc.n_trans AS DOUBLE)
          END AS bigram_lp_mean
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY d.doc_id"""))

  /** (q105) Hard-negative mining: per query, top-k corpus items with
    * cosine in [0.15, 0.35) — near the decision boundary, below the
    * near-dup band (Similarity.hardNegatives scaladoc). Oracle = q28's
    * exact-cosine form with the band predicate.
    */
  val q105HardNegatives = Q(
    "q105_ann_hard_negatives",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 3, minCos = 0.15, maxCos = 0.35)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0) AS cos
        FROM q JOIN c ON query_id <> neighbor_id),
      banded AS (SELECT * FROM scored WHERE cos >= 0.15 AND cos < 0.35)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id, round(cos, 6) AS cos_r
      FROM banded
      QUALIFY rank <= 3
      ORDER BY query_id, rank"""))

  /** (q106) Hybrid retrieval: BM25 lexical top-10 (q97's machinery)
    * and dense cosine top-10 (q28's) fused by reciprocal-rank fusion
    * (Retrieval.rrfFuse scaladoc — integer-quantized 10⁹ div (60+rank)
    * contributions, so the fused ranking is long-exact on both
    * engines). documents.doc_id and embeddings.vec_id are the same id
    * space by fixture construction, so the two arms rank the same
    * corpus through different modalities.
    */
  val q106HybridRrf = Q(
    "q106_ret_hybrid_rrf",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = operators.Retrieval.bm25TopK(docs.filter(col("doc_id") < 20),
        docs, "doc_id", "text", k = 10, maxTermDf = 500)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.cosineTopK(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      operators.Retrieval.rrfFuse(Seq(lex, dense), k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH t AS (SELECT doc_id AS d,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tfx AS (SELECT d, term, COUNT(*) AS tf FROM t
              WHERE len(term) > 0 GROUP BY d, term),
      dlx AS (SELECT d, CAST(SUM(tf) AS BIGINT) AS dl FROM tfx GROUP BY d),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      ax AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
             FROM dlx),
      dfx AS (SELECT term, COUNT(*) AS df FROM tfx
              GROUP BY term HAVING COUNT(*) <= 500),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM (
               SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents WHERE doc_id < 20)
             WHERE len(term) > 0),
      m AS (SELECT qt.query_id, tfx.d, tfx.tf, dfx.df, dlx.dl
            FROM tfx JOIN qt USING (term) JOIN dfx USING (term)
                 JOIN dlx ON dlx.d = tfx.d
            WHERE qt.query_id <> tfx.d),
      sc AS (SELECT query_id, d,
               CAST(SUM(CAST(floor(1000000.0 * (
                 ln(1.0 + (CAST(nn.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5))
                 * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
                   / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                      * (1.0 - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / ax.avgdl)))
                 )) AS BIGINT)) AS BIGINT) AS score_q
             FROM m CROSS JOIN nn CROSS JOIN ax
             GROUP BY query_id, d),
      lex AS (SELECT query_id, d AS doc_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, d ASC) AS rank
              FROM sc QUALIFY rank <= 10),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0) AS cos
        FROM q JOIN c ON query_id <> neighbor_id),
      dense AS (SELECT query_id, neighbor_id AS doc_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored QUALIFY rank <= 10),
      arms AS (SELECT query_id, doc_id, rank FROM lex
               UNION ALL
               SELECT query_id, doc_id, rank FROM dense),
      fused AS (SELECT query_id, doc_id,
                  CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_q
                FROM arms GROUP BY query_id, doc_id)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_q DESC, doc_id ASC) AS INTEGER) AS rank,
        doc_id,
        CAST(rrf_q AS DOUBLE) / 1000000000.0 AS rrf_score
      FROM fused
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** (q107) IVF recall@5 audit in the APPROXIMATE regime (nprobe 4 of
    * 16 — q41 gates the exact-recall configuration): per query, how
    * many of the exact top-5 the probe-limited search recovered. The
    * oracle replays the whole IVF machinery in SQL — first-16-by-id
    * centroids, nearest-centroid assignment (q95's ordering), top-4
    * probe routing, within-cluster exact cosine — against the q28
    * brute-force form, so the measured recall is itself hash-checked.
    */
  val q107IvfRecall = Q(
    "q107_ann_ivf_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      val approx = Similarity.ivfTopK(qs, emb, "vec_id", "embedding",
        k = 5, nClusters = 16, nprobe = 4)
      val exact = Similarity.cosineTopK(qs, emb, "vec_id", "embedding", k = 5)
      operators.Retrieval.recallAtK(approx, exact, k = 5)
        .orderBy("query_id")
    },
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      cents AS (SELECT vec_id AS cid,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
                FROM embeddings ORDER BY vec_id LIMIT 16),
      asg AS (
        SELECT vec_id, cid,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) * centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
               i -> centroid[i] * centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN cents),
      assigned AS (SELECT vec_id, cid AS cluster FROM (
                     SELECT vec_id, cid, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn
                     FROM asg) WHERE rn = 1),
      qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
             WHERE vec_id < 20),
      pr AS (
        SELECT query_id, cid,
          list_sum(list_transform(range(1, len(qe) + 1),
            i -> CAST(qe[i] AS DOUBLE) * centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qe) + 1),
               i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
               i -> centroid[i] * centroid[i]))), 0) AS qcos
        FROM qv CROSS JOIN cents),
      probes AS (SELECT query_id, cid AS cluster FROM (
                   SELECT query_id, cid, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY qcos DESC NULLS LAST, cid ASC) AS rn
                   FROM pr) WHERE rn <= 4),
      ascored AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.qe) + 1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))), 0) AS cos
        FROM probes p
        JOIN assigned a ON a.cluster = p.cluster
        JOIN v ON v.vec_id = a.vec_id
        JOIN qv q ON q.query_id = p.query_id
        WHERE p.query_id <> v.vec_id),
      approx AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM ascored) WHERE rank <= 5),
      escored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.qe) + 1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))), 0) AS cos
        FROM qv q JOIN v ON q.query_id <> v.vec_id),
      exact AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
                  FROM escored) WHERE rank <= 5)
      SELECT e.query_id,
        CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
        CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS recall
      FROM exact e
      LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
      ORDER BY e.query_id"""))

  /** (q108) Cluster-balanced coreset: the 3 most central vectors per
    * k-means cluster (Similarity.clusterCoreset scaladoc) — q95's
    * quantized two-iteration Lloyd composed with a per-cluster rank.
    * Oracle = q95's unrolled CTE with the final window keyed by
    * cluster instead of vector.
    */
  val q108ClusterCoreset = Q(
    "q108_ann_cluster_coreset",
    (s, dir) =>
      Similarity.clusterCoreset(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2, m = 3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("cluster", "rank"),
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      c0 AS (SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
             FROM embeddings ORDER BY vec_id LIMIT 8),
      a1 AS (
        SELECT v.vec_id, v.cv, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c0 c),
      s1 AS (SELECT vec_id, cv, cid AS cluster FROM (
               SELECT vec_id, cv, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn
               FROM a1) WHERE rn = 1),
      m1 AS (SELECT cluster AS cid, i AS pos,
               CAST(SUM(CAST(floor(CAST(cv[i] AS DOUBLE) * 1000000.0) AS BIGINT))
                 AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
             FROM s1, LATERAL unnest(range(1, len(cv) + 1)) t(i)
             GROUP BY cluster, i),
      mv1 AS (SELECT cid, list(m ORDER BY pos) AS mean FROM m1 GROUP BY cid),
      c1 AS (SELECT c0.cid, coalesce(mv1.mean, c0.centroid) AS centroid
             FROM c0 LEFT JOIN mv1 USING (cid)),
      a2 AS (
        SELECT v.vec_id, v.cv, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c1 c),
      s2 AS (SELECT vec_id, cv, cid AS cluster FROM (
               SELECT vec_id, cv, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn
               FROM a2) WHERE rn = 1),
      m2 AS (SELECT cluster AS cid, i AS pos,
               CAST(SUM(CAST(floor(CAST(cv[i] AS DOUBLE) * 1000000.0) AS BIGINT))
                 AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
             FROM s2, LATERAL unnest(range(1, len(cv) + 1)) t(i)
             GROUP BY cluster, i),
      mv2 AS (SELECT cid, list(m ORDER BY pos) AS mean FROM m2 GROUP BY cid),
      c2 AS (SELECT c1.cid, coalesce(mv2.mean, c1.centroid) AS centroid
             FROM c1 LEFT JOIN mv2 USING (cid)),
      af AS (
        SELECT v.vec_id, c.cid,
          list_sum(list_transform(range(1, len(v.cv) + 1),
            i -> CAST(v.cv[i] AS DOUBLE) * c.centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> c.centroid[i] * c.centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN c2 c),
      fin AS (SELECT vec_id, cid, ccos, row_number() OVER (
                PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC) AS rn,
                MAX(ccos) OVER (PARTITION BY vec_id) AS mx
              FROM af),
      sel AS (SELECT vec_id, cid AS cluster, mx AS cos
              FROM fin WHERE rn = 1)
      SELECT cluster,
        CAST(row_number() OVER (PARTITION BY cluster
          ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank,
        vec_id, round(cos, 6) AS cos
      FROM sel
      QUALIFY rank <= 3
      ORDER BY cluster, rank"""))

  /** (q109) Product-quantization ADC top-k (Pq scaladoc): 4 subspaces
    * × 16 dims, 8-codeword L2 codebooks (one quantized-mean training
    * round), corpus encoded to 4 codes/vector, queries scored by
    * exact-long ADC sums. The oracle replays codebook training,
    * encoding, the per-query lookup table, and the quantized ADC
    * ranking entirely in SQL.
    */
  val q109PqAdc = Q(
    "q109_ann_pq_adc",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      operators.Pq.pqAdcTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1, k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH subs AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS sub),
      sv AS (SELECT vec_id, sub,
               list_transform(embedding[sub*16+1 : sub*16+16],
                 x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings CROSS JOIN subs),
      seed AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
      c0 AS (SELECT sub, vec_id AS cid, v AS cent FROM sv
             WHERE vec_id IN (SELECT vec_id FROM seed)),
      d1 AS (SELECT s.vec_id, s.sub, s.v, c.cid,
               (list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                - 2.0 * list_sum(list_transform(range(1, 17),
                    i -> s.v[i] * c.cent[i]))
                + list_sum(list_transform(range(1, 17),
                    i -> c.cent[i] * c.cent[i]))) AS dd
             FROM sv s JOIN c0 c ON c.sub = s.sub),
      a1 AS (SELECT vec_id, sub, v, cid AS code FROM (
               SELECT vec_id, sub, v, cid, row_number() OVER (
                 PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
               FROM d1) WHERE rn = 1),
      m1 AS (SELECT sub, code AS cid, i AS pos,
               CAST(SUM(CAST(floor(v[i] * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / (1000000.0 * COUNT(*)) AS mc
             FROM a1, LATERAL unnest(range(1, 17)) t(i)
             GROUP BY sub, code, i),
      mv AS (SELECT sub, cid, list(mc ORDER BY pos) AS mean FROM m1
             GROUP BY sub, cid),
      c1 AS (SELECT c0.sub, c0.cid, coalesce(mv.mean, c0.cent) AS cent
             FROM c0 LEFT JOIN mv ON mv.sub = c0.sub AND mv.cid = c0.cid),
      dxf AS (SELECT s.vec_id, s.sub, c.cid,
               (list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                - 2.0 * list_sum(list_transform(range(1, 17),
                    i -> s.v[i] * c.cent[i]))
                + list_sum(list_transform(range(1, 17),
                    i -> c.cent[i] * c.cent[i]))) AS dd
             FROM sv s JOIN c1 c ON c.sub = s.sub),
      enc AS (SELECT vec_id, sub, cid AS code FROM (
                SELECT vec_id, sub, cid, row_number() OVER (
                  PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
                FROM dxf) WHERE rn = 1),
      lut AS (SELECT s.vec_id AS query_id, s.sub, c.cid,
                CAST(floor(1000000.0 * (
                  list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                  - 2.0 * list_sum(list_transform(range(1, 17),
                      i -> s.v[i] * c.cent[i]))
                  + list_sum(list_transform(range(1, 17),
                      i -> c.cent[i] * c.cent[i]))
                )) AS BIGINT) AS lq
              FROM sv s JOIN c1 c ON c.sub = s.sub
              WHERE s.vec_id < 10),
      sc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.lq) AS BIGINT) AS adist_q
             FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.code
             WHERE l.query_id <> e.vec_id
             GROUP BY 1, 2)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY adist_q ASC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id,
        CAST(adist_q AS DOUBLE) / 1000000.0 AS adist
      FROM sc
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** (q110) IVF-PQ composed index (Pq.ivfPqTopK scaladoc): q107's
    * coarse routing (first-16-by-id centroids, cosine, nprobe 4)
    * restricts the candidate set, q109's PQ machinery (4×16 subspaces,
    * 8 codewords, one quantized training round) ranks it by exact-long
    * ADC. The oracle is the union of both gates' CTE batteries joined
    * at the candidate set — coarse assignment, probe routing, codebook
    * training, encoding, LUT, and the restricted ADC sum all replayed
    * in SQL.
    */
  val q110IvfPq = Q(
    "q110_ann_ivfpq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      operators.Pq.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1,
        nClusters = 16, nprobe = 4, k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH subs AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS sub),
      sv AS (SELECT vec_id, sub,
               list_transform(embedding[sub*16+1 : sub*16+16],
                 x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings CROSS JOIN subs),
      seed AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
      c0 AS (SELECT sub, vec_id AS cid, v AS cent FROM sv
             WHERE vec_id IN (SELECT vec_id FROM seed)),
      d1 AS (SELECT s.vec_id, s.sub, s.v, c.cid,
               (list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                - 2.0 * list_sum(list_transform(range(1, 17),
                    i -> s.v[i] * c.cent[i]))
                + list_sum(list_transform(range(1, 17),
                    i -> c.cent[i] * c.cent[i]))) AS dd
             FROM sv s JOIN c0 c ON c.sub = s.sub),
      a1 AS (SELECT vec_id, sub, v, cid AS code FROM (
               SELECT vec_id, sub, v, cid, row_number() OVER (
                 PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
               FROM d1) WHERE rn = 1),
      m1 AS (SELECT sub, code AS cid, i AS pos,
               CAST(SUM(CAST(floor(v[i] * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / (1000000.0 * COUNT(*)) AS mc
             FROM a1, LATERAL unnest(range(1, 17)) t(i)
             GROUP BY sub, code, i),
      mv AS (SELECT sub, cid, list(mc ORDER BY pos) AS mean FROM m1
             GROUP BY sub, cid),
      c1 AS (SELECT c0.sub, c0.cid, coalesce(mv.mean, c0.cent) AS cent
             FROM c0 LEFT JOIN mv ON mv.sub = c0.sub AND mv.cid = c0.cid),
      dxf AS (SELECT s.vec_id, s.sub, c.cid,
               (list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                - 2.0 * list_sum(list_transform(range(1, 17),
                    i -> s.v[i] * c.cent[i]))
                + list_sum(list_transform(range(1, 17),
                    i -> c.cent[i] * c.cent[i]))) AS dd
             FROM sv s JOIN c1 c ON c.sub = s.sub),
      enc AS (SELECT vec_id, sub, cid AS code FROM (
                SELECT vec_id, sub, cid, row_number() OVER (
                  PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
                FROM dxf) WHERE rn = 1),
      lut AS (SELECT s.vec_id AS query_id, s.sub, c.cid,
                CAST(floor(1000000.0 * (
                  list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i]))
                  - 2.0 * list_sum(list_transform(range(1, 17),
                      i -> s.v[i] * c.cent[i]))
                  + list_sum(list_transform(range(1, 17),
                      i -> c.cent[i] * c.cent[i]))
                )) AS BIGINT) AS lq
              FROM sv s JOIN c1 c ON c.sub = s.sub
              WHERE s.vec_id < 10),
      v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      cents AS (SELECT vec_id AS ccid,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
                FROM embeddings ORDER BY vec_id LIMIT 16),
      asg AS (
        SELECT vec_id, ccid,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) * centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
               i -> centroid[i] * centroid[i]))), 0) AS ccos
        FROM v CROSS JOIN cents),
      assigned AS (SELECT vec_id, ccid AS cluster FROM (
                     SELECT vec_id, ccid, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ccos DESC NULLS LAST, ccid ASC) AS rn
                     FROM asg) WHERE rn = 1),
      qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
             WHERE vec_id < 10),
      pr AS (
        SELECT query_id, ccid,
          list_sum(list_transform(range(1, len(qe) + 1),
            i -> CAST(qe[i] AS DOUBLE) * centroid[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qe) + 1),
               i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(centroid) + 1),
               i -> centroid[i] * centroid[i]))), 0) AS qcos
        FROM qv CROSS JOIN cents),
      probes AS (SELECT query_id, ccid AS cluster FROM (
                   SELECT query_id, ccid, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY qcos DESC NULLS LAST, ccid ASC) AS rn
                   FROM pr) WHERE rn <= 4),
      cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
               FROM probes p JOIN assigned a ON a.cluster = p.cluster
               WHERE p.query_id <> a.vec_id),
      sc AS (SELECT c.query_id, c.neighbor_id, CAST(SUM(l.lq) AS BIGINT) AS adist_q
             FROM cand c
             JOIN enc e ON e.vec_id = c.neighbor_id
             JOIN lut l ON l.query_id = c.query_id AND l.sub = e.sub
               AND l.cid = e.code
             GROUP BY 1, 2)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY adist_q ASC, neighbor_id ASC) AS INTEGER) AS rank,
        neighbor_id,
        CAST(adist_q AS DOUBLE) / 1000000.0 AS adist
      FROM sc
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** (q111) Matryoshka truncation recall audit: exact cosine top-5 in
    * the FIRST-16-DIM prefix space vs the full 64-dim exact top-5 —
    * the measurement that decides whether MRL-style truncated
    * embeddings (Kusupati et al. 2022) are safe for a retrieval
    * corpus. Pure composition of gated machinery (cosineTopK twice +
    * recallAtK); the oracle scores both spaces with q107's exact CTE
    * pattern, the truncated one summing dims 1..16 only.
    */
  val q111TruncRecall = Q(
    "q111_ann_trunc_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = Similarity.cosineTopK(trunc.filter(col("vec_id") < 20),
        trunc, "vec_id", "embedding", k = 5)
      val exact = Similarity.cosineTopK(emb.filter(col("vec_id") < 20),
        emb, "vec_id", "embedding", k = 5)
      operators.Retrieval.recallAtK(approx, exact, k = 5)
        .orderBy("query_id")
    },
    Some("""
      WITH v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
             WHERE vec_id < 20),
      tscored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, 17),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, 17),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, 17),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM qv q JOIN v ON q.query_id <> v.vec_id),
      approx AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM tscored) WHERE rank <= 5),
      escored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.qe) + 1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM qv q JOIN v ON q.query_id <> v.vec_id),
      exact AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
                  FROM escored) WHERE rank <= 5)
      SELECT e.query_id,
        CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
        CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS recall
      FROM exact e
      LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
      ORDER BY e.query_id"""))

  /** (q112) Curriculum quality binning (Curation.curriculumBins
    * scaladoc): ntile(4) by descending q25 quality score computed
    * WITHOUT a global window — coarse-bucket counts + per-bucket
    * row_number + broadcast offsets give the exact global rank at
    * scale. The oracle uses DuckDB's native ntile over the same score
    * and tie order, so the two-pass rank is hash-checked against the
    * single-window semantics it replaces.
    */
  val q112CurriculumBins = Q(
    "q112_s_curriculum_bins",
    (s, dir) =>
      Curation.curriculumBins(t(s, dir, "documents"), "doc_id", "text",
        Stopwords, nBins = 4)
        .orderBy("bin"),
    Some("""
      WITH d AS (SELECT doc_id, text,
        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
      s AS (SELECT doc_id,
        coalesce(
          least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
          + (CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END)
            * 0.3
          + least(CAST(len(list_filter(toks,
              t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
              / len(toks) * 5.0, 1.0) * 0.3,
          -1.0) AS score,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens
      FROM d),
      r AS (SELECT doc_id, score, n_tokens,
              ntile(4) OVER (ORDER BY score DESC, doc_id ASC) AS bin
            FROM s)
      SELECT CAST(bin AS INTEGER) AS bin,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        min(score) AS min_quality, max(score) AS max_quality
      FROM r GROUP BY bin ORDER BY bin"""))

  /** (q113) Epoch-based up-sampling plan (Packing.repeatToBudget
    * scaladoc): per-source whole-epoch repeats ⌊tgt/mass⌋ plus the
    * q101 hash-threshold kernel selecting the partial-epoch docs —
    * with-replacement mixing, exact in integer/decimal arithmetic.
    * Weights 0.5/0.3/0.2 on three sources; unweighted sources repeat 0.
    */
  val q113EpochPlan = Q(
    "q113_s_epoch_plan",
    (s, dir) =>
      graft.operators.Packing.repeatToBudget(t(s, dir, "documents"),
        "doc_id", "text", "source",
        weights = Map("src0" -> 0.5, "src3" -> 0.3, "src7" -> 0.2),
        budgetTokens = 10000L)
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
            AS n_tokens
        FROM documents),
      m AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
            FROM tk GROUP BY source),
      w(source, tgt) AS (VALUES ('src0', 5000), ('src3', 3000),
                                ('src7', 2000)),
      b AS (SELECT doc_id,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':budget'),
                1, 15))::BIGINT % 1000000 AS bucket
            FROM documents),
      e AS (SELECT tk.doc_id, tk.source, tk.n_tokens, m.src_tokens,
              CAST(coalesce(w.tgt, 0) AS BIGINT) AS tgt_tokens,
              CASE WHEN m.src_tokens > 0
                   THEN coalesce(w.tgt, 0) // m.src_tokens ELSE 0 END
                AS full_epochs,
              CASE WHEN m.src_tokens > 0
                   THEN coalesce(w.tgt, 0) % m.src_tokens ELSE 0 END
                AS rem,
              b.bucket
            FROM tk JOIN m USING (source) LEFT JOIN w USING (source)
              JOIN b USING (doc_id))
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        src_tokens, tgt_tokens,
        CAST(full_epochs AS BIGINT) AS full_epochs,
        CAST(full_epochs +
          (CASE WHEN CAST(bucket AS HUGEINT) * src_tokens <
                     CAST(rem AS HUGEINT) * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
      FROM e
      ORDER BY doc_id"""))

  /** (q114) Count-Min frequency sketch (Sketches scaladoc): 4×64
    * counters over every token occurrence, the 10 most frequent terms
    * point-estimated as min-over-rows — CMS over-counts only, never
    * under. Counters, hashes (md5-60 mod width), and estimates all
    * replay exactly in SQL.
    */
  val q114CmsFreq = Q(
    "q114_sk_cms_freq",
    (s, dir) => {
      val occ = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val counters = operators.Sketches.cmsCounters(occ, "term",
        width = 64, depth = 4)
      val top = occ.groupBy(col("term"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("term").asc).limit(10)
      operators.Sketches.cmsEstimate(counters, top, "term",
        width = 64, depth = 4)
        .orderBy("term")
    },
    Some("""
      WITH occ AS (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                     '\s+')) AS term
                   FROM documents),
      vf AS (SELECT term FROM occ WHERE len(term) > 0),
      ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_count
             FROM vf GROUP BY term),
      top AS (SELECT term, exact_count FROM ex
              ORDER BY exact_count DESC, term ASC LIMIT 10),
      r AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS row),
      counters AS (SELECT row,
                     ('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || term),
                       1, 15))::BIGINT % 64 AS slot,
                     CAST(count(*) AS BIGINT) AS c
                   FROM vf CROSS JOIN r GROUP BY 1, 2),
      probe AS (SELECT t.term, t.exact_count, r.row,
                  ('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || t.term),
                    1, 15))::BIGINT % 64 AS slot
                FROM top t CROSS JOIN r)
      SELECT p.term, p.exact_count,
        CAST(MIN(coalesce(c.c, 0)) AS BIGINT) AS cms_count
      FROM probe p
      LEFT JOIN counters c ON c.row = p.row AND c.slot = p.slot
      GROUP BY 1, 2
      ORDER BY p.term"""))

  /** (q115) Deterministic HyperLogLog distinct-count (Sketches
    * scaladoc): per-source distinct-token estimate from 64 registers,
    * ρ via binary-string length (no float log), harmonic sum as an
    * exact long — the raw Flajolet estimator, next to the exact
    * distinct count it approximates. Every register and the estimate
    * itself hash-check against the SQL replay.
    */
  val q115HllDistinct = Q(
    "q115_sk_hll_distinct",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val est = operators.Sketches.hllEstimate(
        operators.Sketches.hllRegisters(terms, "term", "source", m = 64),
        "source", m = 64)
      terms.groupBy(col("source"))
        .agg(count_distinct(col("term")).as("n_exact"))
        .join(est, Seq("source"))
        .orderBy("source")
    },
    Some("""
      WITH occ AS (SELECT source,
                     unnest(regexp_split_to_array(lower(trim(text)),
                       '\s+')) AS term
                   FROM documents),
      vf AS (SELECT source, term FROM occ WHERE len(term) > 0),
      h AS (SELECT source,
              ('0x' || substr(md5(term), 1, 15))::BIGINT AS hv
            FROM vf),
      rr AS (SELECT source, hv % 64 AS idx,
               CASE WHEN hv // 64 = 0 THEN 55
                    ELSE 55 - length(bin(hv // 64)) END AS rho
             FROM h),
      regs AS (SELECT source, idx, MAX(rho) AS M FROM rr GROUP BY 1, 2),
      agg AS (SELECT source, COUNT(*) AS occ_regs,
                CAST(SUM(CAST(1 AS BIGINT) << (55 - M)) AS BIGINT) AS s
              FROM regs GROUP BY source),
      ex AS (SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_exact
             FROM vf GROUP BY source)
      SELECT ex.source, ex.n_exact,
        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
          * CAST(36028797018963968 AS DOUBLE)
          / CAST(a.s + (64 - a.occ_regs) * (CAST(1 AS BIGINT) << 55)
              AS DOUBLE) AS hll_est
      FROM ex JOIN agg a USING (source)
      ORDER BY ex.source"""))

  /** (q116) JL sign-projection recall audit (Similarity.signProject
    * scaladoc): embeddings projected 64→16 dims through the
    * deterministic ±1 matrix, exact cosine top-5 in projected space vs
    * the full-dim top-5 — the complement of q111's prefix truncation
    * (random projection mixes ALL input dims instead of keeping a
    * trained prefix). Projection components are exact integer sums, so
    * the oracle replays matrix, projection, and both rankings.
    */
  val q116JlRecall = Q(
    "q116_ann_jl_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val proj = Similarity.signProject(emb, "vec_id", "embedding",
        dim = 64, outDim = 16)
      val approx = Similarity.cosineTopK(proj.filter(col("vec_id") < 20),
        proj, "vec_id", "embedding", k = 5)
      val exact = Similarity.cosineTopK(emb.filter(col("vec_id") < 20),
        emb, "vec_id", "embedding", k = 5)
      operators.Retrieval.recallAtK(approx, exact, k = 5)
        .orderBy("query_id")
    },
    Some("""
      WITH pj AS (SELECT CAST(p AS INTEGER) AS p, CAST(j AS INTEGER) AS j,
               (('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
                  CAST(j AS VARCHAR) || ':jl'), 1, 15))::BIGINT % 2) * 2 - 1
                 AS r
             FROM range(0, 16) t1(p) CROSS JOIN range(0, 64) t2(j)),
      pv AS (SELECT e.vec_id, pj.p,
               CAST(SUM(pj.r * CAST(floor(CAST(e.embedding[pj.j + 1] AS DOUBLE)
                 * 1000000.0) AS BIGINT)) AS BIGINT) AS yq
             FROM embeddings e CROSS JOIN pj
             GROUP BY 1, 2),
      pvec AS (SELECT vec_id,
                 list(CAST(yq AS DOUBLE) / 1000000.0 ORDER BY p) AS cv
               FROM pv GROUP BY vec_id),
      pq AS (SELECT vec_id AS query_id, cv AS qe FROM pvec
             WHERE vec_id < 20),
      tscored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, 17), i -> q.qe[i] * v.cv[i]))
          / NULLIF(sqrt(list_sum(list_transform(range(1, 17),
               i -> q.qe[i] * q.qe[i])))
             * sqrt(list_sum(list_transform(range(1, 17),
               i -> v.cv[i] * v.cv[i]))), 0) AS cos
        FROM pq q JOIN pvec v ON q.query_id <> v.vec_id),
      approx AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos DESC NULLS LAST, neighbor_id ASC) AS rank
                   FROM tscored) WHERE rank <= 5),
      v AS (SELECT vec_id, embedding AS cv FROM embeddings),
      qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
             WHERE vec_id < 20),
      escored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.qe) + 1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(v.cv) + 1),
               i -> CAST(v.cv[i] AS DOUBLE) * CAST(v.cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM qv q JOIN v ON q.query_id <> v.vec_id),
      exact AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
                  FROM escored) WHERE rank <= 5)
      SELECT e.query_id,
        CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
        CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS recall
      FROM exact e
      LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
      ORDER BY e.query_id"""))

  /** (q117) Exact per-source token-count quantiles (Quantiles
    * scaladoc): p50/p90/p99 of document token counts by source via the
    * two-pass bucket rank — no per-group global sort, no
    * percentile_approx sketch. Target ranks are exact rational
    * ⌈num·N/den⌉; the oracle selects the same ranks through a plain
    * window (safe in DuckDB at gate scale).
    */
  val q117ExactQuantiles = Q(
    "q117_s_exact_quantiles",
    (s, dir) =>
      operators.Quantiles.exactQuantiles(
        t(s, dir, "documents").select(col("source"),
          TextFns.tokenCount(col("text")).as("n_tokens")),
        "source", "n_tokens", bucketWidth = 8L,
        qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy("source", "q"),
    Some("""
      WITH tk AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
            AS n_tokens
        FROM documents),
      r AS (SELECT source, n_tokens,
              row_number() OVER (PARTITION BY source
                ORDER BY n_tokens ASC) AS rn,
              count(*) OVER (PARTITION BY source) AS n
            FROM tk),
      t(label, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                    ('p99', 99, 100))
      SELECT r.source, t.label AS q, CAST(r.n_tokens AS BIGINT) AS value
      FROM r JOIN t ON r.rn = (t.num * r.n + t.den - 1) // t.den
      ORDER BY r.source, q"""))

  /** (q118) Span-level benchmark decontamination
    * (Dedup.contaminatedSpans scaladoc): docs 0–24 stand in for the
    * eval suite, every ≥4-token span of the rest of the corpus that
    * reproduces a benchmark 4-gram is emitted as a cut mask — q84's
    * islands machinery keyed by an external broadcast gram set instead
    * of corpus self-counts.
    */
  val q118ContamSpans = Q(
    "q118_dd_contam_spans",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminatedSpans(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text",
        gramSize = 4, gramKeyOf = Dedup.md5Hash60)
        .orderBy("doc_id", "span_start")
    },
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      wb AS (SELECT DISTINCT ('0x' || substr(md5(
               array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 15))::BIGINT
               AS gk
             FROM d, LATERAL unnest(range(1, len(toks) - 2)) t(i)
             WHERE doc_id < 25 AND len(toks) >= 4),
      w AS (SELECT doc_id, CAST(i AS INT) AS start,
              ('0x' || substr(md5(
                array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 15))::BIGINT
                AS gk
            FROM d, LATERAL unnest(range(1, len(toks) - 2)) t(i)
            WHERE doc_id >= 25 AND len(toks) >= 4),
      ds AS (SELECT doc_id, start FROM w JOIN wb USING (gk)),
      m AS (SELECT doc_id, start,
              CASE WHEN start > coalesce(max(start + 3) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -2147483648) + 1
                THEN 1 ELSE 0 END AS new_span
            FROM ds),
      sx AS (SELECT doc_id, start,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS span
             FROM m)
      SELECT doc_id, MIN(start) AS span_start,
        CAST(MAX(start) + 3 AS INT) AS span_end,
        CAST(MAX(start) + 3 - MIN(start) + 1 AS INT) AS n_span_tokens
      FROM sx GROUP BY doc_id, span
      ORDER BY doc_id, span_start"""))

  /** (q119) Deterministic epoch shuffle via a generalized Feistel
    * network (Packing.feistelShuffleKey scaladoc): a seed-reproducible
    * bijective shuffle key over the dense doc_id index — the
    * retry-stable replacement for `orderBy(rand(seed))`. The oracle
    * replays the identical BIGINT round arithmetic (seed 42, 4 rounds,
    * a = ⌈√n⌉, b = ⌈n/a⌉ computed from count(*) in SQL).
    */
  val q119FeistelShuffle = Q(
    "q119_s_feistel_shuffle",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // one bounded aggregate to size the domain
      graft.operators.Packing.feistelShuffle(docs.select("doc_id"),
        "doc_id", n, seed = 42)
        .orderBy("shuffle_key")
    },
    Some("""
      WITH p AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
                   AS a, CAST(count(*) AS BIGINT) AS n FROM documents),
      q AS (SELECT a, (n + a - 1) // a AS b FROM p),
      x0 AS (SELECT doc_id, doc_id // q.b AS l, doc_id % q.b AS r, q.a, q.b
             FROM documents, q),
      x1 AS (SELECT doc_id, (l + (((r + 42000126 + 2654435761) % 2147483647)
               * 2247054683) % a) % a AS l, r, a, b FROM x0),
      x2 AS (SELECT doc_id, l, (r + (((l + 42000126 + 5308871522) % 2147483647)
               * 2247054683) % b) % b AS r, a, b FROM x1),
      x3 AS (SELECT doc_id, (l + (((r + 42000126 + 7963307283) % 2147483647)
               * 2247054683) % a) % a AS l, r, a, b FROM x2),
      x4 AS (SELECT doc_id, l, (r + (((l + 42000126 + 10617743044) % 2147483647)
               * 2247054683) % b) % b AS r, a, b FROM x3)
      SELECT doc_id, l * b + r AS shuffle_key FROM x4 ORDER BY shuffle_key"""))

  /** (q120) Winnowing fingerprints (Dedup.winnowFingerprints scaladoc):
    * MOSS's local min-in-window fingerprint selection over 3-gram
    * hashes, window 4, rightmost-min tie rule. The oracle materializes
    * every (window end, gram) pair with a bounded range join, takes the
    * per-window min key, and resolves ties to the max position.
    */
  val q120WinnowFps = Q(
    "q120_dd_winnow_fps",
    (s, dir) =>
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        gramSize = 3, window = 4, gramKeyOf = Dedup.md5Hash60)
        .orderBy("doc_id", "fp_pos", "fp"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      g AS (SELECT doc_id, CAST(i AS INT) AS pos,
              ('0x' || substr(md5(
                array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))::BIGINT
                AS gk
            FROM d, LATERAL unnest(range(1, len(toks) - 1)) t(i)
            WHERE len(toks) >= 3),
      n AS (SELECT doc_id, max(pos) AS ng FROM g GROUP BY doc_id),
      e AS (SELECT doc_id, CAST(j AS INT) AS e
            FROM n, LATERAL unnest(range(4, ng + 1)) t(j)),
      j AS (SELECT e.doc_id, e.e, g.pos, g.gk
            FROM e JOIN g ON g.doc_id = e.doc_id AND g.pos BETWEEN e.e - 3 AND e.e),
      mn AS (SELECT doc_id, e, min(gk) AS mg FROM j GROUP BY doc_id, e),
      sel AS (SELECT j.doc_id, max(j.pos) AS fp_pos, mn.mg AS fp
              FROM j JOIN mn ON j.doc_id = mn.doc_id AND j.e = mn.e
                AND j.gk = mn.mg
              GROUP BY j.doc_id, j.e, mn.mg)
      SELECT DISTINCT doc_id, fp_pos, fp FROM sel
      ORDER BY doc_id, fp_pos, fp"""))

  /** (q121) Stride-scheduled proportional interleave
    * (Packing.strideInterleave scaladoc): the j-th doc of source s is
    * scheduled at virtual time j·(lcm/w_s), so every prefix of the
    * epoch stream holds the 3:2:1 target mixture — exact integer
    * arithmetic, replayed verbatim by the oracle's window rank.
    */
  val q121StrideInterleave = Q(
    "q121_s_stride_interleave",
    (s, dir) =>
      graft.operators.Packing.strideInterleave(t(s, dir, "documents"),
        "doc_id", "source", Map("src0" -> 3, "src3" -> 2, "src7" -> 1))
        .select("vt", "source", "pass_idx", "doc_id"),
    Some("""
      WITH f AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY doc_id)
                AS pass_idx
            FROM documents WHERE source IN ('src0', 'src3', 'src7'))
      SELECT pass_idx * (CASE source WHEN 'src0' THEN 2
                                     WHEN 'src3' THEN 3 ELSE 6 END) AS vt,
        source, CAST(pass_idx AS BIGINT) AS pass_idx, doc_id
      FROM f ORDER BY vt, source, pass_idx"""))

  /** (q122) Rendezvous (HRW) sharding (Packing.rendezvousAssign
    * scaladoc): doc → argmax over 8 shards of hash(doc:shard), ties to
    * the last shard name — the consistent-routing primitive whose
    * assignments provably survive shard-set changes. Oracle ranks the
    * same md5-60bit scores per doc.
    */
  val q122RendezvousShard = Q(
    "q122_s_rendezvous_shard",
    (s, dir) =>
      graft.operators.Packing.rendezvousAssign(
        t(s, dir, "documents").select("doc_id"), "doc_id",
        (0 until 8).map(i => s"n$i"), hashOf = Dedup.md5Hash60)
        .orderBy("doc_id"),
    Some("""
      WITH sh(s) AS (VALUES ('n0'), ('n1'), ('n2'), ('n3'), ('n4'),
                            ('n5'), ('n6'), ('n7')),
      sc AS (SELECT doc_id, s,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || s),
                 1, 15))::BIGINT AS h
             FROM documents, sh),
      r AS (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
              ORDER BY h DESC, s DESC) AS rn
            FROM sc)
      SELECT doc_id, s AS shard FROM r WHERE rn = 1 ORDER BY doc_id"""))

  /** (q123) Containment quote detection (Dedup.containmentJoin
    * scaladoc): 20-token chunks of docs 0–9 as "quotes", searched
    * against the whole corpus by directional gram containment
    * |q∩d|/|q| over a df-capped trigram vocabulary — each chunk must
    * rediscover its parent at containment 1.0; cross-doc hits are the
    * near-quote tail. Oracle mirrors the chunking, the df cut, and the
    * exact-int division.
    */
  val q123ContainmentQuotes = Q(
    "q123_dd_containment_quotes",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val quotes = Curation.chunkTokens(docs.filter(col("doc_id") < 10),
        "doc_id", "text", chunkSize = 20, stride = 20)
        .select((col("doc_id") * 1000 + col("start_tok")).as("quote_id"),
          col("chunk_text").as("text"))
      Dedup.containmentJoin(quotes, docs, "quote_id", "doc_id", "text",
        gramSize = 3, dfCap = 1000, minContainment = 0.5,
        gramKeyOf = Dedup.md5Hash60)
        .orderBy("quote_id", "doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      qd AS (SELECT doc_id * 1000 + i AS quote_id,
               list_slice(toks, i, i + 19) AS qtoks
             FROM d, LATERAL unnest(range(1, greatest(len(toks), 1) + 1, 20)) t(i)
             WHERE doc_id < 10),
      qg AS (SELECT DISTINCT quote_id,
               ('0x' || substr(md5(
                 array_to_string(list_slice(qtoks, i, i + 2), ' ')), 1, 15))::BIGINT
                 AS gk
             FROM qd, LATERAL unnest(range(1, len(qtoks) - 1)) t(i)
             WHERE len(qtoks) >= 3),
      cg AS (SELECT DISTINCT doc_id,
               ('0x' || substr(md5(
                 array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))::BIGINT
                 AS gk
             FROM d, LATERAL unnest(range(1, len(toks) - 1)) t(i)
             WHERE len(toks) >= 3),
      hdf AS (SELECT gk FROM cg GROUP BY gk HAVING count(*) > 1000),
      qk AS (SELECT quote_id, gk FROM qg ANTI JOIN hdf USING (gk)),
      ck AS (SELECT doc_id, gk FROM cg ANTI JOIN hdf USING (gk)),
      qs AS (SELECT quote_id, count(*) AS q_size FROM qk GROUP BY quote_id),
      ij AS (SELECT qk.quote_id, ck.doc_id, count(*) AS n_inter
             FROM qk JOIN ck USING (gk) GROUP BY 1, 2)
      SELECT ij.quote_id, ij.doc_id, n_inter, q_size,
        CAST(n_inter AS DOUBLE) / q_size AS containment
      FROM ij JOIN qs USING (quote_id)
      WHERE CAST(n_inter AS DOUBLE) / q_size >= 0.5
      ORDER BY quote_id, doc_id"""))

  /** (q124) Per-source vocabulary profile (Curation.vocabStats
    * scaladoc): token mass, type count, hapax legomena and hapax share
    * — the Heaps/Zipf source-health diagnostics, one
    * vocabulary-bounded shuffle.
    */
  val q124VocabStats = Q(
    "q124_tx_vocab_stats",
    (s, dir) =>
      Curation.vocabStats(t(s, dir, "documents"), "text", "source")
        .orderBy("source"),
    Some("""
      WITH tok AS (SELECT source, unnest(
               regexp_split_to_array(lower(trim(text)), '\s+')) AS t
             FROM documents),
      tc AS (SELECT source, t, count(*) AS n FROM tok
             WHERE t <> '' GROUP BY source, t)
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        count(*) AS n_types,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
          AS hapax_ratio
      FROM tc GROUP BY source ORDER BY source"""))

  /** (q125) Kneser-Ney bigram log-probability
    * (Curation.fitKnBigramLm/knBigramScore scaladoc): d = 3/4 makes
    * every KN probability a ratio of exact integers, so the oracle
    * replays the identical (max(4c−3,0)·B + 3·n1p·n1m)/(4·B·c1)
    * division and the ⌊10⁶·ln⌋ quantized long sum. Self-scoring the
    * corpus exercises no backoff branch (every transition is seen).
    */
  val q125KnBigramLp = Q(
    "q125_tx_kn_bigram_lp",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.knBigramScore(docs, Curation.fitKnBigramLm(docs, "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH tk AS (
        SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents WHERE text IS NOT NULL),
      tr AS (
        SELECT doc_id, t[i] AS t1, t[i+1] AS t2
        FROM tk, LATERAL unnest(range(1, len(t))) u(i)
        WHERE len(t) >= 2),
      c12 AS (SELECT t1, t2, COUNT(*)::BIGINT AS c12 FROM tr GROUP BY 1, 2),
      cx AS (SELECT t1, CAST(SUM(c12) AS BIGINT) AS c1,
               COUNT(*)::BIGINT AS n1p FROM c12 GROUP BY 1),
      ct AS (SELECT t2, COUNT(*)::BIGINT AS n1m FROM c12 GROUP BY 1),
      bb AS (SELECT COUNT(*)::BIGINT AS b FROM c12),
      sc AS (
        SELECT tr.doc_id, COUNT(*)::BIGINT AS n_trans,
          CAST(SUM(CAST(floor(1000000.0 * ln(
            CAST(greatest(4 * c12.c12 - 3, 0) * bb.b
                 + 3 * cx.n1p * ct.n1m AS DOUBLE) /
            CAST(4 * bb.b * cx.c1 AS DOUBLE))) AS BIGINT)) AS BIGINT) AS lpq
        FROM tr JOIN c12 USING (t1, t2) JOIN cx USING (t1)
          JOIN ct USING (t2) CROSS JOIN bb
        GROUP BY tr.doc_id)
      SELECT d.doc_id,
        coalesce(sc.n_trans, 0) AS n_trans,
        coalesce(sc.lpq, 0) AS kn_lp_q,
        CASE WHEN sc.n_trans > 0 THEN
          (CAST(sc.lpq AS DOUBLE) / 1000000.0) / CAST(sc.n_trans AS DOUBLE)
          END AS kn_lp_mean
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY d.doc_id"""))

  /** (q126) MinHash estimator-accuracy audit
    * (Dedup.minHashAccuracyAudit scaladoc): signature-agreement
    * estimate vs exact shingle Jaccard for all pairs of a 50-doc
    * sample block, H = 16 — the measured error behind any production
    * LSH threshold choice. Oracle replays the portable affine minhash
    * family per component and the exact set Jaccard.
    */
  val q126MinHashAudit = Q(
    "q126_dd_minhash_audit",
    (s, dir) =>
      Dedup.minHashAccuracyAudit(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", shingleN = 3, numHashes = 16,
        baseHash = Dedup.md5Base)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH sh0 AS (
        SELECT doc_id,
          list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 0) + 1),
            i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')))
            AS sh
        FROM documents WHERE doc_id < 50),
      shn AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS tok FROM shn),
      h AS (SELECT doc_id,
              ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS hh
            FROM ex),
      params AS (SELECT unnest(range(0, 16)) AS s),
      mh AS (
        SELECT doc_id, s,
          MIN(((1000003 * s + 12345) * hh + (999983 * s + 7)) % 2147483647)
            AS m
        FROM h CROSS JOIN params GROUP BY doc_id, s),
      ag AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree
             FROM mh a JOIN mh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      ja AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                 AS jaccard_r
             FROM shn a JOIN shn b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, n_agree,
        round(CAST(n_agree AS DOUBLE) / 16, 6) AS est_r, jaccard_r
      FROM ag JOIN ja USING (id_a, id_b)
      ORDER BY id_a, id_b"""))

  /** (q127) Corpus snapshot diff (Curation.corpusDiff scaladoc): old =
    * the documents table; new = drop every 10th doc, append a token to
    * every 7th, case-fold every 5th (whitespace/case churn must read
    * `unchanged`), and add fresh ids for every 13th — the four statuses
    * the incremental re-processing contract needs, each exercised.
    */
  val q127CorpusDiff = Q(
    "q127_s_corpus_diff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val newV = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" extra")))
            .when(col("doc_id") % 5 === 0, upper(col("text")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      Curation.corpusDiff(docs, newV, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH o AS (SELECT doc_id,
               ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                 '\s+', ' ', 'g')), 1, 15))::BIGINT AS h
             FROM documents),
      nv AS (SELECT CASE WHEN add THEN doc_id + 100000 ELSE doc_id END
               AS doc_id,
               CASE WHEN NOT add AND doc_id % 7 = 0 THEN text || ' extra'
                    WHEN NOT add AND doc_id % 5 = 0 THEN upper(text)
                    ELSE text END AS text
             FROM (SELECT doc_id, text, false AS add FROM documents
                   WHERE doc_id % 10 <> 0
                   UNION ALL
                   SELECT doc_id, text, true AS add FROM documents
                   WHERE doc_id % 13 = 0)),
      n AS (SELECT doc_id,
              ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                '\s+', ' ', 'g')), 1, 15))::BIGINT AS h
            FROM nv)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id"""))

  /** (q128) Training-export manifest — the capstone composition a run
    * actually consumes: per doc, the leakage-safe content-hash split
    * (q76's operator), rendezvous shard ownership (q122), the
    * deterministic Feistel epoch key (q119) and the token count — one
    * row per doc, every column reproducible from the corpus alone, so
    * the manifest can be regenerated byte-identically after any
    * failure. Oracle composes the four oracle formulas.
    */
  val q128ExportManifest = Q(
    "q128_s_export_manifest",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val staged = graft.operators.Packing.feistelShuffle(
        graft.operators.Packing.rendezvousAssign(
          Curation.stratifiedSplit(docs, "text"),
          "doc_id", (0 until 8).map(i => s"n$i"), hashOf = Dedup.md5Hash60),
        "doc_id", n, seed = 42)
      staged.select(col("doc_id"), col("split"), col("shard"),
        col("shuffle_key"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
                   AS a, CAST(count(*) AS BIGINT) AS n FROM documents),
      q AS (SELECT a, (n + a - 1) // a AS b FROM p),
      x0 AS (SELECT doc_id, doc_id // q.b AS l, doc_id % q.b AS r, q.a, q.b
             FROM documents, q),
      x1 AS (SELECT doc_id, (l + (((r + 42000126 + 2654435761) % 2147483647)
               * 2247054683) % a) % a AS l, r, a, b FROM x0),
      x2 AS (SELECT doc_id, l, (r + (((l + 42000126 + 5308871522) % 2147483647)
               * 2247054683) % b) % b AS r, a, b FROM x1),
      x3 AS (SELECT doc_id, (l + (((r + 42000126 + 7963307283) % 2147483647)
               * 2247054683) % a) % a AS l, r, a, b FROM x2),
      x4 AS (SELECT doc_id, l, (r + (((l + 42000126 + 10617743044) % 2147483647)
               * 2247054683) % b) % b AS r, a, b FROM x3),
      fe AS (SELECT doc_id, l * b + r AS shuffle_key FROM x4),
      sh(s) AS (VALUES ('n0'), ('n1'), ('n2'), ('n3'), ('n4'), ('n5'),
                       ('n6'), ('n7')),
      sc AS (SELECT doc_id, s,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || s),
                 1, 15))::BIGINT AS h
             FROM documents, sh),
      rr AS (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
               ORDER BY h DESC, s DESC) AS rn
             FROM sc),
      shard AS (SELECT doc_id, s AS shard FROM rr WHERE rn = 1),
      sp AS (SELECT doc_id,
               CASE WHEN text IS NULL THEN 'train'
                    WHEN hb < 80 THEN 'train'
                    WHEN hb < 90 THEN 'val' ELSE 'test' END AS split
             FROM (SELECT doc_id, text,
                     ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g')), 1, 15))::BIGINT % 100 AS hb
                   FROM documents)),
      tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
                AS n_tokens
              FROM documents)
      SELECT d.doc_id, sp.split, shard.shard, fe.shuffle_key, tok.n_tokens
      FROM documents d JOIN sp USING (doc_id) JOIN shard USING (doc_id)
        JOIN fe USING (doc_id) JOIN tok USING (doc_id)
      ORDER BY doc_id"""))

  /** (q129) Length-bucketed batch plan + padding economics
    * (Packing.lengthBucketedBatches scaladoc): docs ranked (tokens
    * desc, id) into batches of 16, each padded to its own max —
    * per-batch waste in exact integers; rank via the per-length
    * two-pass trick, no global sort. Oracle is the literal window
    * rank.
    */
  val q129LengthBatches = Q(
    "q129_s_length_batches",
    (s, dir) =>
      graft.operators.Packing.lengthBucketedBatches(
        t(s, dir, "documents"), "doc_id", "text", batchSize = 16)
        .orderBy("batch_id"),
    Some("""
      WITH tk AS (SELECT doc_id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
               END AS t
             FROM documents),
      r AS (SELECT doc_id, t, row_number() OVER (ORDER BY t DESC, doc_id)
              AS rn
            FROM tk),
      b AS (SELECT (rn - 1) // 16 AS batch_id, t FROM r)
      SELECT batch_id, count(*) AS n_docs, MAX(t) AS max_tokens,
        CAST(SUM(t) AS BIGINT) AS sum_tokens,
        MAX(t) * count(*) AS padded_tokens,
        MAX(t) * count(*) - CAST(SUM(t) AS BIGINT) AS waste_tokens
      FROM b GROUP BY batch_id ORDER BY batch_id"""))

  /** (q130) Farthest-point k-center seeds (Similarity.kCenterSeeds
    * scaladoc): Gonzalez's 2-approximation, 8 seeds over the embedding
    * table — the coverage-maximizing diversity sampler. The oracle is
    * a BPE-style recursive CTE whose per-step LATERAL argmax replays
    * the same min-squared-L2 double arithmetic.
    */
  val q130KCenterSeeds = Q(
    "q130_ann_kcenter_seeds",
    (s, dir) =>
      Similarity.kCenterSeeds(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8)
        .orderBy("rank"),
    Some("""
      WITH RECURSIVE kc(iter, ids) AS (
        SELECT 1, [CAST((SELECT MIN(vec_id) FROM embeddings) AS BIGINT)]
        UNION ALL
        SELECT kc.iter + 1, list_append(kc.ids, best.vid)
        FROM kc, LATERAL (
          SELECT vec_id AS vid FROM (
            SELECT e.vec_id, MIN(list_sum(list_transform(
                range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(c.embedding[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(c.embedding[i] AS DOUBLE))))) AS md
            FROM embeddings e JOIN embeddings c
              ON list_contains(kc.ids, c.vec_id)
            WHERE NOT list_contains(kc.ids, e.vec_id)
            GROUP BY e.vec_id, e.embedding)
          ORDER BY md DESC, vec_id ASC
          LIMIT 1) best
        WHERE kc.iter < 8)
      SELECT CAST(t.i AS INT) AS rank, ids[t.i] AS seed_id
      FROM kc, LATERAL unnest(range(1, len(ids) + 1)) t(i)
      WHERE iter = 8
      ORDER BY rank"""))

  /** (q131) Deterministic weighted sample without replacement
    * (Packing.weightedSample scaladoc): A-ES keys ln(u)/w with
    * hash-derived u, weight = token count, k = 50 — inclusion
    * proportional to length, reproducible on any engine. Oracle
    * replays the identical key arithmetic and LIMIT.
    */
  val q131WeightedSample = Q(
    "q131_s_weighted_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Packing.weightedSample(docs, "doc_id",
        TextFns.tokenCount(col("text")), k = 50)
        .select(col("doc_id"), col("__w").as("w"),
          round(col("es_key"), 6).as("es_key_r"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
               END AS w
             FROM documents),
      k AS (SELECT doc_id, w,
              ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es'),
                1, 15))::BIGINT + 1)
                / CAST(1152921504606846976 AS DOUBLE)) / w AS es_key
            FROM w WHERE w > 0),
      s AS (SELECT doc_id, w, es_key FROM k
            ORDER BY es_key DESC, doc_id LIMIT 50)
      SELECT doc_id, w, round(es_key, 6) AS es_key_r
      FROM s ORDER BY doc_id"""))

  /** (q132) k-anonymity suppression (Curation.kAnonSuppress scaladoc):
    * quasi-identifiers (event_type, user_id, week), k = 5 — groups
    * small enough to re-identify a member are dropped wholesale. The
    * gate emits the surviving group table; the oracle is the HAVING
    * form of the same cut.
    */
  val q132KAnon = Q(
    "q132_s_kanon_suppress",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("week", date_trunc("week", col("ts")))
      operators.Curation.kAnonSuppress(
        ev, Seq("event_type", "user_id", "week"), k = 5)
        .select(col("event_type"), col("user_id"), col("week"),
          col("grp_n"))
        .distinct()
        .orderBy("event_type", "user_id", "week")
    },
    Some("""
      SELECT event_type, user_id, date_trunc('week', ts) AS week,
        count(*) AS grp_n
      FROM events
      GROUP BY 1, 2, 3
      HAVING count(*) >= 5
      ORDER BY 1, 2, 3"""))

  /** (q133) Embedding-space benchmark decontamination
    * (Similarity.embedDecontaminate scaladoc): vec_id < 10 stands in
    * for the eval suite; every other vector's max cosine to the
    * benchmark decides the contaminated flag at tau = 0.30. The q28
    * double contract makes the max and the cut oracle-exact.
    */
  val q133EmbedDecontam = Q(
    "q133_sem_embed_decontam",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      operators.Similarity.embedDecontaminate(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", tau = 0.30)
        .select(col("vec_id"), round(col("max_cos"), 6).as("max_cos_r"),
          col("contaminated"))
        .orderBy("vec_id")
    },
    Some("""
      WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings
            WHERE vec_id >= 10),
      scored AS (
        SELECT vec_id,
          list_sum(list_transform(range(1, len(cv) + 1),
            i -> CAST(cv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(bv) + 1),
               i -> CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)))), 0)
            AS cos
        FROM c, b),
      m AS (SELECT vec_id, max(cos) AS mc FROM scored
            WHERE cos IS NOT NULL GROUP BY vec_id)
      SELECT vec_id, round(mc, 6) AS max_cos_r, mc >= 0.30 AS contaminated
      FROM m ORDER BY vec_id"""))

  /** (q134) Per-dimension embedding statistics (Similarity.dimStats
    * scaladoc): quantized sums + exact float min/max per dimension —
    * the normalization pre-pass. One posexplode + one hash aggregate.
    */
  val q134DimStats = Q(
    "q134_ann_dim_stats",
    (s, dir) =>
      operators.Similarity.dimStats(t(s, dir, "embeddings"), "embedding")
        .orderBy("dim"),
    Some("""
      SELECT CAST(t.i AS INT) AS dim, count(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000.0)
          AS BIGINT)) AS BIGINT) AS sum_q,
        min(CAST(embedding[t.i] AS DOUBLE)) AS min_x,
        max(CAST(embedding[t.i] AS DOUBLE)) AS max_x
      FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
      GROUP BY t.i
      ORDER BY dim"""))

  /** (q135) Purged chronological split (Curation.timeSplit scaladoc):
    * cutoff = exact 4/5-quantile of the event timestamp (rational rank
    * arithmetic), 6-hour embargo between train and valid. The gate
    * emits per-split counts and boundaries.
    */
  val q135TimeSplit = Q(
    "q135_s_time_split",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.Curation.timeSplit(ev, "ts_us", num = 4, den = 5,
        embargoMicros = 21600000000L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("ts_us")).as("min_ts_us"),
          max(col("ts_us")).as("max_ts_us"))
        .orderBy("split")
    },
    Some("""
      WITH v AS (SELECT epoch_us(ts) AS us FROM events),
      r AS (SELECT us, row_number() OVER (ORDER BY us) AS rn,
              count(*) OVER () AS n
            FROM v),
      c AS (SELECT us AS cut FROM r WHERE rn = (4 * n + 4) // 5),
      l AS (SELECT us,
              CASE WHEN us <= cut THEN 'train'
                   WHEN us > cut + 21600000000 THEN 'valid'
                   ELSE 'embargo' END AS split
            FROM v, c)
      SELECT split, count(*) AS n, min(us) AS min_ts_us,
        max(us) AS max_ts_us
      FROM l GROUP BY split ORDER BY split"""))

  /** (q136) Readability metrics (TextFns.fleschScore scaladoc):
    * whitespace words, terminal-punctuation sentences (clamped >= 1),
    * vowel-group syllable proxy, Flesch reading-ease — all scan-stage
    * regex passes; the score is an affine IEEE expression rounded at
    * 4 dp on both engines.
    */
  val q136Readability = Q(
    "q136_tx_readability",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("words"),
        TextFns.sentenceCount(col("text")).as("sentences"),
        TextFns.syllableProxy(col("text")).as("syllables"),
        round(TextFns.fleschScore(col("text")), 4).as("flesch_r"))
        .orderBy("doc_id"),
    Some("""
      WITH m AS (SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
          END AS words,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
          END AS sentences,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        FROM documents)
      SELECT doc_id, CAST(words AS BIGINT) AS words,
        CAST(sentences AS BIGINT) AS sentences,
        CAST(syllables AS BIGINT) AS syllables,
        CASE WHEN words > 0 THEN
          round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
            - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
        END AS flesch_r
      FROM m ORDER BY doc_id"""))

  /** (q137) Balanced class weights (Curation.classWeights scaladoc):
    * ⌊10⁶·N/(K·n_c)⌋ per label — loss re-weighting for skewed label
    * distributions, quantized so the division is engine-exact.
    */
  val q137ClassWeights = Q(
    "q137_s_class_weights",
    (s, dir) =>
      operators.Curation.classWeights(t(s, dir, "embeddings"), "label")
        .orderBy("label"),
    Some("""
      WITH c AS (SELECT label, count(*) AS n_c FROM embeddings
                 GROUP BY label),
      t AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, count(*) AS k FROM c)
      SELECT c.label, CAST(c.n_c AS BIGINT) AS n_c,
        CAST(floor(1000000.0 * CAST(t.n AS DOUBLE)
          / CAST(t.k * c.n_c AS DOUBLE)) AS BIGINT) AS weight_q
      FROM c, t ORDER BY c.label"""))

  /** (q138) Dirichlet query-likelihood retrieval (Retrieval.qlTopK
    * scaladoc): the LM-smoothing complement to q97's BM25, same
    * quantized-long scoring contract, first 20 docs as queries.
    */
  val q138QlTopK = Q(
    "q138_ret_ql_topk",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Retrieval.qlTopK(docs.filter(col("doc_id") < 20), docs,
        "doc_id", "text", k = 5, mu = 2000.0, maxTermDf = 500)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH t AS (SELECT doc_id AS d,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tfx AS (SELECT d, term, COUNT(*) AS tf FROM t
              WHERE len(term) > 0 GROUP BY d, term),
      dlx AS (SELECT d, CAST(SUM(tf) AS BIGINT) AS dl FROM tfx GROUP BY d),
      ct AS (SELECT CAST(SUM(dl) AS BIGINT) AS c_tot FROM dlx),
      vx AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tfx
             GROUP BY term HAVING COUNT(*) <= 500),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM (
               SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents WHERE doc_id < 20)
             WHERE len(term) > 0),
      qv AS (SELECT qt.query_id, qt.term, vx.cf FROM qt
             JOIN vx USING (term)),
      nq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_q FROM qv
             GROUP BY query_id),
      m AS (SELECT qv.query_id, tfx.d, tfx.tf, qv.cf
            FROM tfx JOIN qv USING (term)
            WHERE qv.query_id <> tfx.d),
      sc AS (SELECT query_id, d,
               CAST(SUM(CAST(floor(1000000.0 * ln(1.0 +
                 CAST(tf AS DOUBLE) * CAST(ct.c_tot AS DOUBLE)
                   / (2000.0 * CAST(cf AS DOUBLE)))) AS BIGINT)) AS BIGINT)
                 AS match_q
             FROM m CROSS JOIN ct
             GROUP BY query_id, d),
      fin AS (SELECT sc.query_id, sc.d,
                sc.match_q + nq.n_q * CAST(floor(1000000.0 *
                  ln(2000.0 / (CAST(dlx.dl AS DOUBLE) + 2000.0)))
                  AS BIGINT) AS score_q
              FROM sc JOIN dlx ON dlx.d = sc.d JOIN nq USING (query_id))
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY score_q DESC, d ASC) AS INTEGER) AS rank,
        d AS doc_id, CAST(score_q AS DOUBLE) / 1000000.0 AS score
      FROM fin
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** (q139) Grouping-sets corpus profile: token/doc totals by
    * (source, lang) with ROLLUP subtotals and a grand total — the
    * one-query corpus report a mixing policy reads. Exercises
    * Catalyst's Expand operator (grouping sets); the shuffle carries
    * the grouped aggregates only.
    */
  val q139RollupProfile = Q(
    "q139_s_rollup_profile",
    (s, dir) =>
      t(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first),
    Some("""
      WITH tk AS (SELECT source, lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
            END AS w
        FROM documents)
      SELECT source, lang, count(*) AS n_docs,
        CAST(sum(w) AS BIGINT) AS n_tokens
      FROM tk
      GROUP BY ROLLUP (source, lang)
      ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST"""))

  /** (q140) Windowed PMI co-occurrence pairs (Curation.pmiPairs
    * scaladoc): ±2-token window, pairs seen >= 5 times, quantized PMI
    * — the embedding-pre-training association table.
    */
  val q140PmiPairs = Q(
    "q140_tx_pmi_pairs",
    (s, dir) =>
      operators.Curation.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        window = 2, minCount = 5L)
        .orderBy("a", "b"),
    Some("""
      WITH toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            t -> len(t) > 0) AS ts
        FROM documents),
      p AS (SELECT least(ts[t1.i], ts[t2.j]) AS a,
                   greatest(ts[t1.i], ts[t2.j]) AS b
            FROM toks,
              LATERAL unnest(range(1, len(ts))) t1(i),
              LATERAL unnest(range(t1.i + 1,
                least(t1.i + 2, len(ts)) + 1)) t2(j)),
      uni AS (SELECT unnest(ts) AS t FROM toks),
      uc AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
      nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM uc),
      pc AS (SELECT a, b, count(*) AS c_xy FROM p GROUP BY a, b
             HAVING count(*) >= 5),
      pt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS p_tot FROM pc)
      SELECT pc.a, pc.b, CAST(pc.c_xy AS BIGINT) AS c_xy,
        CAST(ua.c AS BIGINT) AS c_x, CAST(ub.c AS BIGINT) AS c_y,
        CAST(floor(1000000.0 * ln(
          CAST(pc.c_xy AS DOUBLE) * CAST(nt.n_tot AS DOUBLE)
            * CAST(nt.n_tot AS DOUBLE)
          / (CAST(pt.p_tot AS DOUBLE) * CAST(ua.c AS DOUBLE)
             * CAST(ub.c AS DOUBLE)))) AS BIGINT) AS pmi_q
      FROM pc JOIN uc ua ON ua.t = pc.a
              JOIN uc ub ON ub.t = pc.b
              CROSS JOIN nt CROSS JOIN pt
      ORDER BY a, b"""))

  /** (q141) Per-source z-score normalization (Curation.sourceZScores
    * scaladoc): token-count z within source from exact long sums,
    * ⌊10⁴·z⌋, null for degenerate sources.
    */
  val q141SourceZScores = Q(
    "q141_s_source_zscore",
    (s, dir) =>
      operators.Curation.sourceZScores(t(s, dir, "documents"), "doc_id",
        "text", "source")
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (SELECT doc_id, source,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
            END AS BIGINT) AS x
        FROM documents),
      st AS (SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS ss
             FROM tk GROUP BY source),
      z AS (SELECT tk.doc_id, tk.source, tk.x,
              sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS std,
              CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean
            FROM tk JOIN st USING (source))
      SELECT doc_id, source, x AS n_tokens,
        CASE WHEN std > 0 THEN
          CAST(floor(10000.0 * (CAST(x AS DOUBLE) - mean) / std) AS BIGINT)
        END AS z_q
      FROM z ORDER BY doc_id"""))

  /** (q142) Winsorized event values (Quantiles.winsorize scaladoc):
    * per-event-type clipping at the exact rational [p05, p95] band —
    * robust scaling on cents-quantized longs; bounds broadcast, clip
    * scan-stage.
    */
  val q142Winsorize = Q(
    "q142_a_winsorize",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("vq"))
      operators.Quantiles.winsorize(ev, "event_type", "vq",
        bucketWidth = 1000L, lo = (1, 20), hi = (19, 20))
        .orderBy("event_id")
    },
    Some("""
      WITH v AS (SELECT event_id, event_type,
               CAST(floor(value * 100) AS BIGINT) AS vq FROM events),
      r AS (SELECT event_type, vq,
              row_number() OVER (PARTITION BY event_type ORDER BY vq) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM v),
      b AS (SELECT event_type,
              min(CASE WHEN rn = (1 * n + 19) // 20 THEN vq END) AS lo,
              min(CASE WHEN rn = (19 * n + 19) // 20 THEN vq END) AS hi
            FROM r GROUP BY event_type)
      SELECT v.event_id, v.event_type, v.vq, b.lo, b.hi,
        least(greatest(v.vq, b.lo), b.hi) AS vq_clipped
      FROM v JOIN b USING (event_type)
      ORDER BY event_id"""))

  /** (q143) Per-user activity features (TimeAgg.userActivityFeatures
    * scaladoc): event/type/session counts, activity span, quantized
    * value mean — the feature-store row per entity. 30-minute session
    * gap.
    */
  val q143UserFeatures = Q(
    "q143_s_user_features",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.TimeAgg.userActivityFeatures(ev, "user_id", "ts_us",
        "event_type", "value", gapMicros = 1800000000L,
        tieBreak = Seq("event_id"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
               CAST(floor(value * 100) AS BIGINT) AS vq FROM events),
      s AS (SELECT user_id, us, vq, event_type,
              CASE WHEN lag(us) OVER w IS NULL THEN 1
                   WHEN us - lag(us) OVER w > 1800000000 THEN 1
                   ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      SELECT user_id, count(*) AS n_events,
        count(DISTINCT event_type) AS n_types,
        CAST(sum(brk) AS BIGINT) AS n_sessions,
        min(us) AS first_us, max(us) AS last_us,
        CAST(sum(vq) AS BIGINT) AS value_cents,
        CAST(floor(10000.0 * CAST(sum(vq) AS DOUBLE)
          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_value_q
      FROM s GROUP BY user_id ORDER BY user_id"""))

  /** (q144) Label-noise detection via k-NN disagreement
    * (Similarity.labelDisagreement scaladoc): fraction of each audited
    * vector's 5 exact nearest neighbors with a different label —
    * probable-mislabel triage. The audit queries are a deterministic
    * quarter-sample (vec_id % 4 = 0 — the q126 sampled-audit
    * contract: exact scoring over a sample, not all-pairs over the
    * corpus); the ranked frame is q28's exact top-k and the aggregate
    * works identically over an IVF/LSH frame at scale.
    */
  val q144LabelNoise = Q(
    "q144_ann_label_noise",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = operators.Similarity.cosineTopK(
        emb.filter(col("vec_id") % 4 === 0), emb, "vec_id",
        "embedding", k = 5)
      operators.Similarity.labelDisagreement(knn,
        emb.select(col("vec_id"), col("label")), "vec_id", "label", k = 5)
        .orderBy("vec_id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS own
                 FROM embeddings WHERE vec_id % 4 = 0),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
            FROM embeddings),
      scored AS (
        SELECT query_id, own, neighbor_id, nl,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM q JOIN c ON query_id <> neighbor_id),
      rk AS (SELECT query_id, own, nl,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
             FROM scored)
      SELECT query_id AS vec_id, own AS label,
        count(*) AS n_nbrs,
        CAST(sum(CASE WHEN nl <> own THEN 1 ELSE 0 END) AS BIGINT)
          AS n_diff,
        CAST(sum(CASE WHEN nl <> own THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS noise_frac
      FROM rk WHERE rank <= 5
      GROUP BY query_id, own
      ORDER BY vec_id"""))

  /** (q145) Rank normalization (Quantiles.exactRanks scaladoc): token
    * count → exact within-source rank (bucket-offset machinery, no
    * per-group global sort) → ⌊10⁶·(rank−1)/(n−1)⌋ — the cross-source
    * score-blending transform.
    */
  val q145RankNormalize = Q(
    "q145_s_rank_normalize",
    (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        col("source"), TextFns.tokenCount(col("text")).cast("long")
          .as("n_tok"))
      operators.Quantiles.exactRanks(base, "source", "n_tok",
        bucketWidth = 8L, tieCols = Seq("doc_id"))
        .withColumn("norm_q", when(col("grp_n") > 1,
          floor(lit(1000000.0) * (col("rank") - 1).cast("double") /
            (col("grp_n") - 1).cast("double")).cast("long"))
          .otherwise(lit(0L)))
        .orderBy("doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id, source,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
            END AS BIGINT) AS n_tok
        FROM documents),
      r AS (SELECT doc_id, source, n_tok,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY n_tok, doc_id) AS BIGINT) AS rank,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS grp_n
            FROM tk)
      SELECT doc_id, source, n_tok, rank, grp_n,
        CASE WHEN grp_n > 1 THEN
          CAST(floor(1000000.0 * CAST(rank - 1 AS DOUBLE)
            / CAST(grp_n - 1 AS DOUBLE)) AS BIGINT)
        ELSE 0 END AS norm_q
      FROM r ORDER BY doc_id"""))

  /** (q146) χ² source keyness (Curation.keyness scaladoc): top-10
    * positively-associated terms per source, ⌊100·χ²⌋ from exact 2×2
    * margins.
    */
  val q146Keyness = Q(
    "q146_tx_keyness",
    (s, dir) =>
      operators.Curation.keyness(t(s, dir, "documents"), "text", "source",
        minCount = 5L, k = 10)
        .orderBy("source", "rank"),
    Some("""
      WITH st AS (SELECT source, term, count(*) AS a FROM (
               SELECT source,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents)
             WHERE len(term) > 0 GROUP BY source, term),
      tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS ct FROM st GROUP BY term),
      srct AS (SELECT source, CAST(sum(a) AS BIGINT) AS ns FROM st
               GROUP BY source),
      nt AS (SELECT CAST(sum(ns) AS BIGINT) AS n_tot FROM srct),
      cells AS (SELECT st.source, st.term, st.a,
               tt.ct - st.a AS b, srct.ns - st.a AS c,
               nt.n_tot - srct.ns - (tt.ct - st.a) AS d, nt.n_tot
             FROM st JOIN tt USING (term) JOIN srct USING (source)
                  CROSS JOIN nt
             WHERE st.a >= 5
               AND CAST(st.a AS DOUBLE) * CAST(nt.n_tot - srct.ns
                     - (tt.ct - st.a) AS DOUBLE)
                 > CAST(tt.ct - st.a AS DOUBLE)
                   * CAST(srct.ns - st.a AS DOUBLE)),
      scored AS (SELECT source, term, a,
               CAST(floor(100.0 * (CAST(n_tot AS DOUBLE)
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))
                 AS BIGINT) AS chi2_q
             FROM cells)
      SELECT source,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY chi2_q DESC, term ASC) AS INTEGER) AS rank,
        term, CAST(a AS BIGINT) AS a, chi2_q
      FROM scored
      QUALIFY rank <= 10
      ORDER BY source, rank"""))

  /** (q147) Deterministic MLM masking plan (Curation.mlmMaskPlan
    * scaladoc): BERT 80/10/10 at 15 % via the portable md5₆₀ uniform —
    * masking as reproducible data, not training-loop RNG.
    */
  val q147MlmMask = Q(
    "q147_tx_mlm_mask",
    (s, dir) =>
      operators.Curation.mlmMaskPlan(t(s, dir, "documents"), "doc_id",
        "text")
        .orderBy("doc_id", "pos"),
    Some("""
      WITH toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            t -> len(t) > 0) AS ts
        FROM documents),
      p AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos, ts[t.i] AS token
            FROM toks, LATERAL unnest(range(1, len(ts) + 1)) t(i)),
      h AS (SELECT doc_id, pos, token,
              ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                  || CAST(pos AS VARCHAR) || ':mlm'), 1, 15))::BIGINT + 1)
                / CAST(1152921504606846976 AS DOUBLE)) AS u
            FROM p)
      SELECT doc_id, pos, token,
        CASE WHEN u < 0.12 THEN 'mask'
             WHEN u < 0.135 THEN 'random'
             ELSE 'keep' END AS action,
        round(u, 6) AS u_r
      FROM h WHERE u < 0.15
      ORDER BY doc_id, pos"""))

  /** (q148) Vocabulary coverage / OOV audit (Curation.vocabCoverage
    * scaladoc): top-1000 corpus vocabulary, per-source OOV token
    * share — the tokenizer-sizing question as one aggregate.
    */
  val q148VocabCoverage = Q(
    "q148_tx_vocab_coverage",
    (s, dir) =>
      operators.Curation.vocabCoverage(t(s, dir, "documents"), "text",
        "source", vocabSize = 1000)
        .orderBy("source"),
    Some("""
      WITH st AS (SELECT source, term, count(*) AS c FROM (
               SELECT source,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents)
             WHERE len(term) > 0 GROUP BY source, term),
      v AS (SELECT term FROM (SELECT term, sum(c) AS ct FROM st
              GROUP BY term)
            ORDER BY ct DESC, term ASC LIMIT 1000),
      j AS (SELECT st.source, st.c,
              CASE WHEN v.term IS NULL THEN st.c ELSE 0 END AS oov
            FROM st LEFT JOIN v USING (term))
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(sum(oov) AS BIGINT) AS n_oov,
        CAST(floor(1000000.0 * CAST(sum(oov) AS DOUBLE)
          / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS oov_q
      FROM j GROUP BY source ORDER BY source"""))

  /** (q149) Term burstiness (Curation.burstiness scaladoc): top-50
    * variance-to-mean terms over all documents, ⌊10⁴·vmr⌋ from exact
    * Σc/Σc²/N — Church–Gale clustering diagnostic.
    */
  val q149Burstiness = Q(
    "q149_tx_burstiness",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Curation.burstiness(docs, "doc_id", "text",
        nDocs = docs.count(), minDf = 5L, k = 50)
        .orderBy("rank")
    },
    Some("""
      WITH tc AS (SELECT doc_id, term, count(*) AS c FROM (
               SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents)
             WHERE len(term) > 0 GROUP BY doc_id, term),
      st AS (SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS ss
             FROM tc GROUP BY term HAVING count(*) >= 5),
      n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      sc AS (SELECT term, df, s, ss,
               CAST(floor(10000.0 *
                 ((CAST(ss AS DOUBLE) / CAST(nd AS DOUBLE))
                  - (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)))
                 / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))) AS BIGINT)
                 AS vmr_q
             FROM st CROSS JOIN n)
      SELECT CAST(row_number() OVER (ORDER BY vmr_q DESC, term ASC)
          AS INTEGER) AS rank,
        term, CAST(df AS BIGINT) AS df, s AS tf, vmr_q
      FROM sc
      QUALIFY rank <= 50
      ORDER BY rank"""))

  /** (q150) Corpus health card (Curation.corpusHealthCard scaladoc):
    * the per-source dataset-card row — doc/token/type/hapax mass,
    * exact-duplicate share, OOV share vs the top-1000 vocabulary.
    */
  val q150HealthCard = Q(
    "q150_s_health_card",
    (s, dir) =>
      operators.Curation.corpusHealthCard(t(s, dir, "documents"),
        "doc_id", "text", "source", vocabSize = 1000)
        .orderBy("source"),
    Some("""
      WITH tok AS (SELECT source, term, count(*) AS c FROM (
               SELECT source,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents)
             WHERE len(term) > 0 GROUP BY source, term),
      vs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
             FROM tok GROUP BY source),
      v AS (SELECT term FROM (SELECT term, sum(c) AS ct FROM tok
              GROUP BY term)
            ORDER BY ct DESC, term ASC LIMIT 1000),
      cov AS (SELECT source,
               CAST(sum(CASE WHEN v.term IS NULL THEN tok.c ELSE 0 END)
                 AS BIGINT) AS n_oov,
               CAST(floor(1000000.0 *
                 CAST(sum(CASE WHEN v.term IS NULL THEN tok.c ELSE 0 END)
                   AS DOUBLE)
                 / CAST(sum(tok.c) AS DOUBLE)) AS BIGINT) AS oov_q
             FROM tok LEFT JOIN v USING (term) GROUP BY source),
      h AS (SELECT doc_id, source,
              md5(regexp_replace(lower(trim(coalesce(text, ''))),
                '\s+', ' ', 'g')) AS hh
            FROM documents),
      dg AS (SELECT hh FROM h GROUP BY hh HAVING count(*) > 1),
      d AS (SELECT h.source, count(*) AS n_docs,
              CAST(sum(CASE WHEN dg.hh IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dup_docs
            FROM h LEFT JOIN dg USING (hh) GROUP BY h.source)
      SELECT d.source, d.n_docs, d.n_dup_docs,
        CAST(floor(1000000.0 * CAST(d.n_dup_docs AS DOUBLE)
          / CAST(d.n_docs AS DOUBLE)) AS BIGINT) AS dup_q,
        coalesce(vs.n_tokens, 0) AS n_tokens,
        coalesce(vs.n_types, 0) AS n_types,
        coalesce(vs.n_hapax, 0) AS n_hapax,
        coalesce(cov.n_oov, 0) AS n_oov,
        coalesce(cov.oov_q, 0) AS oov_q
      FROM d LEFT JOIN vs USING (source) LEFT JOIN cov USING (source)
      ORDER BY source"""))

  /** (q151) Exact heavy hitters (Sketches.heavyHitters scaladoc):
    * tokens with count > N/100 via the two-pass Misra–Gries candidate
    * scheme — exact output, no full-cardinality shuffle.
    */
  val q151HeavyHitters = Q(
    "q151_sk_heavy_hitters",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      operators.Sketches.heavyHitters(terms, "term", den = 100)
        .orderBy("term")
    },
    Some("""
      WITH f AS (SELECT term FROM (
          SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
            AS term
          FROM documents)
        WHERE len(term) > 0)
      SELECT term, count(*) AS cnt FROM f GROUP BY term
      HAVING count(*) * 100 > (SELECT count(*) FROM f)
      ORDER BY term"""))

  /** (q152) Code-switch detection (Curation.codeSwitchSignals
    * scaladoc): language ID per 20-token chunk, per-doc switch counts
    * and dominant-language share.
    */
  val q152CodeSwitch = Q(
    "q152_tx_code_switch",
    (s, dir) =>
      operators.Curation.codeSwitchSignals(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 20)
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        FROM documents WHERE text IS NOT NULL),
      ch AS (SELECT doc_id, t.k AS start_tok,
               ts[t.k : least(t.k + 19, len(ts))] AS chunk
             FROM d, LATERAL unnest(range(1, len(ts) + 1, 20)) t(k)),
      lngt AS (SELECT doc_id, start_tok,
               regexp_split_to_array(lower(trim(
                 array_to_string(chunk, ' '))), '\s+') AS ct
             FROM ch),
      hits AS (SELECT doc_id, start_tok,
          len(list_filter(ct, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(ct, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(ct, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(ct, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM lngt),
      lng AS (SELECT doc_id, start_tok,
          CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
               WHEN en = greatest(en, es, de, fr) THEN 'en'
               WHEN es = greatest(en, es, de, fr) THEN 'es'
               WHEN de = greatest(en, es, de, fr) THEN 'de'
               ELSE 'fr' END AS lg
        FROM hits),
      sw AS (SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> lg
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
             FROM (SELECT doc_id, lg,
                     lag(lg) OVER (PARTITION BY doc_id
                       ORDER BY start_tok) AS prev
                   FROM lng)
             GROUP BY doc_id),
      pl AS (SELECT doc_id, lg, count(*) AS c FROM lng
             GROUP BY doc_id, lg),
      dom AS (SELECT doc_id,
               min(CASE WHEN c = mx THEN lg END) AS dominant_lang,
               min(mx) AS mxc, min(nl) AS n_langs
             FROM (SELECT doc_id, lg, c,
                     max(c) OVER (PARTITION BY doc_id) AS mx,
                     count(*) OVER (PARTITION BY doc_id) AS nl
                   FROM pl)
             GROUP BY doc_id)
      SELECT sw.doc_id, sw.n_chunks, dom.n_langs, sw.n_switches,
        dom.dominant_lang,
        CAST(floor(1000000.0 * CAST(dom.mxc AS DOUBLE)
          / CAST(sw.n_chunks AS DOUBLE)) AS BIGINT) AS dom_share_q
      FROM sw JOIN dom USING (doc_id)
      ORDER BY doc_id"""))

  /** (q153) Preference pairs (Curation.preferencePairs scaladoc):
    * rank-r vs rank-(r+⌈n/2⌉) doc pairs per source by token-count
    * score — DPO/reward-model data prep.
    */
  val q153PreferencePairs = Q(
    "q153_s_preference_pairs",
    (s, dir) =>
      operators.Curation.preferencePairs(t(s, dir, "documents"),
        "doc_id", "text", "source")
        .orderBy("source", "low_id"),
    Some("""
      WITH tk AS (SELECT doc_id, source,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
            END AS BIGINT) AS score
        FROM documents),
      r AS (SELECT doc_id, source, score,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY score, doc_id) AS BIGINT) AS rank,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
            FROM tk),
      lo AS (SELECT source, doc_id AS low_id, score AS low_score,
               rank + (n - n // 2) AS pr
             FROM r WHERE rank <= n // 2),
      hi AS (SELECT source, doc_id AS high_id, score AS high_score,
               rank AS pr
             FROM r)
      SELECT lo.source, low_id, high_id, low_score, high_score,
        high_score - low_score AS margin
      FROM lo JOIN hi USING (source, pr)
      ORDER BY source, low_id"""))

  /** (q154) Span-corruption plan (Curation.spanCorruptPlan scaladoc):
    * T5-style 3-token spans at rate 0.05 via md5₆₀ block selection —
    * parallel and exactly replayable.
    */
  val q154SpanCorrupt = Q(
    "q154_tx_span_corrupt",
    (s, dir) =>
      operators.Curation.spanCorruptPlan(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id", "block"),
    Some("""
      WITH toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            t -> len(t) > 0) AS ts
        FROM documents),
      nn AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS nt FROM toks
             WHERE len(ts) > 0),
      b AS (SELECT doc_id, nt, unnest(range(0, (nt + 2) // 3)) AS block
            FROM nn),
      h AS (SELECT doc_id, nt, block,
              ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                  || CAST(block AS VARCHAR) || ':t5'), 1, 15))::BIGINT + 1)
                / CAST(1152921504606846976 AS DOUBLE)) AS u
            FROM b),
      sel AS (SELECT doc_id, block, block * 3 + 1 AS span_start,
               least(3, nt - block * 3) AS span_len, u
             FROM h WHERE u < 0.05)
      SELECT doc_id, block, span_start, span_len,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY block)
          AS INTEGER) AS sentinel,
        round(u, 6) AS u_r
      FROM sel ORDER BY doc_id, block"""))

  /** (q155) Exact tie-adjusted AUC (Eval.aucExact scaladoc): the
    * quantized quality score ranking lang='en' docs — the Mann–Whitney
    * U form from exact longs; one row (P, N, ⌊10⁶·AUC⌋).
    */
  val q155Auc = Q(
    "q155_ml_auc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Eval.aucExact(
        docs.select(floor(lit(1000000.0) *
          TextFns.qualityScore(col("text"), Stopwords)).cast("long")
          .as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT) AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      ps AS (SELECT s, CAST(sum(y) AS BIGINT) AS p_s,
               CAST(sum(1 - y) AS BIGINT) AS n_s
             FROM q GROUP BY s),
      cb AS (SELECT s, p_s, n_s,
               coalesce(sum(n_s) OVER (ORDER BY s ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb
             FROM ps)
      SELECT CAST(sum(p_s) AS BIGINT) AS p,
        CAST(sum(n_s) AS BIGINT) AS n,
        CASE WHEN sum(p_s) > 0 AND sum(n_s) > 0 THEN
          CAST(floor(1000000.0 *
            CAST(sum(p_s * (2 * nb + n_s)) AS DOUBLE)
            / (2.0 * CAST(sum(p_s) AS DOUBLE)
               * CAST(sum(n_s) AS DOUBLE))) AS BIGINT)
        END AS auc_q
      FROM cb"""))

  /** (q156) Trailing-window rate anomaly (TimeAgg.rateAnomaly
    * scaladoc): per-minute counts per event type, z vs the previous 30
    * densified minutes, ⌊100·z⌋ — the event-storm detector.
    */
  val q156RateAnomaly = Q(
    "q156_a_rate_anomaly",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.TimeAgg.rateAnomaly(ev, "event_type", "ts_us",
        bucketSec = 60L, window = 30)
        .filter(col("z_q").isNotNull)
        .orderBy("event_type", "bucket")
    },
    Some("""
      WITH e AS (SELECT event_type,
          (epoch_us(ts) - epoch_us(ts) % 60000000) // 1000000 AS bucket
        FROM events),
      cnt AS (SELECT event_type, bucket, count(*) AS c FROM e
              GROUP BY 1, 2),
      sp AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
             FROM cnt GROUP BY 1),
      dense AS (SELECT event_type, bucket, coalesce(c, 0) AS c FROM
        (SELECT sp.event_type, t.b AS bucket FROM sp,
           LATERAL unnest(range(b0, b1 + 60, 60)) t(b)) g
        LEFT JOIN cnt USING (event_type, bucket)),
      w AS (SELECT event_type, bucket, c,
              sum(c) OVER win AS s, sum(c * c) OVER win AS ss,
              count(*) OVER win AS n
            FROM dense
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket
              ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING))
      SELECT event_type, bucket, CAST(c AS BIGINT) AS c,
        CAST(floor(100.0 *
          (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT)
          AS z_q
      FROM w
      WHERE n = 30
        AND (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) > 0
      ORDER BY event_type, bucket"""))

  /** (q157) Three-step funnel (TimeAgg.funnel scaladoc):
    * view → click → purchase within 24 h per step, earliest-completion
    * semantics, per-user stage row.
    */
  val q157Funnel = Q(
    "q157_a_funnel",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.TimeAgg.funnel(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), horizonMicros = 86400000000L)
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                 FROM events),
      s1 AS (SELECT user_id, min(us) AS t1_us FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(us) AS t2_us
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND us > t1_us
               AND us <= t1_us + 86400000000
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(us) AS t3_us
             FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND us > t2_us
               AND us <= t2_us + 86400000000
             GROUP BY e.user_id)
      SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
        CAST(CASE WHEN s3.t3_us IS NOT NULL THEN 3
             WHEN s2.t2_us IS NOT NULL THEN 2
             ELSE 1 END AS INTEGER) AS stage
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      ORDER BY user_id"""))

  /** (q158) Cohort retention matrix (TimeAgg.cohortRetention
    * scaladoc): daily cohorts × day offsets → distinct active users —
    * the retention triangle.
    */
  val q158CohortRetention = Q(
    "q158_a_cohort_retention",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.TimeAgg.cohortRetention(ev, "user_id", "ts_us",
        bucketSec = 86400L)
        .orderBy("cohort", "offset")
    },
    Some("""
      WITH a AS (SELECT DISTINCT user_id,
          (epoch_us(ts) - epoch_us(ts) % 86400000000) // 1000000 AS bucket
        FROM events),
      c AS (SELECT user_id, min(bucket) AS cohort FROM a
            GROUP BY user_id)
      SELECT c.cohort, (a.bucket - c.cohort) // 86400 AS "offset",
        count(DISTINCT a.user_id) AS n_users
      FROM a JOIN c USING (user_id)
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Ranked-with-relevance frame shared by q159/q160: exact top-5
    * neighbors of the q144 quarter-sample, relevant = neighbor label
    * matches query label.
    */
  private def labeledKnn(s: SparkSession, dir: String) = {
    val emb = t(s, dir, "embeddings")
    val knn = operators.Similarity.cosineTopK(
      emb.filter(col("vec_id") % 4 === 0), emb, "vec_id", "embedding",
      k = 5)
    val own = emb.select(col("vec_id").as("query_id"),
      col("label").as("__ql"))
    val nbr = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("__nl"))
    knn.join(broadcast(own), Seq("query_id"))
      .join(broadcast(nbr), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"),
        (col("__nl") === col("__ql")).as("rel"))
  }

  private val KnnRelOracle = """
      q AS (SELECT vec_id AS query_id, embedding AS qv, label AS own
            FROM embeddings WHERE vec_id % 4 = 0),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
            FROM embeddings),
      scored AS (
        SELECT query_id, own, neighbor_id, nl,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM q JOIN c ON query_id <> neighbor_id),
      rk AS (SELECT query_id, nl = own AS rel,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
             FROM scored)"""

  /** (q159) Mean reciprocal rank (Eval.mrrAtK scaladoc): label-match
    * relevance over the exact top-5 of the quarter-sample;
    * quantized-reciprocal contributions summed as longs.
    */
  val q159Mrr = Q(
    "q159_ret_mrr",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nQ = emb.filter(col("vec_id") % 4 === 0).count()
      operators.Eval.mrrAtK(labeledKnn(s, dir), k = 5, nQueries = nQ)
    },
    Some(s"""
      WITH $KnnRelOracle,
      fr AS (SELECT query_id, min(rank) AS f FROM rk
             WHERE rank <= 5 AND rel GROUP BY query_id),
      sm AS (SELECT coalesce(sum(1000000 // f), 0) AS s FROM fr),
      nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
             WHERE vec_id % 4 = 0)
      SELECT nq.n AS n_queries,
        CAST(floor(CAST(sm.s AS DOUBLE) / CAST(nq.n AS DOUBLE))
          AS BIGINT) AS mrr_q
      FROM sm, nq"""))

  /** (q160) nDCG@5 per query (Eval.ndcgAtK scaladoc): per-position
    * quantized gains, ideal DCG from the identical expression.
    */
  val q160Ndcg = Q(
    "q160_ret_ndcg",
    (s, dir) =>
      operators.Eval.ndcgAtK(labeledKnn(s, dir), k = 5)
        .orderBy("query_id"),
    Some(s"""
      WITH $KnnRelOracle,
      pq AS (SELECT query_id,
               CAST(sum(CASE WHEN rel THEN
                 CAST(floor(1000000.0 / log2(1 + CAST(rank AS DOUBLE)))
                   AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_q,
               CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rel
             FROM rk WHERE rank <= 5 GROUP BY query_id)
      SELECT query_id, n_rel, dcg_q,
        CASE WHEN n_rel > 0 THEN
          CAST(floor(1000000.0 * CAST(dcg_q AS DOUBLE)
            / CAST(CAST(list_sum(list_transform(
                range(1, least(n_rel, 5) + 1),
                i -> CAST(floor(1000000.0 / log2(1 + CAST(i AS DOUBLE)))
                  AS BIGINT))) AS BIGINT) AS DOUBLE)) AS BIGINT)
        ELSE 0 END AS ndcg_q
      FROM pq ORDER BY query_id"""))

  /** (q161) Calibration / ECE (Eval.calibration scaladoc): quality
    * score deciles vs lang='en', pure-integer expected calibration
    * error on every bucket row.
    */
  val q161Ece = Q(
    "q161_ml_ece",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Eval.calibration(
        docs.select(floor(lit(1000000.0) *
          TextFns.qualityScore(col("text"), Stopwords)).cast("long")
          .as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
        .orderBy("bucket")
    },
    Some("""
      WITH d AS (SELECT text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT) AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      b AS (SELECT least(s // 100000, 9) AS bucket, count(*) AS n,
              CAST(sum(y) AS BIGINT) AS pos,
              CAST(sum(s) AS BIGINT) AS conf_sum_q
            FROM q GROUP BY 1),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(abs(1000000 * pos - conf_sum_q)) AS BIGINT)
                 AS num
             FROM b)
      SELECT b.bucket, b.n, b.pos, b.conf_sum_q,
        tt.num // tt.nt AS ece_q
      FROM b, tt ORDER BY b.bucket"""))

  /** (q162) Language-ID classification report (Eval.classReport
    * scaladoc): stored lang vs marker-heuristic prediction —
    * per-class counts and quantized precision/recall/F1.
    */
  val q162LangReport = Q(
    "q162_ml_lang_report",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
        .filter(col("pred").isNotNull)
      operators.Eval.classReport(docs, "lang", "pred")
        .orderBy("label")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT lang AS truth,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS pred
             FROM h),
      cm AS (SELECT truth, pred, count(*) AS n FROM pr GROUP BY 1, 2),
      bt AS (SELECT truth AS label, CAST(sum(n) AS BIGINT) AS n_truth
             FROM cm GROUP BY 1),
      bp AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS n_pred
             FROM cm GROUP BY 1),
      tp AS (SELECT truth AS label, CAST(n AS BIGINT) AS tp FROM cm
             WHERE truth = pred),
      j AS (SELECT coalesce(bt.label, bp.label) AS label,
              coalesce(n_truth, 0) AS n_truth,
              coalesce(n_pred, 0) AS n_pred,
              coalesce(tp, 0) AS tp
            FROM bt FULL OUTER JOIN bp ON bt.label = bp.label
                 LEFT JOIN tp ON coalesce(bt.label, bp.label) = tp.label)
      SELECT label, n_truth, n_pred, tp,
        CASE WHEN n_pred > 0 THEN
          CAST(floor(1000000.0 * CAST(tp AS DOUBLE)
            / CAST(n_pred AS DOUBLE)) AS BIGINT) END AS prec_q,
        CASE WHEN n_truth > 0 THEN
          CAST(floor(1000000.0 * CAST(tp AS DOUBLE)
            / CAST(n_truth AS DOUBLE)) AS BIGINT) END AS rec_q,
        CASE WHEN n_pred > 0 AND n_truth > 0
             AND (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
                  + CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)) > 0 THEN
          CAST(floor(1000000.0 * 2.0
            * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
            * (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE))
            / (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
               + CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)))
            AS BIGINT) END AS f1_q
      FROM j ORDER BY label"""))

  /** (q163) Markov transition matrix (TimeAgg.markovTransitions
    * scaladoc): per-user consecutive event-type transitions, counts +
    * ⌊10⁶·p⌋ row-normalized probabilities.
    */
  val q163Markov = Q(
    "q163_a_markov_transitions",
    (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
      operators.TimeAgg.markovTransitions(ev, "user_id", "ts_us",
        "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
               event_id
             FROM events),
      tr AS (SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS to_type
             FROM e),
      c AS (SELECT from_type, to_type, count(*) AS n FROM tr
            WHERE to_type IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM c
             GROUP BY 1)
      SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n, rt.row_n,
        CAST(floor(1000000.0 * CAST(c.n AS DOUBLE)
          / CAST(rt.row_n AS DOUBLE)) AS BIGINT) AS p_q
      FROM c JOIN rt USING (from_type)
      ORDER BY from_type, to_type"""))

  /** (q164) Pareto frontier (Robust.paretoFrontier scaladoc): per-user
    * skyline over (n_events, value_cents) maximizing both — the
    * multi-objective selection rule, computed with the distributive
    * local-sweep shape (never a corpus-wide single-task sort).
    */
  val q164Pareto = Q(
    "q164_s_pareto_front",
    (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(dec(col("value"))) * 100).cast("long").as("value_cents"))
      val front = operators.Robust.paretoFrontier(perUser, "n_events",
        "value_cents")
      perUser.join(front, Seq("n_events", "value_cents"), "left_semi")
        .select(col("user_id"), col("n_events"), col("value_cents"))
        .orderBy("user_id")
    },
    Some("""
      WITH u AS (SELECT user_id, COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
            AS value_cents
        FROM events GROUP BY user_id)
      SELECT user_id, n_events, value_cents FROM u a
      WHERE NOT EXISTS (SELECT 1 FROM u b
        WHERE b.n_events >= a.n_events AND b.value_cents >= a.value_cents
          AND (b.n_events > a.n_events OR b.value_cents > a.value_cents))
      ORDER BY user_id"""))

  /** (q165) Top session paths (TimeAgg.sessionPaths scaladoc): first-5
    * event types per q81-rule session, aggregated to
    * (path, n_sessions, n_users).
    */
  val q165SessionPaths = Q(
    "q165_a_session_paths",
    (s, dir) =>
      operators.TimeAgg.sessionPaths(ev(s, dir), "user_id", "ts_us",
        "event_type", "event_id", gapMicros = 30000000000L, k = 5)
        .orderBy("path"),
    Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, $EvUs AS us
             FROM events),
      m AS (SELECT user_id, event_id, event_type, us,
              CASE WHEN us IS NULL THEN
                     CASE WHEN lag(us) OVER w IS NOT NULL THEN 1 ELSE 0 END
                   WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 30000000000 THEN 1
                   ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us NULLS LAST, event_id)),
      sx AS (SELECT user_id, event_id, event_type, us,
               SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY us NULLS LAST, event_id ROWS UNBOUNDED PRECEDING)
                 AS session_idx
             FROM m),
      p AS (SELECT user_id, session_idx,
              array_to_string(list_slice(
                list(event_type ORDER BY us NULLS LAST, event_id), 1, 5),
                '>') AS path
            FROM sx GROUP BY user_id, session_idx)
      SELECT path, COUNT(*) AS n_sessions,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM p GROUP BY path ORDER BY path"""))

  /** (q166) Token-distribution entropy (Curation.tokenEntropy
    * scaladoc): per-doc Shannon entropy with per-term quantization —
    * the sum is exact longs, partition-order-free.
    */
  val q166TokenEntropy = Q(
    "q166_tx_token_entropy",
    (s, dir) =>
      operators.Curation.tokenEntropy(t(s, dir, "documents"), "doc_id",
        "text")
        .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t
             WHERE len(term) > 0 GROUP BY 1, 2),
      p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
              COUNT(*) AS n_types,
              CAST(SUM(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                AS BIGINT)) AS BIGINT) AS s
            FROM tf GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(p.n_tokens, 0) AS n_tokens,
        coalesce(p.n_types, 0) AS n_types,
        CASE WHEN p.n_tokens IS NOT NULL THEN
          CAST(floor(1000000.0 * ln(CAST(p.n_tokens AS DOUBLE))) AS BIGINT)
            - (p.s // p.n_tokens) END AS entropy_q
      FROM documents d LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  /** (q167) Cohen's κ (Eval.cohenKappa scaladoc): chance-corrected
    * agreement between the heuristic language identifier and the
    * labeled language — the label-audit companion to q162's per-class
    * report, exact longs up to one division.
    */
  val q167CohenKappa = Q(
    "q167_ml_cohen_kappa",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
        .filter(col("pred").isNotNull)
      operators.Eval.cohenKappa(d, "lang", "pred")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT lang AS a,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS b
             FROM h),
      cm AS (SELECT a, b, COUNT(*) AS n FROM pr GROUP BY 1, 2),
      ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cm GROUP BY 1),
      mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cm GROUP BY 1),
      sp AS (SELECT coalesce(CAST(SUM(ma.na * mb.nb) AS BIGINT), 0) AS s
             FROM ma JOIN mb ON ma.a = mb.b),
      ag AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT)
                 AS agree
             FROM cm)
      SELECT n_rows, agree, s AS marg_prod,
        CASE WHEN n_rows * n_rows <> s THEN
          CAST(floor(1000000.0
            * CAST(n_rows * agree - s AS DOUBLE)
            / CAST(n_rows * n_rows - s AS DOUBLE)) AS BIGINT)
        END AS kappa_q
      FROM ag, sp"""))

  /** (q168) N-gram novelty (Dedup.ngramNovelty scaladoc): fraction of
    * each doc's distinct 3-gram shingles first seen in that doc —
    * pairwise-free marginal-contribution dedup scoring.
    */
  val q168NgramNovelty = Q(
    "q168_dd_ngram_novelty",
    (s, dir) =>
      operators.Dedup.ngramNovelty(t(s, dir, "documents"), "doc_id",
        "text", n = 3)
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      g AS (SELECT DISTINCT doc_id,
              array_to_string(list_slice(toks, i, i + 2), ' ') AS g
            FROM d, LATERAL unnest(range(1, len(toks) - 1)) t(i)),
      f AS (SELECT g, MIN(doc_id) AS first_id FROM g GROUP BY g),
      p AS (SELECT g.doc_id, COUNT(*) AS n_grams,
              CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams
            FROM g JOIN f USING (g) GROUP BY 1)
      SELECT d0.doc_id,
        coalesce(p.n_grams, 0) AS n_grams,
        coalesce(p.novel_grams, 0) AS novel_grams,
        CASE WHEN p.n_grams > 0 THEN
          CAST(floor(1000000.0 * p.novel_grams / p.n_grams) AS BIGINT)
        END AS novelty_q
      FROM documents d0 LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""))

  /** (q169) Two-proportion z-test (Eval.twoProportionZ scaladoc): A/B
    * read-out — variant = user_id parity, conversion = any purchase
    * event; exact counts, one pinned float sequence for z.
    */
  val q169AbZTest = Q(
    "q169_ml_ab_ztest",
    (s, dir) => {
      val conv = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          > 0).as("converted"))
        .withColumn("variant", col("user_id") % 2)
      operators.Eval.twoProportionZ(conv, "variant", "converted")
    },
    Some("""
      WITH u AS (SELECT user_id, user_id % 2 AS variant,
          SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
            AS converted
        FROM events GROUP BY user_id),
      a AS (SELECT
          CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
            AS BIGINT) AS c0,
          CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
            AS BIGINT) AS c1
        FROM u),
      b AS (SELECT n0, c0, n1, c1,
              CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
              CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
              CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS ph
            FROM a),
      c AS (SELECT *, sqrt(ph * (1.0 - ph)
              * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
              AS se
            FROM b),
      z AS (SELECT n0, c0, n1, c1,
              CASE WHEN n0 > 0 AND n1 > 0 AND se > 0 THEN
                CAST(floor(1000000.0 * (p1 - p0) / se) AS BIGINT)
              END AS z_q
            FROM c)
      SELECT n0, c0, n1, c1, z_q,
        CASE WHEN z_q IS NOT NULL THEN abs(z_q) >= 1960000 END AS significant
      FROM z"""))

  /** (q170) MAD robust outliers (Robust.madOutliers scaladoc): per
    * event type, lower-median/MAD fences over ⌊10⁶·value⌋ — exact
    * rank selection via the Quantiles bucket-count machinery, no
    * per-group single-task sort.
    */
  val q170MadOutliers = Q(
    "q170_a_mad_outliers",
    (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("value_q",
          floor(col("value") * lit(1000000.0)).cast("long"))
      operators.Robust.madOutliers(e, "event_type", "value_q",
        bucketWidth = 1000000L, k = 3)
        .select(col("event_type"), col("n"), col("med_q"), col("mad_q"),
          col("n_outliers"))
        .orderBy("event_type")
    },
    Some("""
      WITH v AS (SELECT event_type,
               CAST(floor(value * 1000000.0) AS BIGINT) AS vq
             FROM events WHERE value IS NOT NULL),
      r AS (SELECT event_type, vq,
              row_number() OVER (PARTITION BY event_type ORDER BY vq) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v),
      med AS (SELECT event_type, vq AS med_q FROM r WHERE rn = (n + 1) // 2),
      d AS (SELECT v.event_type, v.vq, abs(v.vq - med.med_q) AS dev
            FROM v JOIN med USING (event_type)),
      r2 AS (SELECT event_type, dev,
               row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM d),
      mad AS (SELECT event_type, dev AS mad_q FROM r2 WHERE rn = (n + 1) // 2)
      SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(med.med_q) AS med_q, MIN(mad.mad_q) AS mad_q,
        CAST(SUM(CASE WHEN d.dev > 3 * mad.mad_q THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM d JOIN med USING (event_type) JOIN mad USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type"""))

  /** (q171) Blocked Jaro–Winkler linkage (Similarity.blockedLinkage +
    * graft.plans.JaroWinklerSim scaladoc): entity resolution over the
    * distinct part-name dictionary, blocked on the head noun —
    * codegen'd JW verified value-identical (exact doubles) to DuckDB's
    * jaro_winkler_similarity on every candidate pair.
    */
  val q171JwLinkage = Q(
    "q171_dd_jw_linkage",
    (s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name")).distinct()
      operators.Similarity.blockedLinkage(names, "name", "name",
        n => element_at(split(n, " "), -1), simQMin = 600000L)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH p AS (SELECT DISTINCT p_name AS name FROM part),
      b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM p)
      SELECT a.name AS id_a, c.name AS id_b,
        CAST(floor(1000000.0 * jaro_winkler_similarity(a.name, c.name))
          AS BIGINT) AS sim_q
      FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
      WHERE floor(1000000.0 * jaro_winkler_similarity(a.name, c.name))
        >= 600000
      ORDER BY id_a, id_b"""))

  /** (q172) Chunked interval-overlap join (IntervalJoin.overlapJoin
    * scaladoc): errors within the 2-hour window opened by each purchase
    * of the same user — an equi-join on (user, time-chunk) with the
    * ownership filter replacing the dedup pass; the oracle is the
    * naive range-predicate join.
    */
  val q172IntervalOverlap = Q(
    "q172_j_interval_overlap",
    (s, dir) => {
      val e = ev(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("p_s"),
          (col("ts_us") + lit(7200000000L)).as("p_e"))
      val r = e.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts_us").as("r_s"),
          (col("ts_us") + lit(3600000000L)).as("r_e"))
      operators.IntervalJoin.overlapJoin(p, r, Seq("user_id"),
        "p_s", "p_e", "r_s", "r_e", chunk = 3600000000L)
        .select("purchase_id", "error_id", "user_id")
        .orderBy("purchase_id", "error_id")
    },
    Some(s"""
      WITH p AS (SELECT event_id, user_id, $EvUs AS s,
               $EvUs + 7200000000 AS e
             FROM events WHERE event_type = 'purchase'),
           r AS (SELECT event_id, user_id, $EvUs AS s,
               $EvUs + 3600000000 AS e
             FROM events WHERE event_type = 'error')
      SELECT p.event_id AS purchase_id, r.event_id AS error_id,
        p.user_id AS user_id
      FROM p JOIN r ON p.user_id = r.user_id AND p.s < r.e AND r.s < p.e
      ORDER BY purchase_id, error_id"""))

  /** (q173) Prefix vocabulary-growth profile (Segments.vocabGrowth
    * scaladoc): distinct tokens in the first 10/25/50/100 tokens —
    * lexical diversity at fixed k, scan-stage higher-order arrays.
    */
  val q173VocabGrowth = Q(
    "q173_tx_vocab_growth",
    (s, dir) =>
      operators.Segments.vocabGrowth(t(s, dir, "documents"), "doc_id",
        "text").orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents)
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        CAST(len(list_distinct(t[1:10])) AS BIGINT) AS d10,
        CAST(len(list_distinct(t[1:25])) AS BIGINT) AS d25,
        CAST(len(list_distinct(t[1:50])) AS BIGINT) AS d50,
        CAST(len(list_distinct(t[1:100])) AS BIGINT) AS d100
      FROM d ORDER BY doc_id"""))

  /** (q174) Longest identical-token run (Segments.maxTokenRun
    * scaladoc): degenerate-loop detector as ONE aggregate() scan over
    * the token array; the oracle is the explode + gaps-and-islands
    * formulation the operator deliberately avoids.
    */
  val q174MaxTokenRun = Q(
    "q174_tx_max_token_run",
    (s, dir) =>
      operators.Segments.maxTokenRun(t(s, dir, "documents"), "doc_id",
        "text").orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents),
      pos AS (SELECT doc_id, CAST(p.i AS BIGINT) AS pos, t[p.i] AS tok
              FROM d, LATERAL unnest(range(1, len(t) + 1)) p(i)),
      runs AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS run_len
               FROM (SELECT doc_id, tok, pos,
                       pos - row_number() OVER (PARTITION BY doc_id, tok
                         ORDER BY pos) AS grp
                     FROM pos)
               GROUP BY doc_id, tok, grp),
      best AS (SELECT doc_id, tok, run_len,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY run_len DESC, tok ASC) AS rn
               FROM runs)
      SELECT dd.doc_id, coalesce(b.run_len, 0) AS run_len,
        coalesce(b.tok, '') AS run_token
      FROM (SELECT doc_id FROM documents) dd
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
      ORDER BY doc_id"""))

  /** (q175) Per-source two-sample KS drift (Robust.ksDrift scaladoc):
    * max ECDF gap of each source vs the rest of the corpus, exact
    * integer numerator, one quantizing division.
    */
  val q175KsDrift = Q(
    "q175_a_ks_drift",
    (s, dir) =>
      operators.Robust.ksDrift(t(s, dir, "documents"), "source",
        "n_chars").orderBy("source"),
    Some("""
      WITH c AS (SELECT source AS g, n_chars AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY g, v),
      gs AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM c GROUP BY g),
      vs AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM c GROUP BY v),
      n AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM vs),
      grid AS (SELECT gs.g, gs.ng, vs.v, vs.cv, coalesce(c.c, 0) AS c
               FROM gs CROSS JOIN vs
                 LEFT JOIN c ON c.g = gs.g AND c.v = vs.v),
      cum AS (SELECT g, ng, v,
                CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                  AS cumg,
                CAST(sum(cv) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                  AS cumv
              FROM grid),
      sc AS (SELECT cum.g, cum.ng, n.n - cum.ng AS nr,
               abs(CAST(cumg AS DECIMAL(38,0)) * (n.n - cum.ng)
                 - CAST(cumv - cumg AS DECIMAL(38,0)) * cum.ng) AS num
             FROM cum CROSS JOIN n)
      SELECT g AS source, MIN(ng) AS n_group,
        CAST(MIN(nr) AS BIGINT) AS n_rest,
        CASE WHEN MIN(nr) = 0 THEN 0
          ELSE CAST(floor(1000000.0 * CAST(MAX(num) AS DOUBLE)
            / (CAST(MIN(ng) AS DOUBLE) * CAST(MIN(nr) AS DOUBLE)))
            AS BIGINT) END AS ks_q
      FROM sc GROUP BY g ORDER BY source"""))

  /** Shared margin-pairs oracle (q176 brute arm, q335 IVF arm at
    * exact-recall nprobe = nClusters — both must land on the
    * brute-force answer bit-for-bit, the q41 contract).
    */
  private val MarginOracleSql = """
      WITH a AS (SELECT vec_id, embedding AS v FROM embeddings
                 WHERE label % 2 = 0),
      b AS (SELECT vec_id, embedding AS v FROM embeddings
            WHERE label % 2 = 1),
      ab AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          list_sum(list_transform(range(1, len(a.v) + 1),
            i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
               i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))), 0)
            AS cos
        FROM a CROSS JOIN b),
      rka AS (SELECT a_id, b_id, cos, row_number() OVER (PARTITION BY a_id
                ORDER BY cos DESC, b_id ASC) AS rn FROM ab),
      rkb AS (SELECT b_id, a_id, cos, row_number() OVER (PARTITION BY b_id
                ORDER BY cos DESC, a_id ASC) AS rn FROM ab),
      sa AS (SELECT a_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM rka WHERE rn <= 4 GROUP BY a_id),
      sb AS (SELECT b_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM rkb WHERE rn <= 4 GROUP BY b_id),
      cand AS (SELECT rka.a_id, rka.b_id, rka.cos, sa.s AS sa, sb.s AS sb
        FROM rka JOIN sa USING (a_id) JOIN sb USING (b_id)
        WHERE rka.rn <= 4),
      m AS (SELECT a_id, b_id,
          CAST(floor(1000000.0 * (cos / (sa / 8.0 + sb / 8.0)))
            AS BIGINT) AS margin_q
        FROM cand WHERE (sa / 8.0 + sb / 8.0) > 0 AND cos IS NOT NULL),
      best AS (SELECT a_id, b_id, margin_q,
          row_number() OVER (PARTITION BY a_id
            ORDER BY margin_q DESC, b_id ASC) AS rn FROM m)
      SELECT a_id, b_id, margin_q FROM best
      WHERE rn = 1 AND margin_q >= 1000000
      ORDER BY a_id"""

  /** (q176) Margin-based cross-corpus pair mining (Similarity
    * .marginPairs scaladoc): best even-label ↔ odd-label embedding
    * pairs by the CCMatrix ratio margin, k = 4, margin ≥ 1.0; the
    * oracle replays the rank-ordered k-term sums and the single
    * margin division in the same fp order.
    */
  val q176MarginPairs = Q(
    "q176_ann_margin_pairs",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginPairs(
        emb.filter(col("label") % 2 === 0),
        emb.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, minMarginQ = 1000000L)
        .orderBy("a_id")
    },
    Some(MarginOracleSql))

  /** (q335) The same margin mining through the IVF candidate arm —
    * the SCALE path (centroid build, cluster assignment, probe
    * routing, per-cluster scoring) exercised end-to-end at the gate.
    * nprobe = nClusters is the q41 exact-recall contract: every
    * cluster is probed, so the IVF machinery must reproduce the brute
    * crossTopK answer bit-for-bit and the q176 oracle applies
    * verbatim. The approximate regime (nprobe < nClusters) is
    * spec-covered (SimilarityAndSkewSpec recall floor).
    */
  val q335MarginPairsIvf = Q(
    "q335_ann_margin_pairs_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginPairs(
        emb.filter(col("label") % 2 === 0),
        emb.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, minMarginQ = 1000000L,
        topK = (q, c, id, v, kk) =>
          Similarity.ivfTopK(q, c, id, v, kk, nClusters = 8, nprobe = 8))
        .orderBy("a_id")
    },
    Some(MarginOracleSql))

  /** (q345) Margin mining in the APPROXIMATE IVF regime (nprobe 3 of
    * 8 — the production setting, vs q335's exact-recall nprobe =
    * nClusters), audited against the brute arm with the measured
    * recall itself hash-checked (the q107 pattern lifted to the
    * margin-pairs path): the oracle replays the whole IVF machinery —
    * first-8-by-id centroids per corpus side, nearest-centroid
    * assignment, top-3 probe routing, within-cluster exact cosine,
    * rank-ordered k-sums, the margin division — in SQL for BOTH
    * directions, plus the q176 brute algebra, and compares the two
    * best-pair sets. Output is one row: pair counts from each arm,
    * exact-pair hits, and ⌊10⁶·recall⌋.
    */
  val q345IvfMarginRecall = Q(
    "q345_ann_ivf_margin_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // query side subsampled 4x: the recall contract needs a QUERY
      // SAMPLE, not the full query set, and the oracle's double-sided
      // IVF replay at the 10x point must fit the box's spill budget
      val a = emb.filter(col("label") % 2 === 0 && col("vec_id") % 4 === 0)
      val b = emb.filter(col("label") % 2 === 1)
      // each arm is referenced twice (the hit join and its own count);
      // checkpoint so the double-sided margin pipelines run once each
      // (r12: the unmaterialized plan re-ran both arms — 8 corpus scans)
      val brute = Similarity.marginPairs(a, b, "vec_id", "embedding",
        k = 4, minMarginQ = 1000000L).mat
      val ivf = Similarity.marginPairs(a, b, "vec_id", "embedding",
        k = 4, minMarginQ = 1000000L,
        topK = (qq, cc, id, v, kk) =>
          Similarity.ivfTopK(qq, cc, id, v, kk, nClusters = 8, nprobe = 3))
        .mat
      val hits = brute.select(col("a_id"), col("b_id"))
        .join(ivf.select(col("a_id"), col("b_id")), Seq("a_id", "b_id"))
      brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(ivf.agg(count(lit(1)).as("n_ivf")))
        .crossJoin(hits.agg(count(lit(1)).as("n_pair_hits")))
        .select(col("n_brute"), col("n_ivf"), col("n_pair_hits"),
          when(col("n_brute") > 0,
            floor(lit(1000000.0) * col("n_pair_hits").cast("double") /
              col("n_brute").cast("double")).cast("long"))
            .as("recall_q"))
    },
    Some("""
      WITH ea AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
             FROM embeddings WHERE label % 2 = 0 AND vec_id % 4 = 0),
      eb AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
             FROM embeddings WHERE label % 2 = 1),
      -- MATERIALIZED + the KnnCte two-pass bucket prune on every rank
      -- stage (the 10x treatment): ab is read 4x downstream, and the
      -- top-4 windows only need the rows at or above each key's
      -- 4th-best coarse bucket. Downstream consumes rn <= 4 only, and
      -- the prune keeps a superset of those rows with their order
      -- intact, so the result is value-identical.
      -- NOT MATERIALIZED (explicit hint): DuckDB auto-materializes any
      -- CTE referenced more than once, and at 10x the 100M-pair frame
      -- (plus the routed subsets) spilled past the box's disk; the
      -- hint makes each reference stream its own ea x eb scan through
      -- the native list_dot_product kernel instead
      ab AS NOT MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(a.e, b.e) / NULLIF(a.nrm * b.nrm, 0) AS cos
             FROM ea a CROSS JOIN eb b),
      tha AS (SELECT a_id, max(b) AS tb FROM (
               SELECT a_id, b,
                 sum(cnt) OVER (PARTITION BY a_id ORDER BY b DESC) AS cum
               FROM (SELECT a_id, CAST(floor(100 * cos) AS INT) AS b,
                       count(*) AS cnt
                     FROM ab WHERE cos IS NOT NULL GROUP BY 1, 2))
             WHERE cum >= 4 GROUP BY a_id),
      thb AS (SELECT b_id, max(b) AS tb FROM (
               SELECT b_id, b,
                 sum(cnt) OVER (PARTITION BY b_id ORDER BY b DESC) AS cum
               FROM (SELECT b_id, CAST(floor(100 * cos) AS INT) AS b,
                       count(*) AS cnt
                     FROM ab WHERE cos IS NOT NULL GROUP BY 1, 2))
             WHERE cum >= 4 GROUP BY b_id),
      rka AS (SELECT a_id, b_id, cos, row_number() OVER (PARTITION BY a_id
                ORDER BY cos DESC NULLS LAST, b_id ASC) AS rn
              FROM ab LEFT JOIN tha USING (a_id)
              WHERE ab.cos IS NOT NULL
                AND (tb IS NULL OR floor(100 * ab.cos) >= tb)),
      rkb AS (SELECT b_id, a_id, cos, row_number() OVER (PARTITION BY b_id
                ORDER BY cos DESC NULLS LAST, a_id ASC) AS rn
              FROM ab LEFT JOIN thb USING (b_id)
              WHERE ab.cos IS NOT NULL
                AND (tb IS NULL OR floor(100 * ab.cos) >= tb)),
      sa AS (SELECT a_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM rka WHERE rn <= 4 GROUP BY a_id),
      sb AS (SELECT b_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM rkb WHERE rn <= 4 GROUP BY b_id),
      cand AS (SELECT rka.a_id, rka.b_id, rka.cos, sa.s AS sa, sb.s AS sb
        FROM rka JOIN sa USING (a_id) JOIN sb USING (b_id)
        WHERE rka.rn <= 4),
      m AS (SELECT a_id, b_id,
          CAST(floor(1000000.0 * (cos / (sa / 8.0 + sb / 8.0)))
            AS BIGINT) AS margin_q
        FROM cand WHERE (sa / 8.0 + sb / 8.0) > 0 AND cos IS NOT NULL),
      best AS (SELECT a_id, b_id, margin_q,
          row_number() OVER (PARTITION BY a_id
            ORDER BY margin_q DESC, b_id ASC) AS rn FROM m),
      bp AS (SELECT a_id, b_id FROM best
             WHERE rn = 1 AND margin_q >= 1000000),
      cb AS (SELECT vec_id AS cid, e AS centroid, nrm AS cnrm FROM eb
             ORDER BY vec_id LIMIT 8),
      ca AS (SELECT vec_id AS cid, e AS centroid, nrm AS cnrm FROM ea
             ORDER BY vec_id LIMIT 8),
      asgb AS (SELECT b_id, cluster FROM (
                 SELECT v.vec_id AS b_id, c.cid AS cluster,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.e, c.centroid)
                       / NULLIF(v.nrm * c.cnrm, 0) DESC NULLS LAST,
                       c.cid ASC) AS rn
                 FROM eb v CROSS JOIN cb c) WHERE rn = 1),
      asga AS (SELECT a_id, cluster FROM (
                 SELECT v.vec_id AS a_id, c.cid AS cluster,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.e, c.centroid)
                       / NULLIF(v.nrm * c.cnrm, 0) DESC NULLS LAST,
                       c.cid ASC) AS rn
                 FROM ea v CROSS JOIN ca c) WHERE rn = 1),
      pra AS (SELECT a_id, cluster FROM (
                SELECT q.vec_id AS a_id, c.cid AS cluster,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_dot_product(q.e, c.centroid)
                      / NULLIF(q.nrm * c.cnrm, 0) DESC NULLS LAST,
                      c.cid ASC) AS rn
                FROM ea q CROSS JOIN cb c) WHERE rn <= 3),
      prb AS (SELECT b_id, cluster FROM (
                SELECT q.vec_id AS b_id, c.cid AS cluster,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_dot_product(q.e, c.centroid)
                      / NULLIF(q.nrm * c.cnrm, 0) DESC NULLS LAST,
                      c.cid ASC) AS rn
                FROM eb q CROSS JOIN ca c) WHERE rn <= 3),
      -- routed-first candidate build, everything NOT MATERIALIZED:
      -- joining the routing tables onto the all-pairs frame let the
      -- optimizer materialize a vector-carrying 100M-row intermediate
      -- (~70G of spill at 10x), and even narrow 37M-row MATERIALIZED
      -- CTEs hold ~12G of statement-lifetime temp each in DuckDB 1.0
      -- — stacked, they blow the disk. Inlined, each consumer streams
      -- its own routed scan (~110 s at 10x) and the pipeline temp is
      -- released as soon as the pipeline ends.
      ipra AS NOT MATERIALIZED (SELECT p.a_id, v.b_id
             FROM pra p JOIN asgb v ON v.cluster = p.cluster),
      iprb AS NOT MATERIALIZED (SELECT a.a_id, p.b_id
             FROM prb p JOIN asga a ON a.cluster = p.cluster),
      iab AS NOT MATERIALIZED (SELECT i.a_id, i.b_id,
               list_dot_product(qa.e, vb.e)
                 / NULLIF(qa.nrm * vb.nrm, 0) AS cos
             FROM ipra i JOIN ea qa ON qa.vec_id = i.a_id
             JOIN eb vb ON vb.vec_id = i.b_id),
      iba AS NOT MATERIALIZED (SELECT i.a_id, i.b_id,
               list_dot_product(va.e, qb.e)
                 / NULLIF(va.nrm * qb.nrm, 0) AS cos
             FROM iprb i JOIN ea va ON va.vec_id = i.a_id
             JOIN eb qb ON qb.vec_id = i.b_id),
      -- single-pass grouped top-4 (replaces the two-pass bucket prune
      -- + window): each key's candidates fold into ONE list aggregate,
      -- sorted and sliced to 4 — iab/iba are referenced exactly once,
      -- so they inline and stream, and nothing big ever lands in
      -- statement-lifetime temp. Tie-break matches the window form
      -- exactly: struct(cos, -b_id) DESC = cos DESC, b_id ASC
      -- (integer negation is exact).
      irka AS (SELECT a_id, -(s.nb) AS b_id, s.c AS cos,
                 CAST(row_number() OVER (PARTITION BY a_id
                   ORDER BY s.c DESC, -(s.nb) ASC) AS BIGINT) AS rn
               FROM (SELECT a_id,
                       unnest(list_slice(list_sort(
                         list(struct_pack(c := cos, nb := -b_id)),
                         'DESC'), 1, 4)) AS s
                     FROM iab WHERE cos IS NOT NULL GROUP BY a_id)),
      irkb AS (SELECT b_id, -(s.na) AS a_id, s.c AS cos,
                 CAST(row_number() OVER (PARTITION BY b_id
                   ORDER BY s.c DESC, -(s.na) ASC) AS BIGINT) AS rn
               FROM (SELECT b_id,
                       unnest(list_slice(list_sort(
                         list(struct_pack(c := cos, na := -a_id)),
                         'DESC'), 1, 4)) AS s
                     FROM iba WHERE cos IS NOT NULL GROUP BY b_id)),
      isa AS (SELECT a_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM irka WHERE rn <= 4 GROUP BY a_id),
      isb AS (SELECT b_id,
          coalesce(MAX(CASE WHEN rn = 1 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 2 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 3 THEN cos END), 0)
          + coalesce(MAX(CASE WHEN rn = 4 THEN cos END), 0) AS s
        FROM irkb WHERE rn <= 4 GROUP BY b_id),
      icand AS (SELECT irka.a_id, irka.b_id, irka.cos,
                  isa.s AS sa, isb.s AS sb
        FROM irka JOIN isa USING (a_id) JOIN isb USING (b_id)
        WHERE irka.rn <= 4),
      im AS (SELECT a_id, b_id,
          CAST(floor(1000000.0 * (cos / (sa / 8.0 + sb / 8.0)))
            AS BIGINT) AS margin_q
        FROM icand WHERE (sa / 8.0 + sb / 8.0) > 0 AND cos IS NOT NULL),
      ibest AS (SELECT a_id, b_id, margin_q,
          row_number() OVER (PARTITION BY a_id
            ORDER BY margin_q DESC, b_id ASC) AS rn FROM im),
      ip AS (SELECT a_id, b_id FROM ibest
             WHERE rn = 1 AND margin_q >= 1000000),
      h AS (SELECT CAST(count(*) AS BIGINT) AS n_pair_hits
            FROM bp JOIN ip USING (a_id, b_id))
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM bp) AS n_brute,
        (SELECT CAST(count(*) AS BIGINT) FROM ip) AS n_ivf,
        h.n_pair_hits,
        CASE WHEN (SELECT count(*) FROM bp) > 0 THEN
          CAST(floor(1000000.0 * CAST(h.n_pair_hits AS DOUBLE)
            / CAST((SELECT count(*) FROM bp) AS DOUBLE)) AS BIGINT)
        END AS recall_q
      FROM h"""))

  /** (q177) Rank-biased overlap by depth (Eval.rboByDepth scaladoc):
    * RBO terms (p = 1/2, k = 8) between the per-source length ranking
    * and token-count ranking — exact 2^(−d) weights, no pow().
    */
  val q177Rbo = Q(
    "q177_ret_rbo",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tk = d.select(col("source"), col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      val wa = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val wb = Window.partitionBy(col("source"))
        .orderBy(col("n_tok").desc, col("doc_id"))
      val a = d.select(col("source").as("query_id"),
        col("doc_id").as("item"), row_number().over(wa).as("rank"))
      val b = tk.select(col("source").as("query_id"),
        col("doc_id").as("item"), row_number().over(wb).as("rank"))
      operators.Eval.rboByDepth(a, b, k = 8)
        .orderBy("query_id", "depth")
    },
    Some("""
      WITH tk AS (SELECT doc_id, source,
          CAST(len(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tok
        FROM documents),
      ra AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank FROM documents),
      rb AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
               ORDER BY n_tok DESC, doc_id) AS rank FROM tk),
      e AS (SELECT ra.source, greatest(ra.rank, rb.rank) AS entry
            FROM ra JOIN rb
              ON ra.source = rb.source AND ra.doc_id = rb.doc_id
            WHERE ra.rank <= 8 AND rb.rank <= 8),
      dep AS (SELECT source, CAST(r.i AS BIGINT) AS depth
              FROM (SELECT DISTINCT source FROM documents) d,
                LATERAL unnest(range(1, 9)) r(i)),
      ov AS (SELECT dep.source, dep.depth,
               CAST((SELECT count(*) FROM e WHERE e.source = dep.source
                 AND e.entry <= dep.depth) AS BIGINT) AS overlap
             FROM dep)
      SELECT source AS query_id, depth, overlap,
        CAST(floor(1000000000.0 * CAST(overlap AS DOUBLE)
          / CAST(depth AS DOUBLE)
          / CAST((1::BIGINT << depth) AS DOUBLE)) AS BIGINT) AS rbo_term_q
      FROM ov ORDER BY query_id, depth"""))

  /** (q178) Leave-one-source-out influence (Robust.looInfluence
    * scaladoc): corpus mean n_chars without each source, from one
    * aggregate plus algebra — the N-ablations-for-one-scan signal.
    */
  val q178LooInfluence = Q(
    "q178_s_loo_influence",
    (s, dir) =>
      operators.Robust.looInfluence(t(s, dir, "documents"), "source",
        "n_chars").orderBy("source"),
    Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group,
               CAST(sum(n_chars) AS BIGINT) AS sg
             FROM documents GROUP BY source),
      t AS (SELECT CAST(sum(n_group) AS BIGINT) AS n,
              CAST(sum(sg) AS BIGINT) AS s FROM g)
      SELECT g.source, g.n_group,
        CAST(floor(1000000.0 * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
          AS BIGINT) AS mean_all_q,
        CASE WHEN t.n = g.n_group THEN NULL
          ELSE CAST(floor(1000000.0 * CAST(t.s - g.sg AS DOUBLE)
            / CAST(t.n - g.n_group AS DOUBLE)) AS BIGINT)
          END AS mean_without_q,
        CASE WHEN t.n = g.n_group THEN NULL
          ELSE CAST(floor(1000000.0 * CAST(t.s - g.sg AS DOUBLE)
              / CAST(t.n - g.n_group AS DOUBLE)) AS BIGINT)
            - CAST(floor(1000000.0 * CAST(t.s AS DOUBLE)
              / CAST(t.n AS DOUBLE)) AS BIGINT)
          END AS delta_q
      FROM g CROSS JOIN t ORDER BY source"""))

  /** (q179) Regular-grid resampling with LOCF + linear interpolation
    * (TimeAgg.gridResample scaladoc): per-user daily feature grid from
    * the irregular event stream — one union + one per-key window sort
    * for both fill rules; the oracle replays the same union/window
    * construction with IGNORE NULLS frames.
    */
  val q179GridResample = Q(
    "q179_a_grid_resample",
    (s, dir) => {
      val e = ev(s, dir)
        .withColumn("value_q",
          floor(col("value") * lit(1000000.0)).cast("long"))
      operators.TimeAgg.gridResample(e, "user_id", "ts_us", "value_q",
        stepMicros = 86400000000L, tieCol = "event_id")
        .orderBy("user_id", "grid_ts")
    },
    Some(s"""
      WITH o0 AS (SELECT user_id, $EvUs AS ts,
               CAST(floor(value * 1000000.0) AS BIGINT) AS v, event_id
             FROM events),
      o AS (SELECT user_id, ts, v FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, ts
                ORDER BY event_id DESC) AS rn FROM o0)
            WHERE rn = 1),
      span AS (SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM o
               GROUP BY user_id),
      grid AS (SELECT user_id, CAST(g.g AS BIGINT) AS ts
               FROM span, LATERAL unnest(range(
                 ((lo + 86399999999) // 86400000000) * 86400000000,
                 (hi // 86400000000) * 86400000000 + 1,
                 86400000000)) g(g)),
      u AS (SELECT user_id, ts, v, 0 AS tag FROM o
            UNION ALL SELECT user_id, ts, NULL, 1 FROM grid),
      f AS (SELECT *,
              last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
                OVER w AS t0,
              last_value(CASE WHEN tag = 0 THEN v END IGNORE NULLS)
                OVER w AS v0,
              first_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
                OVER w2 AS t1,
              first_value(CASE WHEN tag = 0 THEN v END IGNORE NULLS)
                OVER w2 AS v1
            FROM u
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              w2 AS (PARTITION BY user_id ORDER BY ts, tag
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, ts AS grid_ts, v0 AS locf_q,
        CASE WHEN t1 IS NULL OR t1 = t0 THEN v0
          ELSE CAST(floor(CAST(v0 AS DOUBLE) + CAST(v1 - v0 AS DOUBLE)
            * (CAST(ts - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)))
            AS BIGINT) END AS lin_q
      FROM f WHERE tag = 1 ORDER BY user_id, grid_ts"""))

  /** (q180) One-sided CUSUM shift detection (TimeAgg.cusumShift
    * scaladoc): hourly per-type event counts, densified to zero-count
    * buckets, drift k = 3, alarm h = 20 — the recurrence computed as
    * the prefix-sum drawup (two integer windows), not a sequential
    * scan.
    */
  val q180Cusum = Q(
    "q180_a_cusum_shift",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.cusumShift(dense, "event_type", "bucket", "x",
        k = 3L, h = 20L)
        .orderBy("event_type", "bucket")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      p AS (SELECT event_type, bucket, x,
              CAST(sum(x - 3) OVER (PARTITION BY event_type
                ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS p
            FROM dense),
      c AS (SELECT event_type, bucket, x, p,
              least(CAST(min(p) OVER (PARTITION BY event_type
                ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT), 0) AS mp
            FROM p)
      SELECT event_type, bucket, x, p - mp AS cusum,
        (p - mp) >= 20 AS alarm
      FROM c ORDER BY event_type, bucket"""))

  /** (q181) Z-order (Morton) layout key (Layout.zOrderKey scaladoc):
    * 8-bit interleave of (user_id mod 256, day mod 256) — the
    * multi-dimension file-skipping sort key, pure bit arithmetic
    * mirrored term-for-term in the oracle.
    */
  val q181ZOrder = Q(
    "q181_s_zorder_key",
    (s, dir) => {
      val e = ev(s, dir)
      val zk = operators.Layout.zOrderKey(Seq(
        pmod(col("user_id"), lit(256L)),
        pmod(expr("ts_us div 86400000000L"), lit(256L))), bits = 8)
      e.select(col("event_id"), zk.as("zkey")).orderBy("event_id")
    },
    Some {
      val chain = (for {
        (c, ci) <- Seq("u", "d").zipWithIndex
        i <- 0 until 8
      } yield s"((($c >> $i) & 1) << ${i * 2 + ci})").mkString(" | ")
      s"""
      WITH b AS (SELECT event_id, user_id % 256 AS u,
               ($EvUs // 86400000000) % 256 AS d
             FROM events)
      SELECT event_id, CAST($chain AS BIGINT) AS zkey
      FROM b ORDER BY event_id"""
    })

  /** (q182) EXACT set-similarity self-join via prefix filtering
    * (Dedup.prefixJaccard scaladoc): every 4-gram-Jaccard ≥ 0.5 pair
    * with no LSH miss and no df-cap truncation — the oracle replays
    * the prefix selection and the count-based verify; its result was
    * cross-checked equal to the full quadratic list-intersect join.
    */
  val q182PrefixJoin = Q(
    "q182_dd_prefix_jaccard",
    (s, dir) =>
      Dedup.prefixJaccard(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 4, threshold = 0.5)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH sh AS (SELECT doc_id AS id, unnest(list_distinct(list_transform(
              range(1, greatest(len(regexp_split_to_array(lower(trim(text)),
                '\s+')) - 3, 0) + 1),
              i -> array_to_string(regexp_split_to_array(lower(trim(text)),
                '\s+')[i:i+3], ' ')))) AS tok
            FROM documents),
      dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfr FROM sh
              GROUP BY tok),
      sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
      rk AS (SELECT sh.id, sh.tok, row_number() OVER (PARTITION BY sh.id
               ORDER BY dfr.dfr, sh.tok) AS pos, sz.n
             FROM sh JOIN dfr USING (tok) JOIN sz USING (id)),
      pref AS (SELECT id, tok FROM rk WHERE pos <= n - ceil(0.5 * n) + 1),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
               FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id),
      inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i
                FROM cand c JOIN sh x ON x.id = c.id_a
                  JOIN sh y ON y.id = c.id_b AND y.tok = x.tok
                GROUP BY c.id_a, c.id_b),
      j AS (SELECT inter.id_a, inter.id_b,
              CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
            FROM inter JOIN sz na ON na.id = inter.id_a
              JOIN sz nb ON nb.id = inter.id_b)
      SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
      ORDER BY id_a, id_b"""))

  /** (q183) SCD Type-2 intervalization (MergeOps.scd2 scaladoc): each
    * user's event stream becomes versioned validity intervals
    * [valid_from, valid_to) over the quantized value, open row flagged
    * current — one per-key window pass.
    */
  val q183Scd2 = Q(
    "q183_t_scd2_intervals",
    (s, dir) => {
      val e = ev(s, dir)
        .withColumn("value_q",
          floor(col("value") * lit(1000000.0)).cast("long"))
        .select(col("user_id"), col("ts_us"), col("value_q"),
          col("event_id"))
      operators.MergeOps.scd2(e, Seq("user_id"), "ts_us", "event_id")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("value_q"), col("is_current"))
        .orderBy("user_id", "valid_from")
    },
    Some(s"""
      WITH o0 AS (SELECT user_id, $EvUs AS ts,
               CAST(floor(value * 1000000.0) AS BIGINT) AS value_q,
               event_id
             FROM events),
      o AS (SELECT user_id, ts, value_q FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, ts
                ORDER BY event_id DESC) AS rn FROM o0)
            WHERE rn = 1)
      SELECT user_id, ts AS valid_from,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        value_q,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          AS is_current
      FROM o ORDER BY user_id, valid_from"""))

  /** (q184) MMR diversity re-ranking (Similarity.mmrRerank scaladoc):
    * greedy λ=1/2 selection of 3 from each query's top-6, penalized by
    * max similarity to the already-selected — the oracle unrolls the
    * 3 greedy rounds explicitly.
    */
  val q184Mmr = Q(
    "q184_ann_mmr_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
        m = 6, k = 3)
        .orderBy("query_id", "step")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv
            FROM embeddings WHERE vec_id >= 10),
      sc AS (SELECT query_id, neighbor_id,
          list_sum(list_transform(range(1, len(qv) + 1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 0)
            AS cos
        FROM q CROSS JOIN c),
      cand AS (SELECT query_id, neighbor_id, cos FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS rn FROM sc)
               WHERE rn <= 6),
      ps AS (SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
          list_sum(list_transform(range(1, len(x.embedding) + 1),
            i -> CAST(x.embedding[i] AS DOUBLE)
               * CAST(y.embedding[i] AS DOUBLE)))
          / NULLIF(sqrt(list_sum(list_transform(range(1, len(x.embedding) + 1),
               i -> CAST(x.embedding[i] AS DOUBLE)
                  * CAST(x.embedding[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(y.embedding) + 1),
               i -> CAST(y.embedding[i] AS DOUBLE)
                  * CAST(y.embedding[i] AS DOUBLE)))), 0) AS sim
        FROM cand a JOIN cand b ON a.query_id = b.query_id
            AND a.neighbor_id <> b.neighbor_id
          JOIN embeddings x ON x.vec_id = a.neighbor_id
          JOIN embeddings y ON y.vec_id = b.neighbor_id),
      s1 AS (SELECT query_id, neighbor_id, score FROM (
               SELECT query_id, neighbor_id, 0.5 * cos AS score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY (0.5 * cos) DESC, neighbor_id ASC) AS rn
               FROM cand) WHERE rn = 1),
      r2 AS (SELECT c.* FROM cand c LEFT JOIN s1
               ON s1.query_id = c.query_id
                 AND s1.neighbor_id = c.neighbor_id
             WHERE s1.neighbor_id IS NULL),
      p2 AS (SELECT ps.query_id, ps.ia AS neighbor_id,
               max(ps.sim) AS maxsim
             FROM ps JOIN s1 ON s1.query_id = ps.query_id
               AND s1.neighbor_id = ps.ib
             GROUP BY 1, 2),
      sc2 AS (SELECT r2.query_id, r2.neighbor_id,
                0.5 * r2.cos - 0.5 * coalesce(p2.maxsim, 0) AS score
              FROM r2 LEFT JOIN p2 USING (query_id, neighbor_id)),
      s2 AS (SELECT query_id, neighbor_id, score FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rn FROM sc2)
             WHERE rn = 1),
      sel2 AS (SELECT query_id, neighbor_id FROM s1
               UNION ALL SELECT query_id, neighbor_id FROM s2),
      r3 AS (SELECT c.* FROM cand c LEFT JOIN sel2
               ON sel2.query_id = c.query_id
                 AND sel2.neighbor_id = c.neighbor_id
             WHERE sel2.neighbor_id IS NULL),
      p3 AS (SELECT ps.query_id, ps.ia AS neighbor_id,
               max(ps.sim) AS maxsim
             FROM ps JOIN sel2 ON sel2.query_id = ps.query_id
               AND sel2.neighbor_id = ps.ib
             GROUP BY 1, 2),
      sc3 AS (SELECT r3.query_id, r3.neighbor_id,
                0.5 * r3.cos - 0.5 * coalesce(p3.maxsim, 0) AS score
              FROM r3 LEFT JOIN p3 USING (query_id, neighbor_id)),
      s3 AS (SELECT query_id, neighbor_id, score FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rn FROM sc3)
             WHERE rn = 1)
      SELECT query_id, CAST(1 AS INT) AS step, neighbor_id,
        CAST(floor(1000000.0 * score) AS BIGINT) AS score_q FROM s1
      UNION ALL
      SELECT query_id, 2, neighbor_id,
        CAST(floor(1000000.0 * score) AS BIGINT) FROM s2
      UNION ALL
      SELECT query_id, 3, neighbor_id,
        CAST(floor(1000000.0 * score) AS BIGINT) FROM s3
      ORDER BY query_id, step"""))

  /** Shared oracle fragment for q185/q186: the directed 5-NN graph
    * over embeddings (q28's cosine formula + rank).
    */
  /** All-pairs cosine + top-5 as a shared oracle fragment. The q05
    * treatment for the 10× scale point, two fixes:
    * (1) norms precompute ONCE per vector and the per-pair kernel is
    * DuckDB's native `list_dot_product` — verified BITWISE-identical
    * to the sequential `list_sum(list_transform(range…))` lambda on
    * every sf0.1 pair (zero diff rows over 4M pairs); the scoring
    * stage drops to 1.9 s at sf1.
    * (2) the top-5 rank runs a two-pass bucket prune (the engine's
    * exactRanks trick): coarse ⌊100·cos⌋ counts find each query's
    * 5th-best bucket, the row_number window then sorts only the
    * ~bucket-sized survivors instead of all N−1 neighbors — 318 s →
    * 9.8 s at sf1 (20k vectors / 400M pairs), output verified
    * row-identical to the plain window at sf0.1. `knn` is
    * MATERIALIZED so multi-reference oracles compute it once.
    */
  private val KnnCte = """
      nv AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          sqrt(list_dot_product(
            list_transform(embedding, x -> CAST(x AS DOUBLE)),
            list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings),
      sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_dot_product(q.e, c.e) / NULLIF(q.nrm * c.nrm, 0) AS cos
        FROM nv q JOIN nv c ON q.vec_id <> c.vec_id),
      th AS (SELECT query_id, max(b) AS tb FROM (
               SELECT query_id, b,
                 sum(cnt) OVER (PARTITION BY query_id ORDER BY b DESC)
                   AS cum
               FROM (SELECT query_id, CAST(floor(100 * cos) AS INT) AS b,
                       count(*) AS cnt
                     FROM sc WHERE cos IS NOT NULL GROUP BY 1, 2))
             WHERE cum >= 5 GROUP BY query_id),
      knn AS MATERIALIZED (SELECT query_id, neighbor_id, cos FROM (
              SELECT sc.query_id, sc.neighbor_id, sc.cos,
                row_number() OVER (PARTITION BY sc.query_id
                  ORDER BY sc.cos DESC, sc.neighbor_id ASC) AS rn
              FROM sc LEFT JOIN th USING (query_id)
              WHERE sc.cos IS NOT NULL
                AND (th.tb IS NULL OR floor(100 * sc.cos) >= th.tb))
            WHERE rn <= 5)"""

  /** (q185) Bounded-round label propagation (Graph.labelPropagate
    * scaladoc): 20 % seeded labels spread over the directed 5-NN graph
    * in 2 majority-vote rounds; the oracle unrolls both rounds.
    */
  val q185LabelProp = Q(
    "q185_ml_label_propagation",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.labelPropagate(
        knn.select(col("query_id"), col("neighbor_id")),
        emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("label")),
        "vec_id", "label", rounds = 2)
        .orderBy("vec_id")
    },
    Some(s"""
      WITH $KnnCte,
      seed AS (SELECT vec_id AS v, label, 0 AS round_assigned
               FROM embeddings WHERE vec_id % 5 = 0),
      v1 AS (SELECT k.query_id AS v, s.label, CAST(count(*) AS BIGINT) AS c
             FROM knn k JOIN seed s ON s.v = k.neighbor_id
             WHERE k.query_id NOT IN (SELECT v FROM seed)
             GROUP BY 1, 2),
      r1 AS (SELECT v, label, 1 AS round_assigned FROM (
               SELECT *, row_number() OVER (PARTITION BY v
                 ORDER BY c DESC, label ASC) AS rn FROM v1)
             WHERE rn = 1),
      l1 AS (SELECT v, label, round_assigned FROM seed
             UNION ALL SELECT v, label, round_assigned FROM r1),
      v2 AS (SELECT k.query_id AS v, l.label, CAST(count(*) AS BIGINT) AS c
             FROM knn k JOIN l1 l ON l.v = k.neighbor_id
             WHERE k.query_id NOT IN (SELECT v FROM l1)
             GROUP BY 1, 2),
      r2 AS (SELECT v, label, 2 AS round_assigned FROM (
               SELECT *, row_number() OVER (PARTITION BY v
                 ORDER BY c DESC, label ASC) AS rn FROM v2)
             WHERE rn = 1)
      SELECT v AS vec_id, label, round_assigned FROM l1
      UNION ALL SELECT v, label, round_assigned FROM r2
      ORDER BY vec_id"""))

  /** (q186) Mutual-kNN triangle stats (Graph.triangleStats scaladoc):
    * symmetrized 5-NN edges → ordered-triple triangle enumeration →
    * per-vertex counts and ⌊10⁶·local clustering coefficient⌋.
    */
  val q186Triangles = Q(
    "q186_g_triangle_stats",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.triangleStats(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))))
        .orderBy("id")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM mut UNION ALL SELECT b FROM mut)
              GROUP BY id),
      wed AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM mut e1 JOIN mut e2 ON e1.a = e2.a AND e1.b < e2.b),
      tri AS (SELECT x, y, z FROM wed
              WHERE EXISTS (SELECT 1 FROM mut m
                  WHERE m.a = wed.y AND m.b = wed.z)),
      pv AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
               SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
             GROUP BY id)
      SELECT deg.id, deg.degree, coalesce(pv.triangles, 0) AS triangles,
        CASE WHEN deg.degree >= 2 THEN
          CAST(floor(1000000.0 * CAST(2 * coalesce(pv.triangles, 0)
              AS DOUBLE)
            / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)) AS BIGINT)
        ELSE 0 END AS clustering_q
      FROM deg LEFT JOIN pv USING (id) ORDER BY id"""))

  /** (q187) Quantized-grid dimension covariance (Stats.dimCovariance
    * scaladoc): the dead/duplicated/linearly-tied embedding-dimension
    * audit over the first 6 dims, exact integer sums.
    */
  val q187DimCov = Q(
    "q187_ml_dim_covariance",
    (s, dir) =>
      operators.Stats.dimCovariance(t(s, dir, "embeddings"), "embedding",
        dims = 6).orderBy("dj", "dk"),
    Some("""
      WITH p AS (SELECT j.j, k.k
             FROM (SELECT unnest(range(1, 7)) AS j) j,
                  (SELECT unnest(range(1, 7)) AS k) k
             WHERE k.k >= j.j),
      pr AS (SELECT p.j AS dj, p.k AS dk,
               CAST(floor(1000000.0 * CAST(e.embedding[p.j] AS DOUBLE)
                 * CAST(e.embedding[p.k] AS DOUBLE)) AS BIGINT) AS pq
             FROM embeddings e CROSS JOIN p
             WHERE len(e.embedding) >= 6),
      ag AS (SELECT dj, dk, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pq) AS DECIMAL(38,0)) AS sxy
             FROM pr GROUP BY 1, 2),
      dm AS (SELECT d.d,
               CAST(sum(CAST(floor(1000000.0
                 * CAST(e.embedding[d.d] AS DOUBLE)) AS BIGINT))
                 AS DECIMAL(38,0)) AS sx
             FROM embeddings e
               CROSS JOIN (SELECT unnest(range(1, 7)) AS d) d
             WHERE len(e.embedding) >= 6 GROUP BY 1)
      SELECT CAST(ag.dj AS INTEGER) AS dj, CAST(ag.dk AS INTEGER) AS dk,
        ag.n,
        CAST(floor(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(sj.sx AS DOUBLE) * CAST(sk.sx AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0))
          AS BIGINT) AS cov_q
      FROM ag JOIN dm sj ON sj.d = ag.dj JOIN dm sk ON sk.d = ag.dk
      ORDER BY dj, dk"""))

  /** (q188) Per-source Pearson correlation (Stats.pearson scaladoc)
    * between document length and token count — five exact decimal
    * sums, two sqrts per group.
    */
  val q188Pearson = Q(
    "q188_a_pearson_corr",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      operators.Stats.pearson(d, "source", "n_chars", "n_tok")
        .orderBy("source")
    },
    Some("""
      WITH tk AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS BIGINT) AS y
             FROM documents),
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS sxx,
               CAST(sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS syy,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS sxy
             FROM tk GROUP BY source),
      v AS (SELECT source, n,
              CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS vx,
              CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS vy,
              CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS cov
            FROM ag)
      SELECT source, n,
        CASE WHEN vx > 0 AND vy > 0 THEN
          CAST(floor(1000000.0 * CAST(cov AS DOUBLE)
            / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))))
            AS BIGINT)
        END AS pearson_q
      FROM v ORDER BY source"""))

  /** (q189) Truncated α=1/2 EWMA (Stats.ewmaSmooth scaladoc) over
    * densified hourly per-type counts, window 6 — exact power-of-two
    * weights, fixed-order 6-term chain.
    */
  val q189Ewma = Q(
    "q189_a_ewma_smooth",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.Stats.ewmaSmooth(dense, "event_type", "bucket", "x",
        window = 6)
        .orderBy("event_type", "bucket")
    },
    Some {
      val chain = (0 until 6).map(d =>
        s"CAST(coalesce(lag(x, $d) OVER (PARTITION BY event_type " +
          s"ORDER BY bucket), 0) AS DOUBLE) / ${1L << (d + 1)}.0")
        .mkString(" + ")
      s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket))
      SELECT event_type, bucket, x,
        CAST(floor(1000000.0 * ($chain)) AS BIGINT) AS ewma_q
      FROM dense ORDER BY event_type, bucket"""
    })

  /** (q190) Simpson concentration (Stats.simpson scaladoc) of the
    * language mix within each source — transcendental-free diversity.
    */
  val q190Simpson = Q(
    "q190_s_simpson_diversity",
    (s, dir) =>
      operators.Stats.simpson(t(s, dir, "documents"), "source", "lang")
        .orderBy("source"),
    Some("""
      WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
             FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2)
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS n_cats,
        CAST(floor(1000000.0
          * CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
              AS DOUBLE)
          / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)))
          AS BIGINT) AS simpson_q
      FROM c GROUP BY source ORDER BY source"""))

  /** (q191) Declarative data-contract validation (Expectations
    * scaladoc): five rule types over events in ONE aggregate pass —
    * the promotion gate a batch pipeline runs before publishing a
    * partition.
    */
  val q191Expectations = Q(
    "q191_s_expectations",
    (s, dir) => {
      import operators.Expectations._
      operators.Expectations.validate(ev(s, dir), Seq(
        NotNull("event_id"), Unique("event_id"),
        InRange("value", 0.0, 450.0),
        OneOf("event_type",
          Seq("view", "click", "purchase", "signup", "error")),
        Matches("event_type", "^[a-z]+$")))
        .orderBy("rule", "column")
    },
    Some("""
      SELECT 'not_null' AS rule, 'event_id' AS "column",
        CAST(count(*) FILTER (event_id IS NULL) AS BIGINT) AS n_violations,
        count(*) FILTER (event_id IS NULL) = 0 AS passed
      FROM events
      UNION ALL
      SELECT 'unique', 'event_id',
        CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
        count(event_id) - count(DISTINCT event_id) = 0
      FROM events
      UNION ALL
      SELECT 'in_range', 'value',
        CAST(count(*) FILTER (value IS NOT NULL
          AND (value < 0.0 OR value > 450.0)) AS BIGINT),
        count(*) FILTER (value IS NOT NULL
          AND (value < 0.0 OR value > 450.0)) = 0
      FROM events
      UNION ALL
      SELECT 'one_of', 'event_type',
        CAST(count(*) FILTER (event_type IS NOT NULL AND event_type
          NOT IN ('view', 'click', 'purchase', 'signup', 'error'))
          AS BIGINT),
        count(*) FILTER (event_type IS NOT NULL AND event_type
          NOT IN ('view', 'click', 'purchase', 'signup', 'error')) = 0
      FROM events
      UNION ALL
      SELECT 'matches', 'event_type',
        CAST(count(*) FILTER (event_type IS NOT NULL
          AND NOT regexp_matches(event_type, '^[a-z]+$')) AS BIGINT),
        count(*) FILTER (event_type IS NOT NULL
          AND NOT regexp_matches(event_type, '^[a-z]+$')) = 0
      FROM events
      ORDER BY rule, "column""""))

  /** (q192) Exact equi-depth histogram (Quantiles.equiDepthHistogram
    * scaladoc): 4 equal-count bins of document length per source with
    * integer bin bounds — optimizer-statistics shape, no per-group
    * global sort.
    */
  val q192EquiDepth = Q(
    "q192_a_equidepth_hist",
    (s, dir) =>
      operators.Quantiles.equiDepthHistogram(t(s, dir, "documents"),
        "source", "n_chars", bucketWidth = 64L, k = 4,
        tieCols = Seq("doc_id"))
        .orderBy("source", "bin"),
    Some("""
      WITH r AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars, doc_id) AS rank,
               count(*) OVER (PARTITION BY source) AS n
             FROM documents)
      SELECT source, CAST(((rank - 1) * 4) // n AS BIGINT) AS bin,
        MIN(v) AS lo, MAX(v) AS hi, CAST(count(*) AS BIGINT) AS n_rows
      FROM r GROUP BY source, ((rank - 1) * 4) // n
      ORDER BY source, bin"""))

  /** (q193) Linear multi-touch attribution (TimeAgg.linearAttribution
    * scaladoc): views/clicks in the 2 h before each purchase share
    * equal integer credit — built on the chunked interval join.
    */
  val q193Attribution = Q(
    "q193_a_linear_attribution",
    (s, dir) =>
      operators.TimeAgg.linearAttribution(ev(s, dir), "user_id", "ts_us",
        "event_id", "event_type", "purchase", Seq("view", "click"),
        horizonMicros = 7200000000L)
        .orderBy("conv_id", "touch_id"),
    Some(s"""
      WITH e AS (SELECT event_id, user_id, event_type, $EvUs AS ts
             FROM events),
      c AS (SELECT user_id, event_id AS conv_id, ts FROM e
            WHERE event_type = 'purchase'),
      t AS (SELECT user_id, event_id AS touch_id, ts FROM e
            WHERE event_type IN ('view', 'click')),
      p AS (SELECT c.user_id, c.conv_id, t.touch_id
            FROM c JOIN t ON c.user_id = t.user_id
              AND t.ts >= c.ts - 7200000000 AND t.ts <= c.ts),
      n AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_touches
            FROM p GROUP BY 1)
      SELECT p.user_id, p.conv_id, p.touch_id, n.n_touches,
        CAST(1000000 // n.n_touches AS BIGINT) AS credit_q
      FROM p JOIN n USING (conv_id)
      ORDER BY conv_id, touch_id"""))

  /** (q194) Vocabulary discovery curve (Segments.vocabDiscovery
    * scaladoc): new-token count and cumulative vocabulary per
    * 50-document ingestion batch — the diminishing-returns audit.
    */
  val q194VocabCurve = Q(
    "q194_tx_vocab_discovery",
    (s, dir) =>
      operators.Segments.vocabDiscovery(t(s, dir, "documents"), "doc_id",
        "text", batchSize = 50L)
        .orderBy("batch"),
    Some("""
      WITH tk AS (SELECT doc_id // 50 AS batch,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      f AS (SELECT tok, CAST(min(batch) AS BIGINT) AS batch FROM tk
            GROUP BY tok),
      nn AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_new_terms
             FROM f GROUP BY batch),
      ab AS (SELECT DISTINCT CAST(doc_id // 50 AS BIGINT) AS batch
             FROM documents)
      SELECT ab.batch, coalesce(nn.n_new_terms, 0) AS n_new_terms,
        CAST(sum(coalesce(nn.n_new_terms, 0)) OVER (ORDER BY ab.batch
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS vocab_cum
      FROM ab LEFT JOIN nn USING (batch) ORDER BY batch"""))

  /** (q195) Integer PageRank over the mutual 5-NN graph
    * (Graph.pageRank scaladoc): Q = 10¹² grid, d = 17/20, floor per
    * contribution, 3 rounds; the oracle unrolls the Pregel iterations
    * with the same integer arithmetic (`//`).
    */
  val q195PageRank = Q(
    "q195_g_pagerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.pageRank(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), rounds = 3)
        .orderBy("id")
    },
    Some {
      val iter = (p: String, o: String) => s"""
      $o AS (SELECT p.u, p.deg, p.n,
               (3000000000000 // (20 * p.n)) + c.inc AS r
             FROM $p p JOIN (
               SELECT s.v AS u,
                 CAST(sum((17 * p.r) // (20 * p.deg)) AS BIGINT) AS inc
               FROM sym s JOIN $p p ON p.u = s.u GROUP BY s.v) c
               ON c.u = p.u)"""
      s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a AS u, b AS v FROM mut
              UNION ALL SELECT b AS u, a AS v FROM mut),
      dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
      r0 AS (SELECT u, deg, n, 1000000000000 // n AS r
             FROM dg CROSS JOIN nn),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")},
      ${iter("r2", "r3")}
      SELECT u AS id, deg AS degree, CAST(r AS BIGINT) AS rank_q
      FROM r3 ORDER BY id"""
    })

  /** (q196) Chi-square contingency audit source × lang
    * (Stats.chiSquare scaladoc): per-cell expected count and
    * chi-square contribution from the exact (N·o − r·c)²/(N·r·c)
    * identity.
    */
  val q196ChiSquare = Q(
    "q196_a_chi_square",
    (s, dir) =>
      operators.Stats.chiSquare(t(s, dir, "documents"), "source", "lang")
        .orderBy("source", "lang"),
    Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS tt FROM cells),
      j AS (SELECT source, lang, o, rt, ct, tt,
              CAST(tt AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct AS dev
            FROM cells JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t)
      SELECT source, lang, o,
        CAST(floor(1000000.0 * CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE)
          / CAST(tt AS DOUBLE)) AS BIGINT) AS e_q,
        CAST(floor(1000000.0 * CAST(dev * dev AS DOUBLE)
          / CAST(CAST(tt AS HUGEINT) * rt * ct AS DOUBLE)) AS BIGINT)
          AS contrib_q
      FROM j ORDER BY source, lang"""))

  /** (q197) Per-source Spearman rank correlation of doc length vs
    * token count (Stats.spearman scaladoc): doubled-midrank transform
    * (exact integers, 2m + t − 1) then the q188 Pearson kernel on the
    * ranks.
    */
  val q197Spearman = Q(
    "q197_a_spearman_corr",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      operators.Stats.spearman(d, "source", "n_chars", "n_tok")
        .orderBy("source")
    },
    Some("""
      WITH tk AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS BIGINT) AS y
             FROM documents),
      rk AS (SELECT source,
               2 * rank() OVER (PARTITION BY source ORDER BY x)
                 + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
               2 * rank() OVER (PARTITION BY source ORDER BY y)
                 + count(*) OVER (PARTITION BY source, y) - 1 AS ry
             FROM tk),
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(rx AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(ry AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx,
               CAST(sum(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy,
               CAST(sum(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy
             FROM rk GROUP BY source),
      v AS (SELECT source, n,
              CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
              CAST(n AS HUGEINT) * syy - sy * sy AS vy,
              CAST(n AS HUGEINT) * sxy - sx * sy AS cov
            FROM ag)
      SELECT source, n,
        CASE WHEN vx > 0 AND vy > 0 THEN
          CAST(floor(1000000.0 * CAST(cov AS DOUBLE)
            / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))))
            AS BIGINT)
        END AS spearman_q
      FROM v ORDER BY source"""))

  /** (q198) Gini concentration of per-doc token mass within each
    * source (Stats.gini scaladoc): exact rank-weighted integer
    * numerator over the (mass, doc_id)-sorted permutation.
    */
  val q198Gini = Q(
    "q198_s_gini_tokens",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      operators.Stats.gini(d, "source", "doc_id", "n_tok")
        .orderBy("source")
    },
    Some("""
      WITH tk AS (SELECT source, doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS BIGINT) AS w
             FROM documents),
      rk AS (SELECT source, w,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY w ASC, doc_id ASC) AS BIGINT) AS i
             FROM tk),
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(w) AS BIGINT) AS total,
               CAST(sum(CAST(i AS HUGEINT) * w) AS HUGEINT) AS sw
             FROM rk GROUP BY source)
      SELECT source, n, total,
        CASE WHEN total > 0 THEN
          CAST(floor(1000000.0 *
            CAST(2 * sw - (CAST(n AS HUGEINT) + 1) * total AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * total AS DOUBLE)) AS BIGINT)
        END AS gini_q
      FROM ag ORDER BY source"""))

  /** (q199) Total-variation distance between each source's token
    * distribution and the corpus distribution (Stats.tvdVsCorpus
    * scaladoc): exact common-denominator numerator; the mass of
    * tokens a source never emits enters via S_g·(T − covered), never
    * as a source × vocabulary frame.
    */
  val q199Tvd = Q(
    "q199_s_tvd_divergence",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        explode(TextFns.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      operators.Stats.tvdVsCorpus(d, "source", "tok")
        .orderBy("source")
    },
    Some("""
      WITH tk AS (SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      gi AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM tk GROUP BY 1, 2),
      co AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM gi GROUP BY 1),
      st AS (SELECT source, CAST(sum(c) AS BIGINT) AS sg FROM gi GROUP BY 1),
      tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM gi),
      ag AS (SELECT g.source,
               CAST(sum(abs(CAST(g.c AS HUGEINT) * tt.t
                 - CAST(co.ct AS HUGEINT) * st.sg)) AS HUGEINT) AS present,
               CAST(sum(CAST(co.ct AS HUGEINT)) AS HUGEINT) AS covered
             FROM gi g JOIN co USING (tok) JOIN st USING (source)
               CROSS JOIN tt
             GROUP BY g.source)
      SELECT st.source, st.sg AS n,
        CAST(floor(1000000.0 *
          CAST(ag.present + CAST(st.sg AS HUGEINT) * (tt.t - ag.covered)
            AS DOUBLE)
          / CAST(2 * CAST(st.sg AS HUGEINT) * tt.t AS DOUBLE)) AS BIGINT)
          AS tvd_q
      FROM ag JOIN st USING (source) CROSS JOIN tt ORDER BY source"""))

  /** (q200) Language-mix pivot per source — Spark's `pivot` with an
    * EXPLICIT value list (the one-pass form: no values-discovery
    * pre-query, and the fixed columns are what a downstream contract
    * wants anyway). Absent cells are 0, not null, on both engines.
    */
  val q200LangPivot = Q(
    "q200_s_lang_pivot",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
        .orderBy("source"),
    Some("""
      SELECT source,
        CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      FROM documents GROUP BY source ORDER BY source"""))

  /** (q201) One-vs-rest Mann–Whitney U on doc length per source
    * (Stats.mannWhitney scaladoc): doubled midranks on the bounded
    * distinct-value grid — no row-level global sort; u2 vs eu2 gives
    * the shift direction exactly.
    */
  val q201MannWhitney = Q(
    "q201_a_mann_whitney",
    (s, dir) =>
      operators.Stats.mannWhitney(t(s, dir, "documents"), "source",
        "n_chars")
        .orderBy("source"),
    Some("""
      WITH gv AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY 1, 2),
      vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS nv FROM gv GROUP BY 1),
      cum AS (SELECT v, nv,
               CAST(coalesce(sum(nv) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cb
             FROM vals),
      tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM gv),
      ag AS (SELECT g.source, CAST(sum(g.c) AS BIGINT) AS n,
               CAST(sum(CAST(g.c AS HUGEINT)
                 * (2 * CAST(cm.cb AS HUGEINT) + cm.nv + 1)) AS HUGEINT)
                 AS r2
             FROM gv g JOIN cum cm USING (v) GROUP BY g.source)
      SELECT source, n,
        CAST(r2 - CAST(n AS HUGEINT) * (n + 1) AS BIGINT) AS u2,
        CAST(CAST(n AS HUGEINT) * (tt.t - n) AS BIGINT) AS eu2
      FROM ag CROSS JOIN tt ORDER BY source"""))

  /** (q202) Benford first-significant-digit audit of order totals
    * (Stats.benford scaladoc). o_totalprice is physically DOUBLE, so
    * both engines canonicalize through decimal(18,2) BEFORE the
    * string-form digit extract — double→varchar formatting is the
    * only engine-divergent step and it never runs.
    */
  val q202Benford = Q(
    "q202_a_benford_digits",
    (s, dir) =>
      operators.Stats.benford(
        t(s, dir, "orders").select(
          col("o_totalprice").cast("decimal(18,2)").as("price")),
        "price")
        .orderBy("digit"),
    Some {
      val bq = (1 to 9).map(dd =>
        s"WHEN $dd THEN ${math.floor(1000000.0 * math.log10(1.0 + 1.0 / dd)).toLong}")
        .mkString(" ")
      s"""
      WITH d AS (SELECT regexp_extract(CAST(CAST(o_totalprice
               AS DECIMAL(18,2)) AS VARCHAR), '[1-9]') AS dg
             FROM orders),
      f AS (SELECT CAST(dg AS INT) AS digit, CAST(count(*) AS BIGINT) AS n
            FROM d WHERE dg <> '' GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM f),
      j AS (SELECT digit, n,
              CAST(floor(1000000.0 * CAST(n AS DOUBLE)
                / CAST(tt AS DOUBLE)) AS BIGINT) AS share_q,
              CAST(CASE digit $bq END AS BIGINT) AS benford_q
            FROM f CROSS JOIN t)
      SELECT digit, n, share_q, benford_q, share_q - benford_q AS dev_q
      FROM j ORDER BY digit"""
    })

  /** (q203) Unicode NFC canonical composition (plans.NfcNormalize
    * scaladoc — native codegen'd, ASCII zero-copy fast path). The
    * fixture text is ASCII, so the gate FORGES combining sequences
    * (e → e + U+0301) identically on both engines and checks the
    * recomposition to precomposed é; both implement UAX #15.
    */
  val q203NfcNormalize = Q(
    "q203_tx_nfc_normalize",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.nfc(regexp_replace(col("text"), "e", "e\u0301"))
          .as("text_nfc"))
        .withColumn("n_cp", length(col("text_nfc")).cast("long"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS text_nfc,
        CAST(length(nfc_normalize(replace(text, 'e', 'e' || chr(769))))
          AS BIGINT) AS n_cp
      FROM documents ORDER BY doc_id"""))

  /** (q204) Theil–Sen robust trend per event type over DAILY counts
    * (Robust.theilSen scaladoc): lower median of the exact quantized
    * pairwise slopes — outlier-immune growth rate in counts/second on
    * the 10⁻⁶ grid.
    */
  val q204TheilSen = Q(
    "q204_a_theilsen_slope",
    (s, dir) => {
      val daily = ev(s, dir)
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      operators.Robust.theilSen(daily, "event_type", "bucket", "x")
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      p AS (SELECT a.event_type,
              CAST(floor(1000000.0 * CAST(b.x - a.x AS DOUBLE)
                / CAST(b.bucket - a.bucket AS DOUBLE)) AS BIGINT) AS slope
            FROM h a JOIN h b ON a.event_type = b.event_type
              AND b.bucket > a.bucket),
      r AS (SELECT event_type, slope,
              row_number() OVER (PARTITION BY event_type
                ORDER BY slope) AS rn,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS p
            FROM p)
      SELECT event_type, p AS n_pairs, slope AS slope_med_q
      FROM r WHERE rn = (p + 1) // 2 ORDER BY event_type"""))

  /** (q205) Pairwise association rules over per-user event-type
    * baskets (TimeAgg.assocRules scaladoc): support / confidence /
    * lift on the 10⁻⁶ grid from exact counts, minCount = 5.
    */
  val q205AssocRules = Q(
    "q205_a_assoc_rules",
    (s, dir) =>
      operators.TimeAgg.assocRules(t(s, dir, "events"), "user_id",
        "event_type", minCount = 5L)
        .orderBy("antecedent", "consequent"),
    Some("""
      WITH b AS (SELECT DISTINCT user_id, event_type FROM events
             WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      nn AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM b),
      it AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni
             FROM b GROUP BY 1),
      p AS (SELECT a.event_type AS antecedent, c.event_type AS consequent,
              CAST(count(*) AS BIGINT) AS n_ab
            FROM b a JOIN b c ON a.user_id = c.user_id
              AND a.event_type <> c.event_type
            GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT p.antecedent, p.consequent, p.n_ab,
        CAST(floor(1000000.0 * CAST(n_ab AS DOUBLE)
          / CAST(nn.n AS DOUBLE)) AS BIGINT) AS support_q,
        CAST(floor(1000000.0 * CAST(n_ab AS DOUBLE)
          / CAST(na.ni AS DOUBLE)) AS BIGINT) AS conf_q,
        CAST(floor(1000000.0 *
          CAST(CAST(n_ab AS HUGEINT) * nn.n AS DOUBLE)
          / CAST(CAST(na.ni AS HUGEINT) * nb.ni AS DOUBLE)) AS BIGINT)
          AS lift_q
      FROM p JOIN it na ON na.event_type = p.antecedent
        JOIN it nb ON nb.event_type = p.consequent CROSS JOIN nn
      ORDER BY antecedent, consequent"""))

  /** (q206) Per-cell mutual information source × lang
    * (Stats.mutualInfo scaladoc): nats on the 10⁻⁶ grid, ln on exact
    * integer-product ratios — the q166 ln contract; negative cells
    * (anti-associated) are kept.
    */
  val q206MutualInfo = Q(
    "q206_a_mutual_info",
    (s, dir) =>
      operators.Stats.mutualInfo(t(s, dir, "documents"), "source", "lang")
        .orderBy("source", "lang"),
    Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS tt FROM cells)
      SELECT source, lang, o,
        CAST(floor(1000000.0 * CAST(o AS DOUBLE)
          * ln(CAST(CAST(tt AS HUGEINT) * o AS DOUBLE)
            / CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE))
          / CAST(tt AS DOUBLE)) AS BIGINT) AS mi_contrib_q
      FROM cells JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t
      ORDER BY source, lang"""))

  /** (q207) Top-5 character trigram profile per language bucket
    * (Segments.charNgramProfile scaladoc): code-point sliding window,
    * deterministic (count desc, gram asc) top-k on the bounded
    * (lang × gram) grid.
    */
  val q207CharTrigrams = Q(
    "q207_tx_char_trigrams",
    (s, dir) =>
      operators.Segments.charNgramProfile(t(s, dir, "documents"), "lang",
        "text", n = 3, k = 5)
        .orderBy("lang", "rank"),
    Some("""
      WITH t AS (SELECT lang, lower(trim(text)) AS tt FROM documents
             WHERE length(lower(trim(text))) >= 3),
      g AS (SELECT lang, unnest(list_transform(range(1, length(tt) - 1),
               i -> substr(tt, CAST(i AS BIGINT), 3))) AS gram
            FROM t),
      c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
            FROM g GROUP BY 1, 2),
      r AS (SELECT lang, gram, cnt,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, gram ASC) AS INT) AS rank
            FROM c)
      SELECT lang, gram, cnt, rank FROM r WHERE rank <= 5
      ORDER BY lang, rank"""))

  /** (q208) Accent folding (plans.StripAccents scaladoc): forge
    * combining-acute sequences on both engines, strip them, and land
    * back on the original ASCII — NFD → drop Mn → NFC vs DuckDB's
    * utf8proc `strip_accents`. `same_as_raw` pins the round trip.
    */
  val q208StripAccents = Q(
    "q208_tx_strip_accents",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextFns.stripAccents(regexp_replace(col("text"), "e", "e\u0301"))
          .as("text_folded"))
        .select(col("doc_id"), col("text_folded"),
          (col("text_folded") === col("text")).as("same_as_raw"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        strip_accents(replace(text, 'e', 'e' || chr(769))) AS text_folded,
        strip_accents(replace(text, 'e', 'e' || chr(769))) = text
          AS same_as_raw
      FROM documents ORDER BY doc_id"""))

  /** (q209) Zipf exponent of the corpus term distribution
    * (Segments.zipfSlope scaladoc): Theil–Sen median slope on the
    * (⌊10⁶·ln rank⌋, ⌊10⁶·ln freq⌋) grid over the top-100 terms —
    * ≈ −10⁶ for natural language.
    */
  val q209ZipfSlope = Q(
    "q209_tx_zipf_slope",
    (s, dir) =>
      operators.Segments.zipfSlope(t(s, dir, "documents"), "text",
        topK = 100),
    Some("""
      WITH tk AS (SELECT unnest(list_filter(regexp_split_to_array(
               lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      c AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY tok),
      r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS rnk
            FROM c QUALIFY rnk <= 100),
      q AS (SELECT
              CAST(floor(1000000.0 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
              CAST(floor(1000000.0 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y
            FROM r),
      p AS (SELECT CAST(floor(1000000.0 * CAST(b.y - a.y AS DOUBLE)
              / CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS slope
            FROM q a JOIN q b ON b.x > a.x),
      s AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
              CAST(count(*) OVER () AS BIGINT) AS p FROM p)
      SELECT 'corpus' AS scope, p AS n_pairs, slope AS slope_med_q
      FROM s WHERE rn = (p + 1) // 2"""))

  /** (q210) Integer-grid HITS hubs/authorities over the DIRECTED 5-NN
    * graph (Graph.hits scaladoc): 2 rounds, L1-normalized per
    * half-step, every normalizer an exact decimal sum — the oracle
    * unrolls all four half-steps.
    */
  val q210Hits = Q(
    "q210_g_hits",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.hits(
        knn.select(col("query_id").as("src"), col("neighbor_id").as("dst")),
        rounds = 2)
        .orderBy("id")
    },
    Some {
      val auth = (hPrev: String, o: String) => s"""
      ${o}r AS (SELECT e.d AS v, CAST(sum(p.h) AS HUGEINT) AS raw
             FROM e JOIN $hPrev p ON p.v = e.s GROUP BY e.d),
      $o AS (SELECT v.v,
               coalesce(CAST((1000000000000::HUGEINT * r.raw)
                 // (SELECT sum(raw) FROM ${o}r) AS BIGINT), 0) AS a
             FROM v LEFT JOIN ${o}r r ON r.v = v.v)"""
      val hub = (aCur: String, o: String) => s"""
      ${o}r AS (SELECT e.s AS v, CAST(sum(p.a) AS HUGEINT) AS raw
             FROM e JOIN $aCur p ON p.v = e.d GROUP BY e.s),
      $o AS (SELECT v.v,
               coalesce(CAST((1000000000000::HUGEINT * r.raw)
                 // (SELECT sum(raw) FROM ${o}r) AS BIGINT), 0) AS h
             FROM v LEFT JOIN ${o}r r ON r.v = v.v)"""
      s"""
      WITH $KnnCte,
      e AS (SELECT DISTINCT query_id AS s, neighbor_id AS d FROM knn),
      v AS (SELECT s AS v FROM e UNION SELECT d AS v FROM e),
      h0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS h FROM v),
      ${auth("h0", "a1")},
      ${hub("a1", "h1")},
      ${auth("h1", "a2")},
      ${hub("a2", "h2")},
      od AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY s),
      idg AS (SELECT d AS v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY d)
      SELECT v.v AS id, coalesce(od.c, 0) AS out_degree,
        coalesce(idg.c, 0) AS in_degree, h2.h AS hub_q, a2.a AS auth_q
      FROM v LEFT JOIN od ON od.v = v.v LEFT JOIN idg ON idg.v = v.v
        JOIN h2 ON h2.v = v.v JOIN a2 ON a2.v = v.v
      ORDER BY id"""
    })

  /** (q211) Per-source Jensen–Shannon divergence vs the rest of the
    * corpus (Stats.jsDivergence scaladoc): present pairs carry exact
    * per-item quantized contributions; absent items aggregate on the
    * (source, corpus-count) grid via the closed ½·q·ln2 form.
    */
  val q211JsDivergence = Q(
    "q211_s_js_divergence",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        explode(TextFns.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      operators.Stats.jsDivergence(d, "source", "tok")
        .orderBy("source")
    },
    Some("""
      WITH tk AS (SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      gi AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM tk GROUP BY 1, 2),
      co AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM gi GROUP BY 1),
      st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ng FROM gi GROUP BY 1),
      tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM gi),
      wr AS (SELECT source, ng, tt.t - ng AS nr FROM st CROSS JOIN tt),
      pr AS (SELECT g.source,
               CAST(count(*) AS BIGINT) AS n_present,
               CAST(sum(CAST(floor(1000000000000.0 * (
                 0.5 * (CAST(g.c AS DOUBLE) / CAST(wr.ng AS DOUBLE))
                   * ln((CAST(g.c AS DOUBLE) / CAST(wr.ng AS DOUBLE))
                     / (((CAST(g.c AS DOUBLE) / CAST(wr.ng AS DOUBLE))
                        + (CAST(co.ct - g.c AS DOUBLE) / CAST(wr.nr AS DOUBLE)))
                       / 2.0))
                 + CASE WHEN co.ct > g.c THEN
                     0.5 * (CAST(co.ct - g.c AS DOUBLE) / CAST(wr.nr AS DOUBLE))
                       * ln((CAST(co.ct - g.c AS DOUBLE) / CAST(wr.nr AS DOUBLE))
                         / (((CAST(g.c AS DOUBLE) / CAST(wr.ng AS DOUBLE))
                            + (CAST(co.ct - g.c AS DOUBLE) / CAST(wr.nr AS DOUBLE)))
                           / 2.0))
                   ELSE 0.0 END)) AS HUGEINT)) AS HUGEINT) AS jp
             FROM gi g JOIN co USING (tok) JOIN wr ON wr.source = g.source
             GROUP BY g.source),
      pbc AS (SELECT g.source, co.ct, CAST(count(*) AS BIGINT) AS npres
              FROM gi g JOIN co USING (tok) GROUP BY 1, 2),
      cg AS (SELECT ct, CAST(count(*) AS BIGINT) AS nitems FROM co GROUP BY 1),
      ab AS (SELECT wr.source,
               CAST(sum(cg.nitems - coalesce(pbc.npres, 0)) AS BIGINT)
                 AS n_absent,
               CAST(sum(CAST(cg.nitems - coalesce(pbc.npres, 0) AS HUGEINT)
                 * CAST(floor(1000000000000.0 * (
                     0.5 * (CAST(cg.ct AS DOUBLE) / CAST(wr.nr AS DOUBLE))
                       * ln(2.0))) AS HUGEINT)) AS HUGEINT) AS ja
             FROM wr CROSS JOIN cg
               LEFT JOIN pbc ON pbc.source = wr.source AND pbc.ct = cg.ct
             GROUP BY wr.source)
      SELECT wr.source, wr.ng AS n_tokens, wr.nr AS n_rest,
        pr.n_present, ab.n_absent, CAST(pr.jp + ab.ja AS BIGINT) AS jsd_q
      FROM wr JOIN pr USING (source) JOIN ab USING (source)
      ORDER BY wr.source"""))

  /** (q212) Exact average precision of the quality score against the
    * lang='en' label, trec_eval tie-break (score DESC, doc_id ASC) —
    * Eval.averagePrecision scaladoc; rank decomposes on the score grid
    * so no global sort exists in the plan.
    */
  val q212AvgPrecision = Q(
    "q212_ml_avg_precision",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Eval.averagePrecision(
        docs.select(col("doc_id"),
          floor(lit(1000000.0) *
            TextFns.qualityScore(col("text"), Stopwords)).cast("long")
            .as("s_q"), col("lang")),
        "doc_id", "s_q", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT doc_id, text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT doc_id, lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT doc_id, CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT) AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      grid AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS p
               FROM q GROUP BY s),
      cums AS (SELECT s,
                 coalesce(sum(n) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS nab,
                 coalesce(sum(p) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pab
               FROM grid),
      rk AS (SELECT q.y,
               c.nab + row_number() OVER (PARTITION BY q.s
                 ORDER BY q.doc_id ASC) AS k,
               c.pab + sum(q.y) OVER (PARTITION BY q.s ORDER BY q.doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
             FROM q JOIN cums c ON c.s = q.s)
      SELECT CAST(sum(y) AS BIGINT) AS n_pos,
        CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
        CASE WHEN sum(y) > 0 THEN
          CAST(sum(CASE WHEN y = 1 THEN
              CAST(floor(1000000000000.0 * CAST(tp AS DOUBLE)
                / CAST(k AS DOUBLE)) AS HUGEINT)
            ELSE 0 END) // sum(y) AS BIGINT)
        END AS ap_q
      FROM rk"""))

  /** (q213) Murphy decomposition of the Brier score over the q161
    * calibration bucketing (Eval.brierDecomposition scaladoc): the raw
    * Brier sum is an exact integer on the 10⁶ score grid; the three
    * decomposition terms quantize per bucket.
    */
  val q213Brier = Q(
    "q213_ml_brier",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Eval.brierDecomposition(
        docs.select(floor(lit(1000000.0) *
          TextFns.qualityScore(col("text"), Stopwords)).cast("long")
          .as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT) AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      b AS (SELECT least(s // 100000, 9) AS bucket,
              CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos,
              CAST(sum(s) AS BIGINT) AS conf,
              CAST(sum(CAST((s - 1000000 * y) AS HUGEINT)
                * (s - 1000000 * y)) AS HUGEINT) AS sq
            FROM q GROUP BY 1),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(pos) AS BIGINT) AS post,
               CAST(sum(sq) AS HUGEINT) AS sqt FROM b),
      pb AS (SELECT b.n, b.pos, tt.nt, tt.post, tt.sqt,
               CAST(floor(1000000000000.0 * CAST(b.n AS DOUBLE)
                 * (CAST(b.conf AS DOUBLE) / (CAST(b.n AS DOUBLE) * 1000000.0)
                    - CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE))
                 * (CAST(b.conf AS DOUBLE) / (CAST(b.n AS DOUBLE) * 1000000.0)
                    - CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE))
                 / CAST(tt.nt AS DOUBLE)) AS BIGINT) AS rel_q,
               CAST(floor(1000000000000.0 * CAST(b.n AS DOUBLE)
                 * (CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)
                    - CAST(tt.post AS DOUBLE) / CAST(tt.nt AS DOUBLE))
                 * (CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)
                    - CAST(tt.post AS DOUBLE) / CAST(tt.nt AS DOUBLE))
                 / CAST(tt.nt AS DOUBLE)) AS BIGINT) AS res_q
             FROM b CROSS JOIN tt)
      SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos,
        CAST(any_value(sqt) // any_value(nt) AS BIGINT) AS brier_q,
        CAST(sum(rel_q) AS BIGINT) AS reliability_q,
        CAST(sum(res_q) AS BIGINT) AS resolution_q,
        CAST(floor(1000000000000.0
          * (CAST(any_value(post) AS DOUBLE) / CAST(any_value(nt) AS DOUBLE))
          * (1.0 - CAST(any_value(post) AS DOUBLE)
             / CAST(any_value(nt) AS DOUBLE))) AS BIGINT) AS uncertainty_q
      FROM pb"""))

  /** (q214) Fleiss' kappa over 5 synthetic raters (Eval.fleissKappa
    * scaladoc): rater r keeps the stored lang with a 70 % md5 coin,
    * otherwise assigns one of 4 langs by hash — multi-rater agreement
    * on a deterministic, engine-portable rating frame.
    */
  val q214FleissKappa = Q(
    "q214_ml_fleiss_kappa",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val h = Dedup.md5Hash60(concat(col("doc_id").cast("string"),
        lit(":rater:"), col("rater").cast("string")))
      val cats = array(lit("en"), lit("es"), lit("de"), lit("fr"))
      val ratings = docs.select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), lit(5))).as("rater"))
        .select(col("doc_id"),
          when(pmod(h, lit(100L)) < 70, col("lang"))
            .otherwise(element_at(cats, (pmod(h, lit(4L)) + 1).cast("int")))
            .as("rating"))
      operators.Eval.fleissKappa(ratings, "doc_id", "rating", raters = 5)
    },
    Some("""
      WITH r AS (SELECT doc_id, lang, unnest(range(1, 6)) AS rater
             FROM documents),
      rt AS (SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                   || ':rater:' || CAST(rater AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 70
                 THEN lang
                 ELSE ['en','es','de','fr'][CAST(('0x'
                   || substr(md5(CAST(doc_id AS VARCHAR) || ':rater:'
                   || CAST(rater AS VARCHAR)), 1, 15))::BIGINT % 4 AS INT) + 1]
               END AS rating
             FROM r),
      g AS (SELECT doc_id, rating, CAST(count(*) AS BIGINT) AS n
            FROM rt GROUP BY 1, 2),
      pi AS (SELECT CAST(count(*) AS BIGINT) AS ni,
               CAST(sum(ssq - 5) AS HUGEINT) AS pbar_num
             FROM (SELECT doc_id, CAST(sum(n * n) AS HUGEINT) AS ssq
                   FROM g GROUP BY doc_id)),
      pc AS (SELECT CAST(sum(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS pe_num
             FROM (SELECT rating, CAST(sum(n) AS BIGINT) AS nc
                   FROM g GROUP BY rating))
      SELECT ni AS n_items, 5 AS n_raters,
        CAST(floor(1000000000000.0 * CAST(pbar_num AS DOUBLE)
          / CAST(ni * 5 * 4 AS DOUBLE)) AS BIGINT) AS pbar_q,
        CAST(floor(1000000000000.0 * CAST(pe_num AS DOUBLE)
          / CAST(CAST(ni AS HUGEINT) * ni * 5 * 5 AS DOUBLE)) AS BIGINT)
          AS pe_q,
        CASE WHEN pe_num <> CAST(ni AS HUGEINT) * ni * 5 * 5 THEN
          CAST(floor(1000000000000.0 *
            CAST(pbar_num * (CAST(ni AS HUGEINT) * ni * 5 * 5)
              - pe_num * (CAST(ni AS HUGEINT) * 5 * 4) AS DOUBLE)
            / CAST((CAST(ni AS HUGEINT) * 5 * 4)
              * ((CAST(ni AS HUGEINT) * ni * 5 * 5) - pe_num) AS DOUBLE))
            AS BIGINT)
        END AS kappa_q
      FROM pi CROSS JOIN pc"""))

  /** (q215) Distinct-n diversity per source for n = 1, 2, 3
    * (Segments.distinctNgramRatio scaladoc): corpus-level distinct
    * n-grams over total — the cross-document template detector.
    */
  val q215DistinctNgrams = Q(
    "q215_tx_distinct_ngrams",
    (s, dir) =>
      operators.Segments.distinctNgramRatio(t(s, dir, "documents"),
        "source", "text", Seq(1, 2, 3))
        .orderBy("source", "n"),
    Some {
      val block = (n: Int) => s"""
      SELECT source, $n AS n, CAST(sum(c) AS BIGINT) AS n_total,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(floor(1000000.0 * CAST(count(*) AS DOUBLE)
          / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS ratio_q
      FROM (
        SELECT source, g, CAST(count(*) AS BIGINT) AS c
        FROM (
          SELECT source, unnest(CASE WHEN len(toks) - ${n - 1} > 0
            THEN list_transform(range(1, greatest(len(toks) - ${n - 1}, 1) + 1),
              i -> array_to_string(toks[i:i+${n - 1}], ' '))
            ELSE CAST([] AS VARCHAR[]) END) AS g
          FROM (SELECT source,
              list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> len(x) > 0) AS toks
            FROM documents)
        ) GROUP BY source, g
      ) GROUP BY source"""
      s"""${block(1)}
      UNION ALL ${block(2)}
      UNION ALL ${block(3)}
      ORDER BY source, n"""
    })

  /** (q216) Per-document sentence profile (Segments.sentenceProfile
    * scaladoc): sentence count, mean/max tokens per punctuation-split
    * segment, terminal-punctuation ending — Gopher's structural
    * signals.
    */
  val q216SentenceStats = Q(
    "q216_tx_sentence_stats",
    (s, dir) =>
      operators.Segments.sentenceProfile(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, text,
          (text IS NULL OR length(trim(text)) = 0) AS blank,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS toks
        FROM documents),
      m AS (SELECT doc_id, text, blank,
          CASE WHEN blank THEN 0
               ELSE greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
          END AS n_sentences,
          CASE WHEN blank THEN 0 ELSE len(toks) END AS n_tokens
        FROM d)
      SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CASE WHEN NOT blank AND n_sentences > 0 THEN
          CAST(floor(1000000.0 * CAST(n_tokens AS DOUBLE)
            / CAST(n_sentences AS DOUBLE)) AS BIGINT)
        END AS mean_sent_tokens_q,
        CASE WHEN blank THEN 0
          ELSE CAST(coalesce(list_max(list_filter(list_transform(
            regexp_split_to_array(trim(text), '[.!?]+'),
            s -> len(list_filter(regexp_split_to_array(lower(trim(s)),
              '\s+'), t -> len(t) > 0))), c -> c > 0)), 0) AS BIGINT)
        END AS max_seg_tokens,
        CASE WHEN blank THEN false
          ELSE regexp_matches(trim(text), '[.!?]$') END AS ends_terminal
      FROM m ORDER BY doc_id"""))

  /** (q217) Neyman-optimal stratified allocation of a 1000-doc budget
    * over sources by n_chars spread (Packing.neymanAllocation
    * scaladoc): exact integer moments, floor-sqrt weights,
    * largest-remainder apportionment, size caps.
    */
  val q217NeymanAlloc = Q(
    "q217_s_neyman_alloc",
    (s, dir) =>
      operators.Packing.neymanAllocation(t(s, dir, "documents"),
        "source", "n_chars", totalN = 1000L)
        .select(col("source"), col("n_docs"),
          col("sum_v").cast("long").as("sum_v"),
          col("sum_sq").cast("long").as("sum_sq"),
          col("weight_w"), col("alloc_target"), col("n_alloc"))
        .orderBy("source"),
    Some("""
      WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS HUGEINT) AS s1,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
             FROM documents GROUP BY source),
      w AS (SELECT *, CAST(floor(sqrt(CAST(n_docs * s2 - s1 * s1
               AS DOUBLE))) AS BIGINT) AS wh FROM m),
      wz AS (SELECT *, CASE WHEN (SELECT max(wh) FROM w) = 0
               THEN n_docs ELSE wh END AS w2 FROM w),
      tw AS (SELECT CAST(sum(w2) AS HUGEINT) AS tot FROM wz),
      qt AS (SELECT wz.*, CAST((1000 * CAST(w2 AS HUGEINT)) // tw.tot
               AS BIGINT) AS base,
               (1000 * CAST(w2 AS HUGEINT)) % tw.tot AS rem
             FROM wz CROSS JOIN tw),
      ex AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC)
               AS rk FROM qt),
      eb AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS extras FROM qt)
      SELECT source, n_docs, CAST(s1 AS BIGINT) AS sum_v,
        CAST(s2 AS BIGINT) AS sum_sq, w2 AS weight_w,
        base + (CASE WHEN rk <= eb.extras THEN 1 ELSE 0 END)
          AS alloc_target,
        least(base + (CASE WHEN rk <= eb.extras THEN 1 ELSE 0 END), n_docs)
          AS n_alloc
      FROM ex CROSS JOIN eb ORDER BY source"""))

  /** (q218) Soft dedup (Dedup.softDedup scaladoc): canonical member
    * always kept, every other member of an exact-duplicate cluster
    * kept with probability ≈ 1/size by the md5 integer coin.
    */
  val q218SoftDedup = Q(
    "q218_dd_soft_dedup",
    (s, dir) =>
      Dedup.softDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"),
    Some("""
      WITH h AS (SELECT doc_id AS id,
               ('0x' || substr(md5(coalesce(regexp_replace(lower(trim(text)),
                 '\s+', ' ', 'g'), '')), 1, 15))::BIGINT AS content_hash
             FROM documents),
      c AS (SELECT content_hash, CAST(count(*) AS BIGINT) AS cluster_size,
              min(id) AS keeper
            FROM h GROUP BY content_hash)
      SELECT id, content_hash, cluster_size,
        id = keeper AS is_canonical,
        (id = keeper OR
          (('0x' || substr(md5(CAST(id AS VARCHAR) || ':soft'), 1, 15))::BIGINT
            % 1000000) * cluster_size < 1000000) AS kept
      FROM h JOIN c USING (content_hash) ORDER BY id"""))

  /** (q219) Lag-1..3 autocorrelation of daily event counts per type on
    * a densified bucket grid (Stats.acf scaladoc): the exact-integer
    * Pearson kernel over (x_b, x_{b+lag}) pairs.
    */
  val q219Acf = Q(
    "q219_a_acf",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull)
      val daily = e.withColumn("bucket",
          TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      operators.Stats.acf(daily, "event_type", "bucket", "x",
        stepSec = 86400, maxLag = 3)
        .orderBy("event_type", "lag")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events
             WHERE event_type IS NOT NULL),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      sp AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             FROM h GROUP BY 1),
      grid AS (SELECT event_type, unnest(generate_series(lo, hi, 86400))
               AS b FROM sp),
      dense AS (SELECT grid.event_type, grid.b, coalesce(h.x, 0) AS v
             FROM grid LEFT JOIN h ON h.event_type = grid.event_type
               AND h.bucket = grid.b),
      lagged AS (SELECT a.event_type, l.lag, a.v AS x, b.v AS y
             FROM (VALUES (1), (2), (3)) l(lag)
             CROSS JOIN dense a
             JOIN dense b ON b.event_type = a.event_type
               AND b.b = a.b + l.lag * 86400),
      ag AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
             FROM lagged GROUP BY 1, 2)
      SELECT event_type, lag, n_pairs,
        CASE WHEN n_pairs * sxx - sx * sx > 0
              AND n_pairs * syy - sy * sy > 0 THEN
          CAST(floor(1000000.0 * CAST(n_pairs * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT)
        END AS acf_q
      FROM ag ORDER BY event_type, lag"""))

  /** (q220) Per-document encoding-health audit (TextFns
    * replacementCount/controlCharCount/asciiRatioQ scaladoc):
    * U+FFFD count, control-char count, ascii ratio — the crawl
    * mojibake detectors, all length-difference scans.
    */
  val q220EncodingAudit = Q(
    "q220_tx_encoding_audit",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.replacementCount(col("text")).as("n_replacement"),
        TextFns.controlCharCount(col("text")).as("n_control"),
        TextFns.asciiRatioQ(col("text")).as("ascii_ratio_q"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        CAST(length(text) - length(regexp_replace(text, '\x{FFFD}', '', 'g'))
          AS BIGINT) AS n_replacement,
        CAST(length(text) - length(regexp_replace(text,
          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT)
          AS n_control,
        CASE WHEN length(text) > 0 THEN
          CAST(floor(1000000.0 * CAST(length(regexp_replace(text,
            '[^\x00-\x7F]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE)) AS BIGINT)
        END AS ascii_ratio_q
      FROM documents ORDER BY doc_id"""))

  /** (q221) Top principal component by integer power iteration on the
    * quantized covariance grid (Stats.pcaPower scaladoc): one
    * distributed covariance pass, exact BigInt iteration, canonical
    * sign, truncating Rayleigh eigenvalue — zero floats past the grid.
    */
  val q221PcaPower = Q(
    "q221_ann_pca_power",
    (s, dir) =>
      operators.Stats.pcaPower(t(s, dir, "embeddings"), "embedding",
        dims = 6, iters = 3)
        .orderBy("dim"),
    Some {
      val iter = (vp: String, w: String, vn: String) => s"""
      $w AS (SELECT cs.j AS dim,
               CAST(sum(CAST(cs.cov_q AS HUGEINT) * p.v) AS HUGEINT) AS w
             FROM cs JOIN $vp p ON p.dim = cs.k GROUP BY cs.j),
      ${w}s AS (SELECT CAST(sum(abs(w)) AS HUGEINT) AS s FROM $w),
      $vn AS (SELECT $w.dim,
               CASE WHEN ${w}s.s = 0 THEN p.v
                 WHEN $w.w < 0
                   THEN -((1000000000000::HUGEINT * (-$w.w)) // ${w}s.s)
                 ELSE (1000000000000::HUGEINT * $w.w) // ${w}s.s
               END AS v
             FROM $w JOIN $vp p USING (dim) CROSS JOIN ${w}s)"""
      s"""
      WITH p AS (SELECT j.j, k.k
             FROM (SELECT unnest(range(1, 7)) AS j) j,
                  (SELECT unnest(range(1, 7)) AS k) k
             WHERE k.k >= j.j),
      pr AS (SELECT p.j AS dj, p.k AS dk,
               CAST(floor(1000000.0 * CAST(e.embedding[p.j] AS DOUBLE)
                 * CAST(e.embedding[p.k] AS DOUBLE)) AS BIGINT) AS pq
             FROM embeddings e CROSS JOIN p
             WHERE len(e.embedding) >= 6),
      ag AS (SELECT dj, dk, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pq) AS DECIMAL(38,0)) AS sxy
             FROM pr GROUP BY 1, 2),
      dm AS (SELECT d.d,
               CAST(sum(CAST(floor(1000000.0
                 * CAST(e.embedding[d.d] AS DOUBLE)) AS BIGINT))
                 AS DECIMAL(38,0)) AS sx
             FROM embeddings e
               CROSS JOIN (SELECT unnest(range(1, 7)) AS d) d
             WHERE len(e.embedding) >= 6 GROUP BY 1),
      cv AS (SELECT ag.dj, ag.dk,
               CAST(floor(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(sj.sx AS DOUBLE) * CAST(sk.sx AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0))
                 AS BIGINT) AS cov_q
             FROM ag JOIN dm sj ON sj.d = ag.dj
               JOIN dm sk ON sk.d = ag.dk),
      cs AS (SELECT dj AS j, dk AS k, cov_q FROM cv
             UNION ALL
             SELECT dk AS j, dj AS k, cov_q FROM cv WHERE dj <> dk),
      v0 AS (SELECT unnest(range(1, 7)) AS dim,
               CAST(1000000000000 AS HUGEINT)
                 + unnest(range(1, 7)) AS v),
      ${iter("v0", "w1", "v1")},
      ${iter("v1", "w2", "v2")},
      ${iter("v2", "w3", "v3")},
      fl AS (SELECT CASE WHEN (SELECT v FROM v3
                 ORDER BY abs(v) DESC, dim ASC LIMIT 1) < 0
               THEN -1 ELSE 1 END AS f),
      vf AS (SELECT dim, v * fl.f AS v FROM v3 CROSS JOIN fl),
      wf AS (SELECT dim, w * fl.f AS w FROM w3 CROSS JOIN fl),
      lam AS (SELECT CASE WHEN sum(vf.v * vf.v) = 0 THEN 0
                ELSE CAST(sum(vf.v * wf.w) // sum(vf.v * vf.v) AS BIGINT)
              END AS l
              FROM vf JOIN wf USING (dim))
      SELECT CAST(vf.dim AS INT) AS dim, CAST(vf.v AS BIGINT) AS v_q,
        lam.l AS lambda_q
      FROM vf CROSS JOIN lam ORDER BY dim"""
    })

  /** (q222) Sorted-neighborhood near-dup blocking
    * (Dedup.sortedNeighborhood scaladoc): prefix-key order, window-3
    * neighbor pairs, normalized-Levenshtein verification — grid-
    * decomposed positions, no single-partition sort.
    */
  val q222SortedNeighborhood = Q(
    "q222_dd_sorted_neighborhood",
    (s, dir) =>
      Dedup.sortedNeighborhood(t(s, dir, "documents"), "doc_id", "text",
        keyLen = 16, windowSize = 3, minEditSim = 0.3)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH b AS (SELECT doc_id AS id,
               coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                 '') AS t
             FROM documents),
      p AS (SELECT id, t,
              row_number() OVER (ORDER BY substr(t, 1, 16) ASC, id ASC)
                AS pos
            FROM b),
      pr AS (SELECT a.id AS id_a, bb.id AS id_b,
               CAST(g.g AS INT) AS gap, a.t AS ta, bb.t AS tb
             FROM p a CROSS JOIN (SELECT unnest(range(1, 4)) AS g) g
             JOIN p bb ON bb.pos = a.pos + g.g),
      -- length prune (the q05 pre-reduction treatment, 10x point):
      -- levenshtein >= |len diff|, so 10*|Δlen| > 7*maxlen implies
      -- sim < 0.3 and the pair cannot reach the output filter —
      -- value-identical, skips the O(len²) kernel on hopeless pairs
      prp AS (SELECT * FROM pr
              WHERE 10 * abs(length(ta) - length(tb))
                <= 7 * greatest(length(ta), length(tb))),
      sc AS (SELECT id_a, id_b, gap,
               CASE WHEN greatest(length(ta), length(tb)) = 0
                 THEN CAST(1000000 AS BIGINT)
                 ELSE CAST(floor(1000000.0
                   * (1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
                     / CAST(greatest(length(ta), length(tb)) AS DOUBLE)))
                   AS BIGINT)
               END AS edit_sim_q
             FROM prp)
      SELECT id_a, id_b, gap, edit_sim_q FROM sc
      WHERE edit_sim_q >= 300000
      ORDER BY id_a, id_b"""))

  /** (q223) Good–Turing unseen-mass audit per source
    * (Segments.goodTuring scaladoc): hapax share N₁/N and discounted
    * singleton count 2·N₂/N₁ from the count-of-counts grid.
    */
  val q223GoodTuring = Q(
    "q223_tx_good_turing",
    (s, dir) =>
      operators.Segments.goodTuring(t(s, dir, "documents"),
        "source", "text")
        .orderBy("source"),
    Some("""
      WITH tk AS (SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM tk GROUP BY 1, 2),
      coc AS (SELECT source, c, CAST(count(*) AS BIGINT) AS nr
              FROM tc GROUP BY 1, 2),
      ag AS (SELECT source,
               CAST(sum(c * nr) AS BIGINT) AS n_tokens,
               CAST(sum(nr) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN nr ELSE 0 END) AS BIGINT)
                 AS n_hapax,
               CAST(sum(CASE WHEN c = 2 THEN nr ELSE 0 END) AS BIGINT)
                 AS n_dis
             FROM coc GROUP BY 1)
      SELECT source, n_tokens, n_types, n_hapax, n_dis,
        CAST(floor(1000000.0 * CAST(n_hapax AS DOUBLE)
          / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS p_unseen_q,
        CASE WHEN n_hapax > 0 THEN
          CAST(floor(1000000.0 * 2.0 * CAST(n_dis AS DOUBLE)
            / CAST(n_hapax AS DOUBLE)) AS BIGINT)
        END AS r1_star_q
      FROM ag ORDER BY source"""))

  /** (q224) Hill tail-index of doc length per source (Robust.hillTail
    * scaladoc): ⌊10¹²·ln(X᙮/X_ref)⌋ per tail sample, integer mean,
    * α = ⌊10²⁴/H⌋ — the heavy-tail exponent that decides length caps.
    */
  val q224HillTail = Q(
    "q224_s_hill_tail",
    (s, dir) =>
      operators.Robust.hillTail(t(s, dir, "documents"), "source",
        "n_chars", k = 20)
        .orderBy("source"),
    Some("""
      WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v
             FROM documents WHERE n_chars > 0),
      r AS (SELECT source, v, row_number() OVER (PARTITION BY source
              ORDER BY v DESC) AS rn
            FROM v),
      top AS (SELECT * FROM r WHERE rn <= 21),
      rf AS (SELECT source, CAST(min(v) AS BIGINT) AS ref,
               CAST(count(*) AS BIGINT) AS n
             FROM top GROUP BY source HAVING count(*) >= 2),
      t AS (SELECT top.source, CAST(count(*) AS BIGINT) AS n_tail,
              any_value(rf.ref) AS x_ref,
              CAST(sum(CAST(floor(1000000000000.0
                * ln(CAST(top.v AS DOUBLE) / CAST(rf.ref AS DOUBLE)))
                AS BIGINT)) AS BIGINT) AS hsum
            FROM top JOIN rf USING (source)
            WHERE top.rn < rf.n GROUP BY top.source)
      SELECT source, n_tail, x_ref, hsum // n_tail AS hill_q,
        CASE WHEN hsum // n_tail > 0 THEN
          CAST(1000000000000000000000000::HUGEINT // (hsum // n_tail)
            AS BIGINT)
        END AS alpha_q
      FROM t ORDER BY source"""))

  /** (q225) Matthews correlation of the marker-heuristic language ID
    * against the stored lang, binarized to 'en' (Eval.mcc scaladoc):
    * the imbalance-honest confusion summary.
    */
  val q225Mcc = Q(
    "q225_ml_mcc",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
      operators.Eval.mcc(d, col("pred") === "en", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT (lang = 'en') AS y,
               (CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                     WHEN en = greatest(en, es, de, fr) THEN 'en'
                     WHEN es = greatest(en, es, de, fr) THEN 'es'
                     WHEN de = greatest(en, es, de, fr) THEN 'de'
                     ELSE 'fr' END = 'en') AS p
             FROM h),
      c AS (SELECT
          CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
          CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM pr)
      SELECT tp, fp, tn, fn,
        CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn) > 0
              AND CAST(tn + fp AS HUGEINT) * (tn + fn) > 0 THEN
          CAST(floor(1000000.0
            * CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
              AS DOUBLE)
            / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) AS DOUBLE)
              * CAST(CAST(tn + fp AS HUGEINT) * (tn + fn) AS DOUBLE)))
            AS BIGINT)
        END AS mcc_q
      FROM c"""))

  /** (q226) Binary-segmentation changepoint on daily event counts per
    * type (TimeAgg.binsegSplit scaladoc): the split maximizing
    * (S_t·B − S·t)²/(t·(B−t)), argmax by (score DESC, t ASC).
    */
  val q226BinsegSplit = Q(
    "q226_a_binseg_split",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull)
      val daily = e.withColumn("bucket",
          TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      TimeAgg.binsegSplit(daily, "event_type", "bucket", "x")
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events
             WHERE event_type IS NOT NULL),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      p AS (SELECT event_type, bucket,
              row_number() OVER (PARTITION BY event_type
                ORDER BY bucket ASC) AS t,
              CAST(sum(x) OVER (PARTITION BY event_type ORDER BY bucket ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS st,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
              CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
            FROM h),
      sc AS (SELECT event_type, bucket, t, n, st, s,
               CAST(floor(CAST((CAST(st AS HUGEINT) * n
                   - CAST(s AS HUGEINT) * t)
                 * (CAST(st AS HUGEINT) * n - CAST(s AS HUGEINT) * t)
                 AS DOUBLE)
                 / CAST(CAST(t AS HUGEINT) * (n - t) AS DOUBLE))
                 AS BIGINT) AS score_q
             FROM p WHERE t < n),
      am AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY score_q DESC, t ASC) AS rn
             FROM sc)
      SELECT event_type, n AS n_buckets, bucket AS split_after,
        t AS n_left, score_q,
        CAST(floor(1000000.0 * CAST(st AS DOUBLE) / CAST(t AS DOUBLE))
          AS BIGINT) AS mean_left_q,
        CAST(floor(1000000.0 * CAST(s - st AS DOUBLE)
          / CAST(n - t AS DOUBLE)) AS BIGINT) AS mean_right_q
      FROM am WHERE rn = 1 ORDER BY event_type"""))

  /** (q227) Perceptual-hash near-dup over the media stub features
    * (Multimodal.phashTable + Dedup.hammingPairs scaladoc): 60-bit
    * mean-threshold fingerprint, banded hamming join — EXACT at
    * maxHamming 3 < nChunks 4, so the all-pairs oracle reproduces the
    * banded scale path.
    */
  val q227PhashNearDup = Q(
    "q227_mm_phash_neardup",
    (s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8")
          .as("content"))
      val feats = graft.operators.Multimodal.extractFeatures(
        media, "content", dim = 60)
      Dedup.hammingPairs(
        graft.operators.Multimodal.phashTable(feats, "id", "features",
          bits = 60),
        maxHamming = 3, bits = 60, nChunks = 4)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH b AS (SELECT doc_id AS id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
             FROM documents),
      bytes AS (SELECT id, unnest(range(1, n + 1)) AS j, h FROM b),
      lanesum AS (SELECT id, (j - 1) % 60 AS lane,
               CAST(sum(('0x' || substr(h, 2 * j - 1, 2))::BIGINT)
                 % 16777216 AS BIGINT) AS v
             FROM bytes GROUP BY 1, 2),
      grid AS (SELECT b.id, l.lane, coalesce(ls.v, 0) AS v
             FROM b CROSS JOIN (SELECT unnest(range(0, 60)) AS lane) l
             LEFT JOIN lanesum ls ON ls.id = b.id AND ls.lane = l.lane),
      fp AS (SELECT id,
               CAST(sum(CASE WHEN v * 60 > tot
                 THEN (CAST(1 AS BIGINT) << CAST(lane AS INT))
                 ELSE 0 END) AS BIGINT) AS fp
             FROM (SELECT *, CAST(sum(v) OVER (PARTITION BY id) AS BIGINT)
                     AS tot FROM grid)
             GROUP BY id)
      SELECT a.id AS id_a, bb.id AS id_b,
        CAST(bit_count(xor(a.fp, bb.fp)) AS INT) AS hamming
      FROM fp a JOIN fp bb ON a.id < bb.id
      WHERE bit_count(xor(a.fp, bb.fp)) <= 3
      ORDER BY id_a, id_b"""))

  /** (q228) Distinct-l diversity audit (Curation.lDiversity scaladoc):
    * the k-anonymity companion — a group is diverse iff its sensitive
    * column takes ≥ l distinct values.
    */
  val q228LDiversity = Q(
    "q228_s_ldiversity",
    (s, dir) => {
      val ev0 = ev(s, dir)
      val e = ev0.withColumn("week",
        TimeAgg.timeBucketSec(col("ts_us"), 7L * 86400))
      operators.Curation.lDiversity(e, Seq("event_type", "week"),
        "user_id", l = 3)
        .orderBy("event_type", "week")
    },
    Some(s"""
      WITH g AS (SELECT event_type,
               ($EvUs // 604800000000) * 604800 AS week, user_id
             FROM events),
      d AS (SELECT event_type, week, user_id,
              CAST(count(*) AS BIGINT) AS c
            FROM g GROUP BY 1, 2, 3)
      SELECT event_type, week, CAST(sum(c) AS BIGINT) AS grp_n,
        CAST(count(*) AS BIGINT) AS n_sensitive,
        count(*) >= 3 AS diverse
      FROM d GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** (q229) RFM user segmentation (TimeAgg.rfmSegments scaladoc):
    * exact-rank quartile bins over recency/frequency/monetary, ties by
    * user id — the oracle replays the rank with one window per metric.
    */
  val q229RfmSegments = Q(
    "q229_a_rfm_segments",
    (s, dir) => {
      val e = ev(s, dir)
      TimeAgg.rfmSegments(e, "user_id", "ts_us", "value", k = 4)
        .orderBy("user_id")
    },
    Some(s"""
      WITH per AS (SELECT user_id,
               CAST(max($EvUs) AS BIGINT) AS last_us,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS monetary_cents
             FROM events GROUP BY user_id),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
      r AS (SELECT user_id,
              ((row_number() OVER (ORDER BY last_us ASC, user_id ASC) - 1)
                * 4) // n.n + 1 AS r_bin,
              ((row_number() OVER (ORDER BY freq ASC, user_id ASC) - 1)
                * 4) // n.n + 1 AS f_bin,
              ((row_number() OVER (ORDER BY monetary_cents ASC, user_id ASC)
                - 1) * 4) // n.n + 1 AS m_bin
            FROM per CROSS JOIN n)
      SELECT per.user_id, per.last_us, per.freq, per.monetary_cents,
        CAST(r.r_bin AS BIGINT) AS r_bin, CAST(r.f_bin AS BIGINT) AS f_bin,
        CAST(r.m_bin AS BIGINT) AS m_bin,
        CAST(r.r_bin * 100 + r.f_bin * 10 + r.m_bin AS BIGINT) AS rfm_code
      FROM per JOIN r USING (user_id) ORDER BY user_id"""))

  /** (q230) Expected reciprocal rank @5 (Eval.errAtK scaladoc): the
    * cascade-model metric with binary-½ relevance — every term an
    * exact dyadic rational, the whole metric computed with ZERO
    * floating point (scale 2⁵·lcm(1..5) = 1920).
    */
  val q230Err = Q(
    "q230_ret_err",
    (s, dir) =>
      operators.Eval.errAtK(labeledKnn(s, dir), k = 5)
        .orderBy("query_id"),
    Some(s"""
      WITH $KnnRelOracle,
      t AS (SELECT query_id, rank, rel,
              coalesce(CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END)
                OVER (PARTITION BY query_id ORDER BY rank ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS m
            FROM rk WHERE rank <= 5),
      e AS (SELECT query_id,
              CAST(sum(CASE WHEN rel
                THEN 1920 // ((CAST(1 AS BIGINT) << CAST(m + 1 AS INT))
                  * rank)
                ELSE 0 END) AS BIGINT) AS err_s
            FROM t GROUP BY query_id)
      SELECT query_id, (1000000000000 * err_s) // 1920 AS err_q
      FROM e ORDER BY query_id"""))

  /** (q231) Weekday seasonality profile per event type
    * (TimeAgg.weekdayProfile scaladoc): dow = (epochDays+3) mod 7,
    * 0 = Monday — pure integer arithmetic, no calendar functions.
    */
  val q231WeekdayProfile = Q(
    "q231_a_weekday_profile",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull)
      TimeAgg.weekdayProfile(e, "event_type", "ts_us")
        .orderBy("event_type", "dow")
    },
    Some(s"""
      WITH g AS (SELECT event_type,
               (($EvUs // 86400000000) + 3) % 7 AS dow
             FROM events WHERE event_type IS NOT NULL),
      grid AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
             FROM g GROUP BY 1, 2),
      tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
             FROM grid GROUP BY 1)
      SELECT grid.event_type, grid.dow, grid.n,
        CAST(floor(1000000.0 * CAST(grid.n AS DOUBLE)
          / CAST(tt.tot AS DOUBLE)) AS BIGINT) AS share_q
      FROM grid JOIN tt USING (event_type)
      ORDER BY event_type, dow"""))

  /** (q232) Per-source duplicate token mass (Dedup.duplicateMass
    * scaladoc): fraction of each source's tokens in non-canonical
    * exact-dup docs — repeated-signal attribution, not dup-doc counts.
    */
  val q232DupMass = Q(
    "q232_s_dup_mass",
    (s, dir) =>
      Dedup.duplicateMass(t(s, dir, "documents"), "source", "doc_id",
        "text")
        .orderBy("source"),
    Some("""
      WITH h AS (SELECT source, doc_id AS id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                 ELSE len(list_filter(regexp_split_to_array(
                   lower(trim(text)), '\s+'), x -> len(x) > 0)) END AS tok,
               ('0x' || substr(md5(coalesce(regexp_replace(lower(trim(text)),
                 '\s+', ' ', 'g'), '')), 1, 15))::BIGINT AS ch
             FROM documents),
      k AS (SELECT ch, min(id) AS keeper FROM h GROUP BY ch)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_docs,
        CAST(sum(tok) AS BIGINT) AS tokens,
        CAST(sum(CASE WHEN id <> keeper THEN tok ELSE 0 END) AS BIGINT)
          AS dup_tokens,
        CASE WHEN sum(tok) > 0 THEN
          CAST(floor(1000000.0
            * CAST(sum(CASE WHEN id <> keeper THEN tok ELSE 0 END)
              AS DOUBLE)
            / CAST(sum(tok) AS DOUBLE)) AS BIGINT)
        END AS dup_ratio_q
      FROM h JOIN k USING (ch) GROUP BY source ORDER BY source"""))

  /** (q233) Adjusted Rand index between the stored lang partition and
    * the marker-heuristic prediction (Eval.adjustedRand scaladoc):
    * co-membership agreement from exact pair counts — label-name free,
    * unlike kappa.
    */
  val q233AdjustedRand = Q(
    "q233_ml_adjusted_rand",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
      operators.Eval.adjustedRand(d, "lang", "pred")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT lang AS a,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS b
             FROM h WHERE lang IS NOT NULL),
      g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
            FROM pr GROUP BY 1, 2),
      cells AS (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2)
                  AS HUGEINT) AS sij,
                CAST(sum(n) AS BIGINT) AS nn FROM g),
      am AS (SELECT CAST(sum(CAST(na AS HUGEINT) * (na - 1) // 2)
               AS HUGEINT) AS sa
             FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na
                   FROM g GROUP BY a)),
      bm AS (SELECT CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2)
               AS HUGEINT) AS sb
             FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb
                   FROM g GROUP BY b))
      SELECT nn AS n_items,
        CASE WHEN CAST(nn AS HUGEINT) * (nn - 1) // 2 > 0 THEN
          CAST(floor(1000000.0 *
            CAST(CAST(nn AS HUGEINT) * (nn - 1) // 2 + 2 * sij - sa - sb
              AS DOUBLE)
            / CAST(CAST(nn AS HUGEINT) * (nn - 1) // 2 AS DOUBLE))
            AS BIGINT)
        END AS index_q,
        CASE WHEN (sa + sb) * (CAST(nn AS HUGEINT) * (nn - 1) // 2)
              <> 2 * sa * sb THEN
          CAST(floor(1000000.0 *
            CAST(sij * (CAST(nn AS HUGEINT) * (nn - 1) // 2) - sa * sb
              AS DOUBLE)
            / (CAST((sa + sb) * (CAST(nn AS HUGEINT) * (nn - 1) // 2)
               - 2 * sa * sb AS DOUBLE) / 2.0)) AS BIGINT)
        END AS ari_q
      FROM cells CROSS JOIN am CROSS JOIN bm"""))

  /** (q234) OCR-garbage token ratio (TextFns.garbageTokenRatioQ
    * scaladoc): letter-digit-mix and over-long tokens — the scan-stage
    * rescue/reject signal encoding audits don't see.
    */
  val q234GarbageRatio = Q(
    "q234_tx_garbage_ratio",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.garbageTokenRatioQ(col("text")).as("garbage_ratio_q"))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS toks
        FROM documents)
      SELECT doc_id,
        CASE WHEN len(toks) > 0 THEN
          CAST(floor(1000000.0 * CAST(len(list_filter(toks,
            t -> regexp_matches(t, '^[a-z]+[0-9]+[a-z0-9]*$')
              OR len(t) > 20)) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)) AS BIGINT)
        END AS garbage_ratio_q
      FROM d ORDER BY doc_id"""))


  // =====================================================================
  // Round-8 session-8: survival / privacy / sampling / cluster-quality
  // =====================================================================

  /** (q235) t-closeness audit (Curation.tCloseness scaladoc): ordered
    * EMD between each event type's value-band distribution and the
    * corpus-wide one, exact on the integer grid grp_n·N.
    */
  val q235TCloseness = Q(
    "q235_s_tcloseness",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull &&
          col("value").isNotNull)
        .withColumn("band", floor(col("value") / 10.0).cast("long"))
      Curation.tCloseness(e, Seq("event_type"), "band", tQ = 150000L)
        .orderBy("event_type")
    },
    Some("""
      WITH cells AS (SELECT event_type,
               CAST(floor(value / 10.0) AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS c
             FROM events
             WHERE event_type IS NOT NULL AND value IS NOT NULL
             GROUP BY 1, 2),
      gdist AS (SELECT band, CAST(sum(c) AS BIGINT) AS gc
               FROM cells GROUP BY 1),
      grp AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS grp_n
              FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(gc) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS m FROM gdist),
      grid AS (SELECT g.event_type, g.grp_n, gl.band, gl.gc,
                 coalesce(c.c, 0) AS c
               FROM grp g CROSS JOIN gdist gl
               LEFT JOIN cells c
                 ON c.event_type = g.event_type AND c.band = gl.band),
      cum AS (SELECT event_type, grp_n,
                CAST(sum(c) OVER (PARTITION BY event_type
                  ORDER BY band ASC) AS HUGEINT) AS cumc,
                CAST(sum(gc) OVER (PARTITION BY event_type
                  ORDER BY band ASC) AS HUGEINT) AS cumg
              FROM grid),
      agg AS (SELECT event_type, grp_n,
                CAST(sum(abs(cumc * t.n - cumg * grp_n)) AS HUGEINT) AS dsum,
                CAST(max(t.n) AS HUGEINT) AS n, CAST(max(t.m) AS BIGINT) AS m
              FROM cum CROSS JOIN tot t GROUP BY 1, 2)
      SELECT event_type, grp_n, m AS m_values,
        CASE WHEN m > 1 THEN
          CAST((1000000 * dsum) // (CAST(grp_n AS HUGEINT) * n * (m - 1))
            AS BIGINT)
        ELSE 0 END AS emd_q,
        (CASE WHEN m > 1 THEN
          CAST((1000000 * dsum) // (CAST(grp_n AS HUGEINT) * n * (m - 1))
            AS BIGINT)
        ELSE 0 END) <= 150000 AS close
      FROM agg ORDER BY event_type"""))

  /** (q236) k-core of the mutual-5-NN similarity graph (Graph.kCore
    * scaladoc): bounded-round degree peel; the oracle replays the same
    * PEEL_ROUNDS rounds as chained CTEs (bounded-round semantics —
    * identical whether or not the fixpoint landed earlier).
    */
  val q236KCore = Q(
    "q236_g_kcore",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.kCore(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), k = 3,
        rounds = 8)
        .orderBy("id")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      e0 AS MATERIALIZED (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      d0 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
             GROUP BY id),
      e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0
               JOIN d0 da ON da.id = e0.a JOIN d0 db ON db.id = e0.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d1 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1)
             GROUP BY id),
      e2 AS MATERIALIZED (SELECT e1.a, e1.b FROM e1
               JOIN d1 da ON da.id = e1.a JOIN d1 db ON db.id = e1.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d2 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2)
             GROUP BY id),
      e3 AS MATERIALIZED (SELECT e2.a, e2.b FROM e2
               JOIN d2 da ON da.id = e2.a JOIN d2 db ON db.id = e2.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d3 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
             GROUP BY id),
      e4 AS MATERIALIZED (SELECT e3.a, e3.b FROM e3
               JOIN d3 da ON da.id = e3.a JOIN d3 db ON db.id = e3.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d4 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4)
             GROUP BY id),
      e5 AS MATERIALIZED (SELECT e4.a, e4.b FROM e4
               JOIN d4 da ON da.id = e4.a JOIN d4 db ON db.id = e4.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d5 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e5 UNION ALL SELECT b FROM e5)
             GROUP BY id),
      e6 AS MATERIALIZED (SELECT e5.a, e5.b FROM e5
               JOIN d5 da ON da.id = e5.a JOIN d5 db ON db.id = e5.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d6 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e6 UNION ALL SELECT b FROM e6)
             GROUP BY id),
      e7 AS MATERIALIZED (SELECT e6.a, e6.b FROM e6
               JOIN d6 da ON da.id = e6.a JOIN d6 db ON db.id = e6.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      d7 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT a AS id FROM e7 UNION ALL SELECT b FROM e7)
             GROUP BY id),
      e8 AS MATERIALIZED (SELECT e7.a, e7.b FROM e7
               JOIN d7 da ON da.id = e7.a JOIN d7 db ON db.id = e7.b
               WHERE da.dg >= 3 AND db.dg >= 3),
      df AS (SELECT id, CAST(count(*) AS BIGINT) AS core_degree FROM (
               SELECT a AS id FROM e8
               UNION ALL SELECT b FROM e8)
             GROUP BY id)
      SELECT id, core_degree FROM df WHERE core_degree >= 3
      ORDER BY id"""))

  /** (q237) Kendall tau-b between daily event volume and daily revenue
    * per event type (Stats.kendallTau scaladoc): exact
    * concordant/discordant/tie pair counts over the bounded day grid,
    * one sqrt-divide at the end.
    */
  val q237Kendall = Q(
    "q237_st_kendall",
    (s, dir) => {
      val g = ev(s, dir).filter(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("ts_us div 86400000000L").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(dec(col("value")) * 100).cast("long").as("y"))
      operators.Stats.kendallTau(g, "event_type", "day", "x", "y")
        .orderBy("event_type")
    },
    Some(s"""
      WITH g AS (SELECT event_type, $EvUs // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT a.event_type,
              CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1
                   WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN -1
                   ELSE 0 END AS s,
              CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
              CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
            FROM g a JOIN g b
              ON a.event_type = b.event_type AND a.day < b.day),
      agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS concordant,
                CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS discordant,
                CAST(sum(tx) AS BIGINT) AS n1,
                CAST(sum(ty) AS BIGINT) AS n2
              FROM p GROUP BY 1)
      SELECT event_type, n0, concordant, discordant,
        CASE WHEN CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE) > 0
          THEN CAST(floor(1000000.0 * CAST(concordant - discordant AS DOUBLE)
            / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)))
            AS BIGINT)
        END AS tau_q
      FROM agg ORDER BY event_type"""))

  /** (q238) Kaplan-Meier time-to-next-event curve
    * (TimeAgg.interEventSurvival / kmFromDurations scaladoc): every
    * event is a subject, duration = whole-day gap to the same user's
    * next event, the user's last event right-censored at the corpus
    * edge; survival on the quantized-ln grid.
    */
  val q238KaplanMeier = Q(
    "q238_a_kaplan_meier",
    (s, dir) =>
      TimeAgg.interEventSurvival(ev(s, dir), "user_id", "event_id",
        "ts_us")
        .orderBy("t_days"),
    Some(s"""
      WITH ev0 AS (SELECT user_id, event_id,
               CAST($EvUs AS BIGINT) AS us FROM events),
      mx AS (SELECT max(us) AS mx FROM ev0),
      su AS (SELECT us, lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC, event_id ASC) AS nxt
             FROM ev0),
      du AS (SELECT CASE WHEN nxt IS NOT NULL
                 THEN (nxt - us) // 86400000000
                 ELSE (mx - us) // 86400000000 END AS t_days,
               nxt IS NOT NULL AS obs
             FROM su CROSS JOIN mx),
      g AS (SELECT t_days,
              CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                AS d_events,
              CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
            FROM du GROUP BY 1),
      r AS (SELECT *,
              CAST(sum(d_events + n_censored) OVER () AS BIGINT)
                - coalesce(CAST(sum(d_events + n_censored) OVER (
                    ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n_risk
            FROM g),
      q AS (SELECT *,
              CASE WHEN d_events = 0 THEN 0
                   WHEN d_events < n_risk THEN
                CAST(floor(1000000000000.0
                  * ln(CAST(n_risk - d_events AS DOUBLE)
                    / CAST(n_risk AS DOUBLE))) AS BIGINT)
              END AS lnq,
              max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) OVER (
                ORDER BY t_days ASC) AS dead
            FROM r)
      SELECT t_days, n_risk, d_events, n_censored,
        CASE WHEN dead = 1 THEN 0
          ELSE CAST(floor(1000000.0 * exp(
            CAST(sum(lnq) OVER (ORDER BY t_days ASC) AS DOUBLE)
              / 1000000000000.0)) AS BIGINT)
        END AS surv_q
      FROM q ORDER BY t_days"""))

  /** (q239) Simplified silhouette under the q95 k-means
    * (Similarity.silhouetteSimplified scaladoc): cosine dissimilarity
    * to own vs best-other centroid from the SAME per-(vector, centroid)
    * scores the assignment ranks — the oracle reuses q95's CTE chain.
    */
  val q239Silhouette = Q(
    "q239_ann_silhouette",
    (s, dir) =>
      Similarity.silhouetteSimplified(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("vec_id"),
    Some(s"""
      WITH $Kmeans8x2Cte,
      fin AS (SELECT vec_id, cid, ccos, row_number() OVER (
                PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC)
                AS rn
              FROM af),
      top2 AS (SELECT vec_id,
                 max(CASE WHEN rn = 1 THEN cid END) AS cluster,
                 max(CASE WHEN rn = 1 THEN ccos END) AS cos1,
                 max(CASE WHEN rn = 2 THEN ccos END) AS cos2
               FROM fin WHERE rn <= 2 GROUP BY vec_id)
      SELECT vec_id, cluster, round(cos1, 6) AS cos,
        CASE WHEN greatest(1.0 - cos1, 1.0 - cos2) > 0 THEN
          CAST(floor(1000000.0 * ((1.0 - cos2) - (1.0 - cos1))
            / greatest(1.0 - cos1, 1.0 - cos2)) AS BIGINT)
        ELSE 0 END AS sil_q
      FROM top2 ORDER BY vec_id"""))

  /** (q240) Systematic PPS sample with Horvitz-Thompson weights
    * (Packing.systematicSample scaladoc): n=200 grid points over the
    * n_chars mass line, offset 17 — selection counts and weights all
    * exact integers.
    */
  val q240SystematicPps = Q(
    "q240_s_systematic_pps",
    (s, dir) =>
      operators.Packing.systematicSample(t(s, dir, "documents"),
        "doc_id", "n_chars", n = 200, offset = 17L)
        .withColumn("weight_q", col("weight_q").cast("long"))
        .orderBy("doc_id"),
    Some("""
      WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS sz
             FROM documents WHERE n_chars > 0),
      t AS (SELECT CAST(sum(sz) AS HUGEINT) AS tot FROM b),
      c AS (SELECT doc_id, sz,
              CAST(sum(sz) OVER (ORDER BY doc_id ASC) AS HUGEINT) AS cum
            FROM b),
      s AS (SELECT doc_id, sz, tot,
              (cum * 200 - 17 + tot - 1) // tot
                - ((cum - sz) * 200 - 17 + tot - 1) // tot AS m
            FROM c CROSS JOIN t)
      SELECT doc_id, sz AS size, CAST(m AS BIGINT) AS m_copies,
        CAST(greatest(1000000,
          (1000000 * tot) // (200 * CAST(sz AS HUGEINT))) AS BIGINT)
          AS weight_q
      FROM s WHERE m >= 1 ORDER BY doc_id"""))

  // =====================================================================
  // Round-8 session-9: link prediction, classical tests, targeting
  // diagnostics, keyword extraction, seasonal decomposition
  // =====================================================================

  /** (q241) Adamic–Adar link prediction over the mutual-5-NN graph
    * (Graph.adamicAdar scaladoc): inverse-log common-neighbor weights
    * quantized per neighbor before the integer sum; top-30 predicted
    * links via TakeOrderedAndProject (no global sort).
    */
  val q241AdamicAdar = Q(
    "q241_g_adamic_adar",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.adamicAdar(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), topK = 30)
        .orderBy("x", "y")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS dg
              FROM sym GROUP BY 1),
      adj AS (SELECT a AS z, b AS x FROM sym),
      wed AS (SELECT a1.z, a1.x AS x, a2.x AS y
              FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.x < a2.x),
      cand AS (SELECT w.z, w.x, w.y FROM wed w
               WHERE NOT EXISTS (SELECT 1 FROM mut m
                   WHERE m.a = w.x AND m.b = w.y)),
      aasc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS common_neighbors,
                 CAST(sum(CAST(floor(1000000000.0 / ln(CAST(dg AS DOUBLE)))
                   AS BIGINT)) AS BIGINT) AS aa_q
               FROM cand JOIN deg USING (z) GROUP BY x, y)
      SELECT x, y, common_neighbors, aa_q
      FROM (SELECT * FROM aasc ORDER BY aa_q DESC, x ASC, y ASC LIMIT 30)
      ORDER BY x, y"""))

  /** (q242) One-vs-rest Welch's t-test per source on n_chars
    * (Stats.welchT scaladoc): exact decimal moments, rest side by
    * integer difference, one mirrored fp sequence for t and the
    * Welch–Satterthwaite df.
    */
  val q242WelchT = Q(
    "q242_a_welch_t",
    (s, dir) =>
      operators.Stats.welchT(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source"),
    Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n1,
               CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS q1
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1),
      t AS (SELECT CAST(sum(n1) AS BIGINT) AS nt,
              CAST(sum(s1) AS HUGEINT) AS st,
              CAST(sum(q1) AS HUGEINT) AS qt FROM g),
      e AS (SELECT source, n1, nt - n1 AS n2,
              CAST(n1 AS DOUBLE) AS dn1, CAST(nt - n1 AS DOUBLE) AS dn2,
              CAST(s1 AS DOUBLE) AS ds1, CAST(q1 AS DOUBLE) AS dq1,
              CAST(st - s1 AS DOUBLE) AS ds2,
              CAST(qt - q1 AS DOUBLE) AS dq2
            FROM g CROSS JOIN t)
      SELECT source, n1, n2,
        CASE WHEN n1 >= 2 AND n2 >= 2 THEN
          CAST(floor(1000000.0 * (ds1 / dn1 - ds2 / dn2) /
            sqrt(((dq1 - ds1 * ds1 / dn1) / (dn1 - 1.0)) / dn1 +
                 ((dq2 - ds2 * ds2 / dn2) / (dn2 - 1.0)) / dn2))
            AS BIGINT) END AS t_q,
        CASE WHEN n1 >= 2 AND n2 >= 2 THEN
          CAST(floor(1000000.0 *
            (((dq1 - ds1 * ds1 / dn1) / (dn1 - 1.0)) / dn1 +
             ((dq2 - ds2 * ds2 / dn2) / (dn2 - 1.0)) / dn2) *
            (((dq1 - ds1 * ds1 / dn1) / (dn1 - 1.0)) / dn1 +
             ((dq2 - ds2 * ds2 / dn2) / (dn2 - 1.0)) / dn2) /
            ((((dq1 - ds1 * ds1 / dn1) / (dn1 - 1.0)) / dn1) *
             (((dq1 - ds1 * ds1 / dn1) / (dn1 - 1.0)) / dn1) / (dn1 - 1.0) +
             (((dq2 - ds2 * ds2 / dn2) / (dn2 - 1.0)) / dn2) *
             (((dq2 - ds2 * ds2 / dn2) / (dn2 - 1.0)) / dn2) / (dn2 - 1.0)))
            AS BIGINT) END AS df_q
      FROM e ORDER BY source"""))

  /** (q243) Cramér's V association strength for source × lang
    * (Stats.cramersV scaladoc): integer sum of the q196 per-cell
    * ⌊10⁶·contrib⌋ quantities, one final sqrt.
    */
  val q243CramersV = Q(
    "q243_a_cramers_v",
    (s, dir) =>
      operators.Stats.cramersV(t(s, dir, "documents"), "source", "lang"),
    Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS tt FROM cells),
      j AS (SELECT source, lang, o,
              CAST(floor(1000000.0 *
                CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE)
                / CAST(tt AS DOUBLE)) AS BIGINT) AS e_q,
              CAST(floor(1000000.0 *
                CAST((CAST(tt AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
                   * (CAST(tt AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
                  AS DOUBLE)
                / CAST(CAST(tt AS HUGEINT) * rt * ct AS DOUBLE)) AS BIGINT)
                AS contrib_q
            FROM cells JOIN r USING (source) JOIN c USING (lang)
            CROSS JOIN t),
      agg AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                CAST(count(DISTINCT source) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_cols,
                CAST(sum(contrib_q) + 1000000 * sum(o) - sum(e_q)
                  AS BIGINT) AS chi2_q FROM j)
      SELECT n, n_rows, n_cols, chi2_q,
        CASE WHEN least(n_rows, n_cols) >= 2 THEN
          CAST(floor(1000000.0 * sqrt(CAST(chi2_q AS DOUBLE) /
            (1000000.0 * CAST(n AS DOUBLE) *
             CAST(least(n_rows, n_cols) - 1 AS DOUBLE)))) AS BIGINT)
        ELSE 0 END AS v_q
      FROM agg"""))

  /** (q244) McNemar's paired test (Eval.mcnemar scaladoc): langId
    * vs the en-stopword-count heuristic as "is English" classifiers
    * against the stored lang — pure integer statistic on the
    * discordant counts.
    */
  val q244McNemar = Q(
    "q244_ml_mcnemar",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
      val enCnt = size(filter(split(lower(trim(col("text"))), "\\s+"),
        x => x.isin("the", "and", "of", "to", "a", "in", "is")))
      operators.Eval.mcnemar(d,
        TextFns.langId(col("text")) === lit("en"),
        enCnt >= 3,
        col("lang") === lit("en"))
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      p AS (SELECT
              (CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END = 'en') AS pa,
              (en >= 3) AS pb, (lang = 'en') AS tr
            FROM h),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN pa = tr AND pb = tr THEN 1 ELSE 0 END)
                AS BIGINT) AS both_right,
              CAST(sum(CASE WHEN pa <> tr AND pb <> tr THEN 1 ELSE 0 END)
                AS BIGINT) AS both_wrong,
              CAST(sum(CASE WHEN pa = tr AND pb <> tr THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
              CAST(sum(CASE WHEN pa <> tr AND pb = tr THEN 1 ELSE 0 END)
                AS BIGINT) AS c
            FROM p)
      SELECT n, both_right, both_wrong, b, c,
        CASE WHEN b + c > 0 THEN
          (1000000 * (b - c) * (b - c)) // (b + c) END AS stat_q
      FROM m"""))

  /** (q245) Decile lift table of the en-stopword-count score against
    * the "is English" label (Eval.liftTable scaladoc): exact
    * bucket-offset global rank, all-integer rates and cumulative
    * lift.
    */
  val q245LiftTable = Q(
    "q245_ml_lift_table",
    (s, dir) => {
      val enCnt = size(filter(split(lower(trim(col("text"))), "\\s+"),
        x => x.isin("the", "and", "of", "to", "a", "in", "is")))
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), enCnt.cast("long").as("score"), col("lang"))
      operators.Eval.liftTable(d, "score", col("lang") === lit("en"),
        bins = 10, tieCols = Seq("doc_id"))
        .orderBy("bin")
    },
    Some("""
      WITH d AS (SELECT doc_id,
          CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x IN ('the','and','of','to','a','in','is'))) AS BIGINT)
            AS score,
          (lang = 'en') AS lbl
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
      r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS rn, count(*) OVER () AS nn FROM d),
      b AS (SELECT ((rn - 1) * 10) // nn AS bin,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT)
                AS positives,
              CAST(max(nn) AS BIGINT) AS tn
            FROM r GROUP BY 1),
      w AS (SELECT bin, n, positives, tn,
              CAST(sum(n) OVER (ORDER BY bin ASC) AS BIGINT) AS cum_n,
              CAST(sum(positives) OVER (ORDER BY bin ASC) AS BIGINT)
                AS cum_p,
              CAST(sum(positives) OVER () AS BIGINT) AS tot_p
            FROM b)
      SELECT bin, n, positives,
        (1000000 * positives) // n AS rate_q,
        CASE WHEN tot_p > 0 THEN
          (1000000 * cum_p * tn) // (cum_n * tot_p)
        ELSE 0 END AS cum_lift_q
      FROM w ORDER BY bin"""))

  /** (q246) RAKE keyword extraction per source (Segments.rakeKeywords
    * scaladoc): stopword-delimited candidate phrases, integer
    * degree-over-frequency word scores, top-10 phrases per source.
    */
  val q246Rake = Q(
    "q246_tx_rake_keywords",
    (s, dir) =>
      operators.Segments.rakeKeywords(
        t(s, dir, "documents")
          .filter(col("text").isNotNull && col("source").isNotNull),
        "source", "doc_id", "text", Stopwords,
        maxPhraseLen = 4, topK = 10)
        .orderBy("source", "phrase"),
    Some("""
      WITH d AS (SELECT source, doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS ts
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      tok AS (SELECT source, doc_id, u.i, ts[u.i] AS t,
                CASE WHEN ts[u.i] IN ('the','a','of','and','to','in','is')
                  THEN 1 ELSE 0 END AS st
              FROM d, LATERAL unnest(range(1, len(ts) + 1)) u(i)),
      ph0 AS (SELECT source, doc_id, i, t, st,
                sum(st) OVER (PARTITION BY source, doc_id ORDER BY i)
                  AS pid
              FROM tok),
      ph AS (SELECT source, doc_id, pid, list(t ORDER BY i) AS ptoks
             FROM ph0 WHERE st = 0 GROUP BY source, doc_id, pid
             HAVING count(*) <= 4),
      ws AS (SELECT source, w,
               (1000000 * CAST(sum(ln0) AS BIGINT))
                 // CAST(count(*) AS BIGINT) AS wq
             FROM (SELECT source, len(ptoks) AS ln0, unnest(ptoks) AS w
                   FROM ph)
             GROUP BY source, w),
      occ AS (SELECT o.source, o.doc_id, o.pid, o.phrase,
                CAST(sum(ws.wq) AS BIGINT) AS score
              FROM (SELECT source, doc_id, pid,
                      array_to_string(ptoks, ' ') AS phrase,
                      unnest(ptoks) AS w
                    FROM ph) o
              JOIN ws ON ws.source = o.source AND ws.w = o.w
              GROUP BY o.source, o.doc_id, o.pid, o.phrase),
      bp AS (SELECT source, phrase,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               max(score) AS score_q
             FROM occ GROUP BY source, phrase),
      rk AS (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY score_q DESC, phrase ASC) AS rn FROM bp)
      SELECT source, phrase, n_occurrences, score_q
      FROM rk WHERE rn <= 10 ORDER BY source, phrase"""))

  /** (q247) Weekly seasonal decomposition of daily event counts per
    * event type (TimeAgg.seasonalDecompose scaladoc): exact MA-7
    * trend, integer detrend, weekday seasonal means, residuals.
    */
  val q247SeasonalDecompose = Q(
    "q247_a_seasonal_decompose",
    (s, dir) =>
      operators.TimeAgg.seasonalDecompose(
        ev(s, dir).filter(col("event_type").isNotNull),
        "event_type", "ts_us")
        .orderBy("event_type", "day"),
    Some(s"""
      WITH c AS (SELECT event_type, $EvUs // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS x
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      sp AS (SELECT event_type, min(d) AS lo, max(d) AS hi
             FROM c GROUP BY 1),
      grid AS (SELECT sp.event_type, u.day
               FROM sp, LATERAL unnest(range(lo, hi + 1)) u(day)),
      dn AS (SELECT g.event_type, g.day, coalesce(c.x, 0) AS x
             FROM grid g LEFT JOIN c
               ON c.event_type = g.event_type AND c.d = g.day),
      ma AS (SELECT event_type, day, x,
               count(*) OVER w AS wn,
               CAST(sum(x) OVER w AS BIGINT) AS s7
             FROM dn WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      f AS (SELECT event_type, day, x,
              (1000000 * s7) // 7 AS trend_q,
              1000000 * x - (1000000 * s7) // 7 AS detr_q,
              (day + 3) % 7 AS dow
            FROM ma WHERE wn = 7),
      se AS (SELECT event_type, dow,
               CAST(floor(CAST(sum(detr_q) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_q
             FROM f GROUP BY 1, 2)
      SELECT f.event_type, f.day, f.x, f.trend_q, f.detr_q,
        se.seasonal_q, f.detr_q - se.seasonal_q AS resid_q
      FROM f JOIN se USING (event_type, dow)
      ORDER BY event_type, day"""))

  /** (q248) Hilbert-curve layout key (plans.HilbertIndex scaladoc):
    * the locality-tighter alternative to q181's Morton key, native
    * codegen'd xy→d walk; the oracle replays the 8 rotate/reflect
    * levels as a recursive CTE.
    */
  val q248Hilbert = Q(
    "q248_s_hilbert_key",
    (s, dir) => {
      val e = ev(s, dir)
      val hk = operators.Layout.hilbertKey(
        pmod(col("user_id"), lit(256L)),
        pmod(expr("ts_us div 86400000000L"), lit(256L)), bits = 8)
      e.select(col("event_id"), hk.as("hkey")).orderBy("event_id")
    },
    Some(s"""
      WITH RECURSIVE b AS (SELECT event_id,
               CAST(user_id % 256 AS BIGINT) AS x,
               CAST(($EvUs // 86400000000) % 256 AS BIGINT) AS y
             FROM events),
      h AS (
        SELECT event_id, x, y, CAST(0 AS BIGINT) AS d,
          CAST(128 AS BIGINT) AS s
        FROM b
        UNION ALL
        SELECT event_id,
          CASE WHEN (y & s) = 0 THEN
            (CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END)
            ELSE x END,
          CASE WHEN (y & s) = 0 THEN
            (CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END)
            ELSE y END,
          d + s * s * (CASE WHEN (x & s) > 0 AND (y & s) = 0 THEN 3
                            WHEN (x & s) > 0 THEN 2
                            WHEN (y & s) > 0 THEN 1 ELSE 0 END),
          s // 2
        FROM h WHERE s > 0)
      SELECT event_id, d AS hkey FROM h WHERE s = 0
      ORDER BY event_id"""))

  /** (q249) Friedman rank test (Stats.friedman scaladoc): do the
    * event types rank differently across days — blocks = days,
    * treatments = event types, cell value = daily count, REAL zeros
    * on the densified grid, doubled-midrank exact longs.
    */
  val q249Friedman = Q(
    "q249_a_friedman",
    (s, dir) =>
      operators.Stats.friedman(
        ev(s, dir).filter(col("event_type").isNotNull)
          .withColumn("day", expr("ts_us div 86400000000L"))
          .withColumn("one", lit(1L)),
        "day", "event_type", "one"),
    Some(s"""
      WITH c AS (SELECT $EvUs // 86400000000 AS b, event_type AS t,
               CAST(count(*) AS BIGINT) AS x
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      bl AS (SELECT DISTINCT b FROM c),
      tr AS (SELECT DISTINCT t FROM c),
      grid AS (SELECT bl.b, tr.t, coalesce(c.x, 0) AS x
               FROM bl CROSS JOIN tr
               LEFT JOIN c ON c.b = bl.b AND c.t = tr.t),
      r AS (SELECT b, t,
              2 * rank() OVER (PARTITION BY b ORDER BY x)
                + count(*) OVER (PARTITION BY b, x) - 1 AS r2
            FROM grid),
      rs AS (SELECT t, CAST(sum(r2) AS BIGINT) AS rs FROM r GROUP BY t),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(rs * rs) AS BIGINT) AS r2_ssq FROM rs),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM bl)
      SELECT n_blocks, k, r2_ssq,
        CASE WHEN n_blocks >= 1 AND k >= 2 THEN
          CAST(floor(1000000.0 * (3.0 * CAST(r2_ssq AS DOUBLE)
            / CAST(n_blocks * k * (k + 1) AS DOUBLE)
            - 3.0 * CAST(n_blocks * (k + 1) AS DOUBLE))) AS BIGINT)
        END AS q_q
      FROM kk, nn"""))

  /** (q250) Seeded ε-DP Laplace noisy counts (Curation.dpNoisyCounts
    * scaladoc): per-(source, lang) counts + deterministic md5₆₀-seeded
    * inverse-CDF Laplace(b=2) noise, replayed term-for-term.
    */
  val q250DpLaplace = Q(
    "q250_s_dp_laplace",
    (s, dir) =>
      operators.Curation.dpNoisyCounts(t(s, dir, "documents"),
        Seq("source", "lang"), bQ = 2000000L, salt = "r8")
        .orderBy("source", "lang"),
    Some("""
      WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY 1, 2),
      u AS (SELECT source, lang, n,
              (CAST(('0x' || substr(md5(
                 coalesce(CAST(source AS VARCHAR), '') || ':' ||
                 coalesce(CAST(lang AS VARCHAR), '') || ':r8'),
                 1, 15))::BIGINT AS DOUBLE) + 0.5)
                / 1152921504606846976.0 AS u
            FROM g),
      z AS (SELECT source, lang, n,
              CAST(floor(1000000.0 * (-2.0 * sign(u - 0.5) *
                ln(1.0 - 2.0 * abs(u - 0.5)))) AS BIGINT) AS noise_q
            FROM u)
      SELECT source, lang, n, noise_q,
        1000000 * n + noise_q AS noisy_n_q
      FROM z ORDER BY source, lang"""))

  /** (q251) Winnowing overlap pairs (Dedup.winnowOverlapPairs
    * scaladoc): doc pairs sharing ≥ 2 distinct MOSS fingerprints
    * (3-gram, window 4, md5₆₀ keys, fp-df cap 200) — each shared
    * fingerprint certifies a shared ≥ 6-token verbatim run.
    */
  val q251WinnowOverlap = Q(
    "q251_dd_winnow_overlap",
    (s, dir) =>
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        gramSize = 3, window = 4, minShared = 2L,
        gramKeyOf = Dedup.md5Hash60)
        .orderBy("id_a", "id_b"),
    Some("""
      WITH d AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      g AS (SELECT doc_id, CAST(i AS INT) AS pos,
              ('0x' || substr(md5(
                array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))::BIGINT
                AS gk
            FROM d, LATERAL unnest(range(1, len(toks) - 1)) t(i)
            WHERE len(toks) >= 3),
      n AS (SELECT doc_id, max(pos) AS ng FROM g GROUP BY doc_id),
      e AS (SELECT doc_id, CAST(j AS INT) AS e
            FROM n, LATERAL unnest(range(4, ng + 1)) t(j)),
      j AS (SELECT e.doc_id, e.e, g.pos, g.gk
            FROM e JOIN g ON g.doc_id = e.doc_id AND g.pos BETWEEN e.e - 3 AND e.e),
      mn AS (SELECT doc_id, e, min(gk) AS mg FROM j GROUP BY doc_id, e),
      fps AS (SELECT DISTINCT j.doc_id, mn.mg AS fp
              FROM j JOIN mn ON j.doc_id = mn.doc_id AND j.e = mn.e
                AND j.gk = mn.mg),
      dfc AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fps
                GROUP BY fp) WHERE c <= 200),
      kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc USING (fp)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(count(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2
      ORDER BY id_a, id_b"""))

  /** (q252) Isotonic calibration fit (Eval.isotonicFit scaladoc):
    * PAVA in closed minimax form over 20 quality-score bins
    * (q161's score) vs lang='en', quantized segment rates so every
    * min/max compares exact longs.
    */
  val q252IsotonicFit = Q(
    "q252_ml_isotonic_fit",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sQ = floor(lit(1000000.0) *
        TextFns.qualityScore(col("text"), Stopwords)).cast("long")
      operators.Eval.isotonicFit(
        docs.select(sQ.as("s_q"), col("lang"))
          .select(least(expr("s_q div 50000L"), lit(19L)).as("bin"),
            col("lang")),
        "bin", col("lang") === "en")
        .orderBy("b")
    },
    Some("""
      WITH d AS (SELECT text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT least(CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT)
               // 50000, 19) AS b,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      bins AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
               FROM q GROUP BY 1),
      pre AS (SELECT b, n, pos,
               CAST(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
               CAST(sum(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
             FROM bins),
      seg AS (SELECT lo.b AS i, hi.b AS j,
                CAST(floor(1000000.0
                  * CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
                  / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE)) AS BIGINT)
                  AS avg_q
              FROM pre lo, pre hi WHERE lo.b <= hi.b),
      m AS (SELECT i, j, min(avg_q) OVER (PARTITION BY i ORDER BY j DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
            FROM seg),
      ff AS (SELECT i, j, max(m) OVER (PARTITION BY j ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
             FROM m)
      SELECT bins.b, bins.n, bins.pos, ff.f AS fit_q
      FROM bins JOIN ff ON ff.i = bins.b AND ff.j = bins.b
      ORDER BY bins.b"""))

  /** (q253) Kruskal–Wallis H of doc length across sources
    * (Stats.kruskalWallis scaladoc): value-grid doubled midranks, per
    * group term quantized to 10⁻⁹ longs before the order-free sum.
    */
  val q253KruskalWallis = Q(
    "q253_a_kruskal_wallis",
    (s, dir) =>
      operators.Stats.kruskalWallis(t(s, dir, "documents"),
        "source", "n_chars"),
    Some("""
      WITH gv AS (SELECT source AS g, n_chars AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      v0 AS (SELECT v, CAST(sum(c) AS BIGINT) AS nv FROM gv GROUP BY v),
      vals AS (SELECT v, nv,
                 CAST(coalesce(sum(nv) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cum
               FROM v0),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM gv),
      pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(c AS HUGEINT)
                 * (2 * CAST(cum AS HUGEINT) + nv + 1)) AS BIGINT) AS r2
             FROM gv JOIN vals USING (v) GROUP BY g),
      tj AS (SELECT pg.n, tot.t,
               CAST(floor(1000000000.0
                 * (CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE))
                 / (4.0 * CAST(n AS DOUBLE) * CAST(t AS DOUBLE)
                    * CAST(t + 1 AS DOUBLE))) AS BIGINT) AS tj
             FROM pg CROSS JOIN tot),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(max(t) AS BIGINT) AS n_total,
               CAST(sum(tj) AS BIGINT) AS t_sum
             FROM tj)
      SELECT k, n_total, t_sum,
        12 * t_sum - 3000000000 * (n_total + 1) AS h_q9
      FROM ag"""))

  /** (q254) Two-sample Kolmogorov–Smirnov distance of doc length,
    * en vs rest (Stats.ksTwoSample scaladoc): exact integer D on the
    * n_a·n_b common denominator, one final double division.
    */
  val q254KsTwoSample = Q(
    "q254_a_ks_two_sample",
    (s, dir) =>
      operators.Stats.ksTwoSample(t(s, dir, "documents"),
        "n_chars", col("lang") === "en"),
    Some("""
      WITH c AS (SELECT n_chars AS v,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS ca,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                 AS BIGINT) AS cb
             FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      cum AS (SELECT v,
                sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS cda,
                sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS cdb
              FROM c),
      tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                CAST(sum(cb) AS BIGINT) AS n_b FROM c),
      d AS (SELECT CAST(max(abs(cda * n_b - cdb * n_a)) AS BIGINT)
              AS d_num
            FROM cum CROSS JOIN tot)
      SELECT n_a, n_b, d_num,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
          CAST(floor(1000000.0 * CAST(d_num AS DOUBLE)
            / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT)
        END AS d_q
      FROM d CROSS JOIN tot"""))

  /** (q255) Cochran's Q over users × event-type presence
    * (Stats.cochranQ scaladoc): exact-long numerator/denominator via
    * the k·C_j − N device, one mirrored division.
    */
  val q255CochranQ = Q(
    "q255_a_cochran_q",
    (s, dir) =>
      operators.Stats.cochranQ(ev(s, dir), "user_id", "event_type"),
    Some("""
      WITH pres AS (SELECT DISTINCT user_id AS b, event_type AS t
             FROM events
             WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM pres),
      r AS (SELECT b, CAST(count(*) AS BIGINT) AS r FROM pres GROUP BY b),
      rr AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(r) AS BIGINT) AS sr,
               CAST(sum(r * r) AS BIGINT) AS sr2 FROM r),
      cj AS (SELECT t, CAST(count(*) AS BIGINT) AS cj FROM pres GROUP BY t),
      ss AS (SELECT CAST(sum((kk.k * cj.cj - rr.sr)
               * (kk.k * cj.cj - rr.sr)) AS BIGINT) AS ssd
             FROM cj CROSS JOIN kk CROSS JOIN rr)
      SELECT rr.n_blocks, kk.k,
        (kk.k - 1) * ss.ssd AS num,
        kk.k * (kk.k * rr.sr - rr.sr2) AS den,
        CASE WHEN kk.k >= 2 AND (kk.k * rr.sr - rr.sr2) > 0 THEN
          CAST(floor(1000000.0 * CAST((kk.k - 1) * ss.ssd AS DOUBLE)
            / CAST(kk.k * (kk.k * rr.sr - rr.sr2) AS DOUBLE)) AS BIGINT)
        END AS q_q
      FROM rr CROSS JOIN kk CROSS JOIN ss"""))

  /** (q256) TextRank keyword centrality (Segments.textRank scaladoc):
    * integer PageRank over the ±2-window co-occurrence graph with
    * edge support >= 5; the oracle replays the pair build and the
    * three Pregel rounds with the q195 `//` arithmetic.
    */
  val q256TextRank = Q(
    "q256_tx_textrank",
    (s, dir) =>
      operators.Segments.textRank(t(s, dir, "documents"), "doc_id",
        "text", window = 2, minCount = 5L, rounds = 3)
        .orderBy("term"),
    Some {
      // each round is MATERIALIZED: the recurrence references the
      // previous round TWICE, and DuckDB re-executes an inlined CTE
      // per reference — 3 rounds re-ran the pair explode ~8x and blew
      // the 10x point past 1200 s
      val iter = (p: String, o: String) => s"""
      $o AS MATERIALIZED (SELECT p.u, p.deg, p.n,
               (3000000000000 // (20 * p.n)) + c.inc AS r
             FROM $p p JOIN (
               SELECT s.v AS u,
                 CAST(sum((17 * p.r) // (20 * p.deg)) AS BIGINT) AS inc
               FROM sym s JOIN $p p ON p.u = s.u GROUP BY s.v) c
               ON c.u = p.u)"""
      s"""
      WITH toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
            t -> len(t) > 0) AS ts
        FROM documents),
      p AS (SELECT least(ts[t1.i], ts[t2.j]) AS a,
                   greatest(ts[t1.i], ts[t2.j]) AS b
            FROM toks,
              LATERAL unnest(range(1, len(ts))) t1(i),
              LATERAL unnest(range(t1.i + 1,
                least(t1.i + 2, len(ts)) + 1)) t2(j)),
      ed AS (SELECT a, b FROM (SELECT a, b, count(*) AS c FROM p
               GROUP BY a, b) WHERE c >= 5 AND a <> b),
      sym AS MATERIALIZED (SELECT a AS u, b AS v FROM ed
              UNION ALL SELECT b AS u, a AS v FROM ed),
      dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
      r0 AS MATERIALIZED (SELECT u, deg, n, 1000000000000 // n AS r
             FROM dg CROSS JOIN nn),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")},
      ${iter("r2", "r3")}
      SELECT u AS term, deg AS degree, CAST(r AS BIGINT) AS rank_q
      FROM r3 ORDER BY term"""
    })

  /** (q257) Duplicate-cluster-aware split (Curation.clusterSplit
    * scaladoc): exact-dup star pairs (min-id per content hash) feed
    * the component labeler; every cluster lands in ONE split. The
    * oracle closes the same star graph with plain SQL (components of
    * the equality relation ARE the hash groups).
    */
  val q257ClusterSplit = Q(
    "q257_s_cluster_split",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val h = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), md5(col("text")).as("__h"))
      val reps = h.groupBy(col("__h")).agg(min(col("doc_id")).as("id_a"))
      val pairs = h.join(reps, Seq("__h"))
        .filter(col("doc_id") =!= col("id_a"))
        .select(col("id_a"), col("doc_id").as("id_b"))
      operators.Curation.clusterSplit(docs, "doc_id", pairs,
        trainPct = 80, valPct = 10, salt = "r8")
        .orderBy("doc_id")
    },
    Some("""
      WITH h AS (SELECT doc_id, md5(text) AS h FROM documents
             WHERE text IS NOT NULL),
      m AS (SELECT h, min(doc_id) AS rep FROM h GROUP BY h),
      c AS (SELECT d.doc_id, coalesce(m.rep, d.doc_id) AS cluster_id
            FROM documents d
            LEFT JOIN h ON h.doc_id = d.doc_id
            LEFT JOIN m ON m.h = h.h),
      s AS (SELECT doc_id, cluster_id,
              ('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || ':r8'),
                1, 15))::BIGINT % 100 AS bkt
            FROM c)
      SELECT doc_id, cluster_id,
        CASE WHEN bkt < 80 THEN 'train'
             WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
      FROM s ORDER BY doc_id"""))

  /** (q258) Temperature-smoothed mixture weights at α = 1/2
    * (Packing.temperatureMix scaladoc): per-source char budgets,
    * IEEE-exact sqrt quantized per source before the order-free
    * normalizing sum.
    */
  val q258TemperatureMix = Q(
    "q258_s_temperature_mix",
    (s, dir) =>
      operators.Packing.temperatureMix(t(s, dir, "documents"),
        "source", "n_chars")
        .orderBy("source"),
    Some("""
      WITH g AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t_size,
               CAST(count(*) AS BIGINT) AS n_docs
             FROM documents WHERE source IS NOT NULL GROUP BY 1),
      s AS (SELECT source, t_size, n_docs,
              CAST(floor(1000000.0 * sqrt(CAST(t_size AS DOUBLE)))
                AS BIGINT) AS s_q
            FROM g),
      t AS (SELECT CAST(sum(s_q) AS BIGINT) AS ss,
              CAST(sum(t_size) AS BIGINT) AS tt FROM s)
      SELECT source, t_size, n_docs, s_q,
        (1000000 * s_q) // ss AS w_q,
        (1000000 * t_size) // tt AS nat_q
      FROM s CROSS JOIN t ORDER BY source"""))

  /** (q259) Chao1 vocabulary richness per source (Segments.chao1
    * scaladoc): bias-corrected f1²/(2(f2+1)) unseen-type estimate in
    * pure integer arithmetic over the count-of-counts grid.
    */
  val q259Chao1 = Q(
    "q259_tx_chao1",
    (s, dir) =>
      operators.Segments.chao1(t(s, dir, "documents"), "source", "text")
        .orderBy("source"),
    Some("""
      WITH tk AS (SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS tok
             FROM documents),
      tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM tk GROUP BY 1, 2),
      coc AS (SELECT source, c, CAST(count(*) AS BIGINT) AS nr
              FROM tc GROUP BY 1, 2),
      ag AS (SELECT source,
               CAST(sum(nr) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN nr ELSE 0 END) AS BIGINT)
                 AS n_hapax,
               CAST(sum(CASE WHEN c = 2 THEN nr ELSE 0 END) AS BIGINT)
                 AS n_dis
             FROM coc GROUP BY 1)
      SELECT source, n_types, n_hapax, n_dis,
        1000000 * n_types + (1000000 * n_hapax * (n_hapax - 1))
          // (2 * (n_dis + 1)) AS chao1_q
      FROM ag ORDER BY source"""))

  /** (q260) AUC with Hanley–McNeil CI (Eval.aucCi scaladoc): q155's
    * exact U2/n_pos/n_neg integers, then ONE mirrored fp chain for
    * se and the clamped 95 % interval.
    */
  val q260AucCi = Q(
    "q260_ml_auc_ci",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Eval.aucCi(
        docs.select(floor(lit(1000000.0) *
          TextFns.qualityScore(col("text"), Stopwords)).cast("long")
          .as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT text, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT lang, text,
          CAST(len(list_filter(toks,
            t -> t IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(toks) AS swr,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM d),
      q AS (SELECT CAST(floor(1000000.0 *
              (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
               + ttr * 0.3 + least(swr * 5.0, 1.0) * 0.3)) AS BIGINT) AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM f),
      ps AS (SELECT s, CAST(sum(y) AS BIGINT) AS p_s,
               CAST(sum(1 - y) AS BIGINT) AS n_s
             FROM q GROUP BY s),
      cb AS (SELECT s, p_s, n_s,
               coalesce(sum(n_s) OVER (ORDER BY s ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb
             FROM ps),
      ag AS (SELECT CAST(sum(p_s) AS BIGINT) AS n_pos,
               CAST(sum(n_s) AS BIGINT) AS n_neg,
               CAST(sum(p_s * (2 * nb + n_s)) AS BIGINT) AS u2
             FROM cb),
      x AS (SELECT n_pos, n_neg, u2,
              CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE)
                * CAST(n_neg AS DOUBLE)) AS a,
              CAST(n_pos AS DOUBLE) AS p, CAST(n_neg AS DOUBLE) AS n
            FROM ag),
      y AS (SELECT n_pos, n_neg, u2, a, p, n,
              a / (2.0 - a) AS q1g,
              2.0 * a * a / (1.0 + a) AS q2g
            FROM x),
      z AS (SELECT n_pos, n_neg, u2, a,
              sqrt((a * (1.0 - a) + (p - 1.0) * (q1g - a * a)
                + (n - 1.0) * (q2g - a * a)) / (p * n)) AS se
            FROM y)
      SELECT n_pos, n_neg, u2,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(floor(1000000.0 * a) AS BIGINT) END AS auc_q,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(floor(1000000.0 * se) AS BIGINT) END AS se_q,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(floor(1000000.0 * greatest(a - 1.96 * se, 0.0))
            AS BIGINT) END AS lo_q,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(floor(1000000.0 * least(a + 1.96 * se, 1.0))
            AS BIGINT) END AS hi_q
      FROM z"""))

  /** (q261) Poisson-bootstrap CI for mean doc length
    * (Stats.poissonBootstrap scaladoc): 40 md5-seeded Poisson(1)
    * reweightings, exact integer replicate means, order-statistic
    * percentile bounds. The oracle interpolates the SAME CDF
    * thresholds (round-trip decimal strings), so no engine evaluates
    * exp at query time.
    */
  val q261PoissonBootstrap = Q(
    "q261_a_poisson_bootstrap",
    (s, dir) =>
      operators.Stats.poissonBootstrap(t(s, dir, "documents"),
        "doc_id", "n_chars", reps = 40, salt = "r8"),
    Some {
      val c = operators.Stats.PoissonCdf1
      val cases = c.zipWithIndex
        .map { case (t, k) => s"WHEN u < ${t} THEN ${k}" }
        .mkString(" ")
      s"""
      WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS id, n_chars AS v
             FROM documents
             WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
      est AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST((1000000 * CAST(sum(v) AS HUGEINT)) // count(*)
                  AS BIGINT) AS est_mean_q
              FROM b),
      r AS (SELECT id, v, CAST(t.r AS BIGINT) AS r
            FROM b, LATERAL unnest(range(0, 40)) t(r)),
      u AS (SELECT r, v,
              (CAST(('0x' || substr(md5(id || ':'
                 || CAST(r AS VARCHAR) || ':r8'), 1, 15))::BIGINT
                 AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
            FROM r),
      w AS (SELECT r, v, CASE ${cases} ELSE 9 END AS w FROM u),
      m AS (SELECT r, CAST(sum(w) AS BIGINT) AS sw,
              CAST(sum(CAST(w AS HUGEINT) * v) AS HUGEINT) AS swv
            FROM w GROUP BY r),
      mm AS (SELECT r, CASE WHEN sw > 0 THEN
               CAST((1000000 * swv) // CAST(sw AS HUGEINT) AS BIGINT)
             END AS m FROM m),
      rk AS (SELECT m, row_number() OVER (ORDER BY m ASC, r ASC) AS rn
             FROM mm),
      ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
               CAST(max(CASE WHEN rn = 2 THEN m END) AS BIGINT)
                 AS ci_lo_q,
               CAST(max(CASE WHEN rn = 39 THEN m END) AS BIGINT)
                 AS ci_hi_q
             FROM rk)
      SELECT n, n_reps, est_mean_q, ci_lo_q, ci_hi_q
      FROM est CROSS JOIN ci"""
    })

  /** (q262) One-way ANOVA F of doc length across sources
    * (Stats.anovaF scaladoc): exact per-group moments, per-group
    * ⌊S²/n⌋ quantization keeps the fold order-free.
    */
  val q262AnovaF = Q(
    "q262_a_anova_f",
    (s, dir) =>
      operators.Stats.anovaF(t(s, dir, "documents"), "source", "n_chars"),
    Some("""
      WITH g AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS s,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS q
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1),
      t AS (SELECT g, n, s, q,
              CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) AS BIGINT) AS t
            FROM g),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS n_total,
              CAST(sum(s) AS BIGINT) AS ss, CAST(sum(q) AS BIGINT) AS qq,
              CAST(sum(t) AS BIGINT) AS tt FROM t),
      b AS (SELECT k, n_total,
              tt - CAST(floor(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                / CAST(n_total AS DOUBLE)) AS BIGINT) AS ssb_l,
              qq - tt AS ssw_l FROM a)
      SELECT k, n_total, ssb_l, ssw_l,
        CASE WHEN k >= 2 AND n_total > k AND ssw_l > 0 THEN
          CAST(floor(1000000.0
            * (CAST(ssb_l AS DOUBLE) / CAST(k - 1 AS DOUBLE))
            / (CAST(ssw_l AS DOUBLE) / CAST(n_total - k AS DOUBLE)))
            AS BIGINT)
        END AS f_q FROM b"""))

  /** (q263) Brown–Forsythe spread-equality test of doc length across
    * sources (Stats.brownForsythe scaladoc): exact lower medians from
    * the value grid, anovaF over |x − med| with grid multiplicities.
    */
  val q263BrownForsythe = Q(
    "q263_a_brown_forsythe",
    (s, dir) =>
      operators.Stats.brownForsythe(t(s, dir, "documents"),
        "source", "n_chars"),
    Some("""
      WITH gv AS (SELECT source AS g, n_chars AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      cm AS (SELECT g, v, c,
               sum(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY g) AS n
             FROM gv),
      md AS (SELECT g, min(v) AS med FROM cm WHERE 2 * cum >= n
             GROUP BY g),
      z AS (SELECT gv.g, gv.c, abs(gv.v - md.med) AS z
            FROM gv JOIN md USING (g)),
      g2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * z) AS BIGINT) AS s,
               CAST(sum(c * z * z) AS BIGINT) AS q
             FROM z GROUP BY g),
      t AS (SELECT g, n, s, q,
              CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) AS BIGINT) AS t
            FROM g2),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS n_total,
              CAST(sum(s) AS BIGINT) AS ss, CAST(sum(q) AS BIGINT) AS qq,
              CAST(sum(t) AS BIGINT) AS tt FROM t),
      b AS (SELECT k, n_total,
              tt - CAST(floor(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                / CAST(n_total AS DOUBLE)) AS BIGINT) AS ssb_l,
              qq - tt AS ssw_l FROM a)
      SELECT k, n_total, ssb_l, ssw_l,
        CASE WHEN k >= 2 AND n_total > k AND ssw_l > 0 THEN
          CAST(floor(1000000.0
            * (CAST(ssb_l AS DOUBLE) / CAST(k - 1 AS DOUBLE))
            / (CAST(ssw_l AS DOUBLE) / CAST(n_total - k AS DOUBLE)))
            AS BIGINT)
        END AS f_q FROM b"""))

  /** (q264) word2vec negative-sampling distribution
    * (Packing.negativeSampling scaladoc): count^(3/4) via two
    * IEEE-exact sqrts, per-token quantization, 1e-9-grid shares.
    */
  val q264NegSampling = Q(
    "q264_tx_neg_sampling",
    (s, dir) =>
      operators.Packing.negativeSampling(t(s, dir, "documents"), "text")
        .orderBy("token"),
    Some("""
      WITH tk AS (SELECT unnest(list_filter(regexp_split_to_array(
               lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
             FROM documents),
      c AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tk
            GROUP BY 1),
      s AS (SELECT token, c,
              CAST(floor(1000000.0 * sqrt(CAST(c AS DOUBLE)
                * sqrt(CAST(c AS DOUBLE)))) AS BIGINT) AS s_q
            FROM c),
      t AS (SELECT CAST(sum(s_q) AS BIGINT) AS ss FROM s)
      SELECT token, c, s_q,
        CAST((CAST(1000000000 AS HUGEINT) * s_q) // ss AS BIGINT) AS w_q9
      FROM s CROSS JOIN t ORDER BY token"""))

  /** (q265) Population Stability Index of doc length per source vs
    * the corpus (Stats.psi scaladoc): +1-smoothed bins, per-bin
    * 1e-9-quantized contributions (provably ≥ 0, order-free sum).
    */
  val q265Psi = Q(
    "q265_a_psi_drift",
    (s, dir) =>
      operators.Stats.psi(t(s, dir, "documents"), "source", "n_chars",
        binWidth = 100L)
        .orderBy("source"),
    Some("""
      WITH cells AS (SELECT source AS g, n_chars // 100 AS b,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      bins AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells
               GROUP BY b),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS bb,
               CAST(sum(cb) AS BIGINT) AS nn FROM bins),
      groups AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cells
                 GROUP BY g),
      grid AS (SELECT gr.g, gr.ng, bi.b, bi.cb, nb.bb, nb.nn,
                 coalesce(ce.c, 0) AS c
               FROM groups gr CROSS JOIN bins bi CROSS JOIN nb
               LEFT JOIN cells ce ON ce.g = gr.g AND ce.b = bi.b),
      k AS (SELECT g, ng, bb,
              CAST(floor(1000000000.0 *
                ((CAST(c + 1 AS DOUBLE) / CAST(ng + bb AS DOUBLE)
                  - CAST(cb + 1 AS DOUBLE) / CAST(nn + bb AS DOUBLE))
                 * ln((CAST(c + 1 AS DOUBLE) / CAST(ng + bb AS DOUBLE))
                   / (CAST(cb + 1 AS DOUBLE) / CAST(nn + bb AS DOUBLE)))))
                AS BIGINT) AS k
            FROM grid)
      SELECT g AS source, ng AS n, bb AS n_bins,
        CAST(sum(k) AS BIGINT) AS psi_q9
      FROM k GROUP BY 1, 2, 3 ORDER BY source"""))

  /** (q266) Split-conformal interval for a per-source length
    * predictor (Eval.conformalInterval scaladoc): train-half integer
    * means predict, cal-half residual order statistic at 90 %
    * coverage, exact rational rank index.
    */
  val q266Conformal = Q(
    "q266_ml_conformal",
    (s, dir) => {
      // split on 20-doc blocks — doc_id parity is CONFOUNDED with the
      // synthetic source assignment (source = doc_id % 20), so a
      // parity split would give each half disjoint sources
      val docs = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
      val pred = docs.filter(expr("(doc_id div 20L) % 2L") === 0)
        .groupBy(col("source"))
        .agg(expr("sum(n_chars) div count(1)").as("pred"))
      val cal = docs.filter(expr("(doc_id div 20L) % 2L") === 1)
        .join(pred, Seq("source"))
      operators.Eval.conformalInterval(cal, "source", "n_chars", "pred",
        alphaNum = 1, alphaDen = 10)
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, n_chars FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      p AS (SELECT source,
              CAST(sum(n_chars) AS BIGINT) // count(*) AS pred
            FROM d WHERE (doc_id // 20) % 2 = 0 GROUP BY source),
      cal AS (SELECT d.source, abs(d.n_chars - p.pred) AS r
              FROM d JOIN p USING (source)
              WHERE (d.doc_id // 20) % 2 = 1),
      gv AS (SELECT source, r, CAST(count(*) AS BIGINT) AS c
             FROM cal GROUP BY 1, 2),
      cum AS (SELECT source, r, c,
                sum(c) OVER (PARTITION BY source ORDER BY r ROWS
                  BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER (PARTITION BY source) AS n
              FROM gv),
      kk AS (SELECT DISTINCT source, CAST(n AS BIGINT) AS n_cal,
               CAST((9 * (n + 1) + 9) // 10 AS BIGINT) AS k_rank
             FROM cum),
      sel AS (SELECT c.source, CAST(min(c.r) AS BIGINT) AS qhat
              FROM cum c JOIN kk ON kk.source = c.source
              WHERE c.cum >= kk.k_rank GROUP BY 1)
      SELECT kk.source, kk.n_cal, kk.k_rank,
        CASE WHEN kk.k_rank <= kk.n_cal THEN sel.qhat END AS qhat
      FROM kk LEFT JOIN sel USING (source) ORDER BY source"""))

  /** (q267) Ordered event funnel view → click → purchase within 7
    * days (TimeAgg.eventFunnel scaladoc): first-touch anchors, k−1
    * user-keyed min-joins, counts per step.
    */
  val q267EventFunnel = Q(
    "q267_a_event_funnel",
    (s, dir) =>
      operators.TimeAgg.eventFunnel(ev(s, dir), "user_id", "event_type",
        "ts_us", Seq("view", "click", "purchase"),
        windowMicros = 604800000000L)
        .orderBy("step_idx"),
    Some(s"""
      WITH e AS (SELECT user_id AS u, event_type AS t, $EvUs AS ts
             FROM events
             WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      s0 AS (SELECT u, min(ts) AS anchor FROM e WHERE t = 'view'
             GROUP BY u),
      s1 AS (SELECT e.u, min(s0.anchor) AS anchor, min(e.ts) AS prev
             FROM e JOIN s0 ON s0.u = e.u
             WHERE e.t = 'click' AND e.ts > s0.anchor
               AND e.ts - s0.anchor <= 604800000000
             GROUP BY e.u),
      s2 AS (SELECT e.u FROM e JOIN s1 ON s1.u = e.u
             WHERE e.t = 'purchase' AND e.ts > s1.prev
               AND e.ts - s1.anchor <= 604800000000
             GROUP BY e.u)
      SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
        (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
      UNION ALL SELECT 1, 'click',
        (SELECT CAST(count(*) AS BIGINT) FROM s1)
      UNION ALL SELECT 2, 'purchase',
        (SELECT CAST(count(*) AS BIGINT) FROM s2)
      ORDER BY step_idx"""))

  /** (q268) Token burstiness (Segments.burstiness scaladoc):
    * variance-to-mean ratio of per-doc counts with zeros, the exact
    * (D·Q − S²)/((D−1)·S) integer ratio, df ≥ 5.
    */
  val q268Burstiness = Q(
    "q268_tx_burstiness",
    (s, dir) =>
      operators.Segments.burstiness(t(s, dir, "documents"), "doc_id",
        "text", minDf = 5L)
        .orderBy("token"),
    Some("""
      WITH tk AS (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                 '\s+'), x -> len(x) > 0)) AS t
             FROM documents),
      pd AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
             FROM tk GROUP BY 1, 2),
      pt AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(sum(c * c) AS BIGINT) AS q
             FROM pd GROUP BY 1 HAVING count(*) >= 5),
      dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents)
      SELECT token, df, total,
        CAST((1000000::HUGEINT * (d::HUGEINT * q - total::HUGEINT * total))
          // ((d::HUGEINT - 1) * total) AS BIGINT) AS b_q
      FROM pt CROSS JOIN dd WHERE d >= 2 ORDER BY token"""))

  /** (q269) KMV bottom-64 vocabulary-overlap estimates between
    * sources (Sketches.kmvOverlapPairs scaladoc): merged-minima union
    * estimate, shared-minima Jaccard, intersection — the set algebra
    * HLL can't do, fully md5-deterministic.
    */
  val q269KmvOverlap = Q(
    "q269_sk_kmv_overlap",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("source").isNotNull)
        .select(col("source"), explode(filter(
          TextFns.tokens(col("text")), x => length(x) > 0)).as("tok"))
      operators.Sketches.kmvOverlapPairs(toks, "source", "tok", k = 64)
        .orderBy("set_a", "set_b")
    },
    Some {
      val estC = 63.0 * math.pow(2, 60)
      s"""
      WITH v AS (SELECT DISTINCT s,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
             FROM (SELECT source AS s,
                     unnest(list_filter(regexp_split_to_array(
                       lower(trim(text)), '\\s+'),
                       x -> len(x) > 0)) AS tok
                   FROM documents WHERE source IS NOT NULL)),
      mk AS (SELECT s, h FROM (SELECT s, h,
               row_number() OVER (PARTITION BY s ORDER BY h) AS rn
             FROM v) WHERE rn <= 64),
      sets AS (SELECT DISTINCT s FROM mk),
      pairs AS (SELECT a.s AS set_a, b.s AS set_b
                FROM sets a, sets b WHERE a.s < b.s),
      mrg AS (SELECT p.set_a, p.set_b, m.h,
                max(CASE WHEN m.s = p.set_a THEN 1 ELSE 0 END) AS ia,
                max(CASE WHEN m.s = p.set_b THEN 1 ELSE 0 END) AS ib
              FROM pairs p JOIN mk m ON m.s = p.set_a OR m.s = p.set_b
              GROUP BY 1, 2, 3),
      rk AS (SELECT set_a, set_b, h, ia, ib,
               row_number() OVER (PARTITION BY set_a, set_b
                 ORDER BY h) AS rn
             FROM mrg),
      ag AS (SELECT set_a, set_b, CAST(count(*) AS BIGINT) AS n_minima,
               max(CASE WHEN rn = 64 THEN h END) AS hk,
               CAST(sum(ia * ib) AS BIGINT) AS n_shared
             FROM rk WHERE rn <= 64 GROUP BY 1, 2),
      es AS (SELECT set_a, set_b, n_minima, n_shared,
               CASE WHEN n_minima < 64 THEN 1000000 * n_minima
                    ELSE CAST(floor(1000000.0 * ${estC}
                      / CAST(hk AS DOUBLE)) AS BIGINT)
               END AS union_est_q
             FROM ag)
      SELECT set_a, set_b, n_minima, n_shared, union_est_q,
        (1000000 * n_shared) // least(n_minima, 64) AS jacc_q,
        (n_shared * union_est_q) // least(n_minima, 64) AS inter_est_q
      FROM es ORDER BY set_a, set_b"""
    })

  /** (q270) Mantel–Haenszel pooled odds ratio, exposure lang='en' vs
    * outcome n_chars>300, stratified by source
    * (Stats.mantelHaenszel scaladoc): per-stratum 1e-6 terms before
    * the order-free sums, one final division.
    */
  val q270MantelHaenszel = Q(
    "q270_a_mantel_haenszel",
    (s, dir) =>
      operators.Stats.mantelHaenszel(t(s, dir, "documents"), "source",
        col("lang") === "en", col("n_chars") > 300),
    Some("""
      WITH st AS (SELECT source AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS e,
               CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS y
             FROM documents WHERE source IS NOT NULL),
      g AS (SELECT s, CAST(sum(e * y) AS BIGINT) AS a,
              CAST(sum(e * (1 - y)) AS BIGINT) AS b,
              CAST(sum((1 - e) * y) AS BIGINT) AS c,
              CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
              CAST(count(*) AS BIGINT) AS n
            FROM st GROUP BY s),
      q AS (SELECT
              CAST(floor(1000000.0 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                / CAST(n AS DOUBLE)) AS BIGINT) AS t,
              CAST(floor(1000000.0 * (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                / CAST(n AS DOUBLE)) AS BIGINT) AS u
            FROM g),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(t) AS BIGINT) AS num_q,
               CAST(sum(u) AS BIGINT) AS den_q FROM q)
      SELECT n_strata, num_q, den_q,
        CASE WHEN den_q > 0 THEN
          CAST(floor(1000000.0 * CAST(num_q AS DOUBLE)
            / CAST(den_q AS DOUBLE)) AS BIGINT)
        END AS or_q
      FROM ag"""))

  /** (q271) Wald SPRT curve for the purchase rate, H0 p=0.18 vs H1
    * p=0.22 (Stats.sprtCurve scaladoc): ln constants precomputed to
    * 1e-6 longs, the daily LLR walk is pure integer arithmetic.
    */
  val q271Sprt = Q(
    "q271_a_sprt_curve",
    (s, dir) =>
      operators.Stats.sprtCurve(ev(s, dir), "ts_us",
        col("event_type") === "purchase", p0Q = 180000L, p1Q = 220000L)
        .orderBy("day"),
    Some {
      val p0 = 180000L.toDouble / 1e6
      val p1 = 220000L.toDouble / 1e6
      val c1 = math.floor(1e6 * math.log(p1 / p0)).toLong
      val c2 = math.floor(1e6 * math.log((1.0 - p1) / (1.0 - p0))).toLong
      s"""
      WITH d AS (SELECT $EvUs // 86400000000 AS day,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events),
      g AS (SELECT day, CAST(count(*) AS BIGINT) AS n_day,
              CAST(sum(y) AS BIGINT) AS s_day FROM d GROUP BY day),
      c AS (SELECT day, n_day, s_day,
              CAST(sum(n_day) OVER w AS BIGINT) AS n_cum,
              CAST(sum(s_day) OVER w AS BIGINT) AS s_cum
            FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW))
      SELECT day, n_day, s_day, n_cum, s_cum,
        s_cum * ${c1} + (n_cum - s_cum) * ${c2} AS llr_q
      FROM c ORDER BY day"""
    })

  /** (q272) CUPED variance reduction, covariate = per-user views,
    * metric = per-user purchases, arms by user parity
    * (Stats.cuped scaladoc): exact pooled moments, one mirrored fp
    * chain for θ, adjusted means, and the variance ratio.
    */
  val q272Cuped = Q(
    "q272_a_cuped",
    (s, dir) => {
      val per = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      operators.Stats.cuped(per, col("user_id") % 2 === 0, "y", "x")
        .orderBy("variant")
    },
    Some("""
      WITH per AS (SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                 END) AS BIGINT) AS y
             FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'treatment'
                        ELSE 'control' END AS v, y, x FROM per),
      arms AS (SELECT v, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x) AS HUGEINT) AS sx
               FROM b GROUP BY v),
      p AS (SELECT CAST(count(*) AS BIGINT) AS nn,
              CAST(sum(x) AS HUGEINT) AS tsx,
              CAST(sum(y) AS HUGEINT) AS tsy,
              CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
              CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
              CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM b),
      e AS (SELECT v, n, nn,
              CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
              CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE) AS covn,
              CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) AS varxn,
              CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE) AS varyn,
              CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(tsx AS DOUBLE) / CAST(nn AS DOUBLE) AS dx
            FROM arms CROSS JOIN p)
      SELECT v AS variant, n,
        CAST(floor(1000000.0 * my) AS BIGINT) AS mean_y_q,
        CASE WHEN nn >= 2 AND varxn > 0.0 THEN
          CAST(floor(1000000.0 * (my - covn / varxn * dx)) AS BIGINT)
        END AS mean_adj_q,
        CASE WHEN nn >= 2 AND varxn > 0.0 THEN
          CAST(floor(1000000.0 * (covn / varxn)) AS BIGINT)
        END AS theta_q,
        CASE WHEN nn >= 2 AND varxn > 0.0 AND varyn > 0.0 THEN
          CAST(floor(1000000.0 * (1.0 - covn * covn
            / (varxn * varyn))) AS BIGINT)
        END AS var_ratio_q
      FROM e ORDER BY variant"""))

  /** (q273) Difference-in-differences on the purchase rate, arms by
    * user parity, post = second half of the corpus month
    * (Stats.diffInDiff scaladoc): four exact cells, one fp chain.
    */
  val q273DiD = Q(
    "q273_a_diff_in_diff",
    (s, dir) =>
      operators.Stats.diffInDiff(
        ev(s, dir).filter(col("user_id").isNotNull)
          .withColumn("m", when(col("event_type") === "purchase", 1L)
            .otherwise(0L)),
        col("user_id") % 2 === 0,
        expr("ts_us div 86400000000L") >= 19738L, "m"),
    Some(s"""
      WITH b AS (SELECT
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS v,
               CASE WHEN $EvUs // 86400000000 >= 19738 THEN 1 ELSE 0
                 END AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events WHERE user_id IS NOT NULL),
      a AS (SELECT
              CAST(sum(CASE WHEN v = 1 AND p = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_t_pre,
              CAST(sum(CASE WHEN v = 1 AND p = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_t_post,
              CAST(sum(CASE WHEN v = 0 AND p = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_c_pre,
              CAST(sum(CASE WHEN v = 0 AND p = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_c_post,
              CAST(sum(CASE WHEN v = 1 AND p = 0 THEN y ELSE 0 END)
                AS BIGINT) AS stp,
              CAST(sum(CASE WHEN v = 1 AND p = 1 THEN y ELSE 0 END)
                AS BIGINT) AS sto,
              CAST(sum(CASE WHEN v = 0 AND p = 0 THEN y ELSE 0 END)
                AS BIGINT) AS scp,
              CAST(sum(CASE WHEN v = 0 AND p = 1 THEN y ELSE 0 END)
                AS BIGINT) AS sco
            FROM b)
      SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        CASE WHEN n_t_pre > 0 THEN CAST(floor(1000000.0
          * (CAST(stp AS DOUBLE) / CAST(n_t_pre AS DOUBLE)))
          AS BIGINT) END AS m_t_pre_q,
        CASE WHEN n_t_post > 0 THEN CAST(floor(1000000.0
          * (CAST(sto AS DOUBLE) / CAST(n_t_post AS DOUBLE)))
          AS BIGINT) END AS m_t_post_q,
        CASE WHEN n_c_pre > 0 THEN CAST(floor(1000000.0
          * (CAST(scp AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))
          AS BIGINT) END AS m_c_pre_q,
        CASE WHEN n_c_post > 0 THEN CAST(floor(1000000.0
          * (CAST(sco AS DOUBLE) / CAST(n_c_post AS DOUBLE)))
          AS BIGINT) END AS m_c_post_q,
        CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0
            AND n_c_post > 0 THEN
          CAST(floor(1000000.0 * ((CAST(sto AS DOUBLE)
            / CAST(n_t_post AS DOUBLE) - CAST(stp AS DOUBLE)
            / CAST(n_t_pre AS DOUBLE)) - (CAST(sco AS DOUBLE)
            / CAST(n_c_post AS DOUBLE) - CAST(scp AS DOUBLE)
            / CAST(n_c_pre AS DOUBLE)))) AS BIGINT)
        END AS did_q
      FROM a"""))

  /** (q274) Cochran–Armitage trend of English rate across length
    * deciles (Stats.cochranArmitage scaladoc): exact decimal T, one
    * mirrored z chain.
    */
  val q274CochranArmitage = Q(
    "q274_a_ca_trend",
    (s, dir) =>
      operators.Stats.cochranArmitage(
        t(s, dir, "documents").filter(col("n_chars").isNotNull)
          .withColumn("dose", least(expr("n_chars div 100L"), lit(9L))),
        "dose", col("lang") === "en"),
    Some("""
      WITH d AS (SELECT least(n_chars // 100, 9) AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             FROM documents WHERE n_chars IS NOT NULL),
      c AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS r FROM d GROUP BY s),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS n_total,
              CAST(sum(r) AS BIGINT) AS r_total,
              CAST(sum(CAST(s AS HUGEINT) * n) AS HUGEINT) AS sn,
              CAST(sum(CAST(s AS HUGEINT) * s * n) AS HUGEINT) AS ssn,
              CAST(sum(CAST(s AS HUGEINT) * r) AS HUGEINT) AS sr
            FROM c),
      z AS (SELECT k, n_total, r_total,
              CAST(sr * n_total - sn * r_total AS BIGINT) AS t_num,
              (CAST(r_total AS DOUBLE) * (CAST(n_total AS DOUBLE)
                - CAST(r_total AS DOUBLE)) / CAST(n_total AS DOUBLE))
              * ((CAST(n_total AS DOUBLE) * CAST(ssn AS DOUBLE)
                - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
                / CAST(n_total AS DOUBLE)) AS var_t
            FROM a)
      SELECT k, n_total, r_total, t_num,
        CASE WHEN r_total > 0 AND r_total < n_total AND k >= 2 THEN
          CAST(floor(1000000.0 * CAST(t_num AS DOUBLE) / sqrt(var_t))
            AS BIGINT)
        END AS z_q
      FROM z"""))

  /** (q275) Poisson-bootstrap CI for the median doc length
    * (Stats.poissonBootstrapMedian scaladoc): weighted lower medians
    * on the per-replicate value grid — integers end to end.
    */
  val q275BootstrapMedian = Q(
    "q275_a_bootstrap_median",
    (s, dir) =>
      operators.Stats.poissonBootstrapMedian(t(s, dir, "documents"),
        "doc_id", "n_chars", reps = 40, salt = "r8"),
    Some {
      val cases = operators.Stats.PoissonCdf1.zipWithIndex
        .map { case (t, k) => s"WHEN u < ${t} THEN ${k}" }
        .mkString(" ")
      s"""
      WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS id, n_chars AS v
             FROM documents
             WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
      g0 AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v),
      e0 AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
             FROM g0),
      est AS (SELECT CAST(max(n) AS BIGINT) AS n,
                CAST(min(v) AS BIGINT) AS est_median
              FROM e0 WHERE 2 * cum >= n),
      r AS (SELECT id, v, CAST(t.r AS BIGINT) AS r
            FROM b, LATERAL unnest(range(0, 40)) t(r)),
      u AS (SELECT r, v,
              (CAST(('0x' || substr(md5(id || ':'
                 || CAST(r AS VARCHAR) || ':r8'), 1, 15))::BIGINT
                 AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
            FROM r),
      w AS (SELECT r, v, CASE ${cases} ELSE 9 END AS w FROM u),
      gw AS (SELECT r, v, CAST(sum(w) AS BIGINT) AS cw FROM w
             GROUP BY r, v),
      cw AS (SELECT r, v,
               sum(cw) OVER (PARTITION BY r ORDER BY v ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cw) OVER (PARTITION BY r) AS tot
             FROM gw),
      md AS (SELECT r, CAST(min(v) AS BIGINT) AS m FROM cw
             WHERE 2 * cum >= tot AND tot > 0 GROUP BY r),
      rk AS (SELECT r, m, row_number() OVER (ORDER BY m ASC, r ASC)
               AS rn FROM md),
      ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
               CAST(max(CASE WHEN rn = 2 THEN m END) AS BIGINT)
                 AS ci_lo,
               CAST(max(CASE WHEN rn = 39 THEN m END) AS BIGINT)
                 AS ci_hi
             FROM rk)
      SELECT n, n_reps, est_median, ci_lo, ci_hi
      FROM est CROSS JOIN ci"""
    })

  /** (q276) Lagged cross-correlation of daily views vs purchases
    * (Stats.ccf scaladoc): densified day grid, lags −7..7, exact
    * decimal moments per lag.
    */
  val q276Ccf = Q(
    "q276_a_ccf_lags",
    (s, dir) => {
      val daily = ev(s, dir)
        .withColumn("day", expr("ts_us div 86400000000L"))
        .groupBy(lit("all").as("g"), col("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      operators.Stats.ccf(daily, "g", "day", "x", "y", stepSec = 1L,
        maxLag = 7)
        .orderBy("lag")
    },
    Some(s"""
      WITH daily AS (SELECT $EvUs // 86400000000 AS b,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                 END) AS BIGINT) AS y
             FROM events GROUP BY 1),
      sp AS (SELECT min(b) AS lo, max(b) AS hi FROM daily),
      dense AS (SELECT t.b, coalesce(d.x, 0) AS x, coalesce(d.y, 0) AS y
                FROM (SELECT unnest(range(lo, hi + 1)) AS b FROM sp) t
                LEFT JOIN daily d ON d.b = t.b),
      lg AS (SELECT l.lag, a.x, b.y AS yl
             FROM (SELECT unnest(range(-7, 8)) AS lag) l
             JOIN dense a ON true
             JOIN dense b ON b.b = a.b + l.lag),
      ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(yl) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(yl AS HUGEINT) * yl) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * yl) AS HUGEINT) AS sxy
             FROM lg GROUP BY lag)
      SELECT 'all' AS g, CAST(lag AS INT) AS lag, n_pairs,
        CASE WHEN (n_pairs * sxx - sx * sx) > 0
            AND (n_pairs * syy - sy * sy) > 0 THEN
          CAST(floor(1000000.0
            * CAST(n_pairs * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))))
            AS BIGINT)
        END AS ccf_q
      FROM ag ORDER BY lag"""))

  /** (q277) Jonckheere–Terpstra trend of per-user daily activity
    * across the corpus weeks (Stats.jonckheereTerpstra scaladoc):
    * doubled pairwise U from the groups × values grid, exact moments.
    */
  val q277Jonckheere = Q(
    "q277_a_jonckheere",
    (s, dir) => {
      val perUD = ev(s, dir).filter(col("user_id").isNotNull)
        .withColumn("day", expr("ts_us div 86400000000L"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("c"))
        .withColumn("wk",
          concat(lit("w"), expr("(day - 19723L) div 7L")))
      operators.Stats.jonckheereTerpstra(perUD, "wk", "c")
    },
    Some(s"""
      WITH pu AS (SELECT user_id, $EvUs // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS c
             FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      cl AS (SELECT 'w' || CAST((day - 19723) // 7 AS VARCHAR) AS g,
               c AS v, CAST(count(*) AS BIGINT) AS cc
             FROM pu GROUP BY 1, 2),
      grp AS (SELECT g, CAST(sum(cc) AS BIGINT) AS n FROM cl GROUP BY g),
      vals AS (SELECT DISTINCT v FROM cl),
      grid AS (SELECT gr.g, va.v, coalesce(cl.cc, 0) AS c
               FROM grp gr CROSS JOIN vals va
               LEFT JOIN cl ON cl.g = gr.g AND cl.v = va.v),
      cum AS (SELECT g, v, c,
                sum(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) - c AS below
              FROM grid),
      jj AS (SELECT CAST(sum(b.c * (2 * a.below + a.c)) AS BIGINT) AS j2
             FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sn2,
               CAST(sum(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS HUGEINT)
                 AS sn3
             FROM grp),
      zz AS (SELECT k, n_total, j2,
               CAST((CAST(n_total AS HUGEINT) * n_total - sn2) // 2
                 AS BIGINT) AS e2,
               (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                 * (2.0 * CAST(n_total AS DOUBLE) + 3.0)
                 - CAST(sn3 AS DOUBLE)) / 72.0 AS var_j
             FROM jj CROSS JOIN mm)
      SELECT k, n_total, j2, e2,
        CASE WHEN k >= 2 AND var_j > 0.0 THEN
          CAST(floor(1000000.0 * ((CAST(j2 AS DOUBLE)
            - CAST(e2 AS DOUBLE)) * 0.5) / sqrt(var_j)) AS BIGINT)
        END AS z_q
      FROM zz"""))

  /** (q278) SPRT live totals (Stats.sprtTotals scaladoc): the
    * complete-mode streaming monitor's batch twin — one global
    * aggregate, integer LLR from the same embedded constants.
    */
  val q278SprtTotals = Q(
    "q278_a_sprt_totals",
    (s, dir) =>
      operators.Stats.sprtTotals(ev(s, dir),
        col("event_type") === "purchase", p0Q = 180000L, p1Q = 220000L),
    Some {
      val p0 = 180000L.toDouble / 1e6
      val p1 = 220000L.toDouble / 1e6
      val c1 = math.floor(1e6 * math.log(p1 / p0)).toLong
      val c2 = math.floor(1e6 * math.log((1.0 - p1) / (1.0 - p0))).toLong
      s"""
      WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END) AS BIGINT) AS s
             FROM events)
      SELECT n, s, s * ${c1} + (n - s) * ${c2} AS llr_q FROM a"""
    })

  /** (q279) Dedup savings report over exact-dup content-hash clusters
    * (Dedup.dedupSavings scaladoc): cluster-size histogram and chars
    * reclaimed keeping the min-id representative.
    */
  val q279DedupSavings = Q(
    "q279_dd_dedup_savings",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          md5(col("text")).as("cluster_id"))
      Dedup.dedupSavings(docs, "doc_id", "cluster_id", "n_chars")
        .orderBy("cluster_size")
    },
    Some("""
      WITH a AS (SELECT doc_id, n_chars, md5(text) AS c
             FROM documents WHERE text IS NOT NULL),
      cl AS (SELECT c, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS bytes,
               CAST(min_by(n_chars, doc_id) AS BIGINT) AS rep_s
             FROM a GROUP BY c)
      SELECT n AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(sum(bytes - rep_s) AS BIGINT) AS reclaimed
      FROM cl GROUP BY n ORDER BY cluster_size"""))

  /** (q280) Krippendorff's alpha with VARIABLE raters per item
    * (Eval.krippendorffAlpha scaladoc): 2–5 raters per doc (md5-drawn),
    * 70 % agreement with the true lang — the missing-data agreement
    * coefficient q214's Fleiss kappa cannot produce.
    */
  val q280Krippendorff = Q(
    "q280_ml_krippendorff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = (pmod(Dedup.md5Hash60(concat(col("doc_id").cast("string"),
        lit(":m"))), lit(4L)) + 2).cast("int")
      val h = Dedup.md5Hash60(concat(col("doc_id").cast("string"),
        lit(":rater:"), col("rater").cast("string")))
      val cats = array(lit("en"), lit("es"), lit("de"), lit("fr"))
      val ratings = docs.select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), m)).as("rater"))
        .select(col("doc_id"),
          when(pmod(h, lit(100L)) < 70, col("lang"))
            .otherwise(element_at(cats, (pmod(h, lit(4L)) + 1).cast("int")))
            .as("rating"))
      operators.Eval.krippendorffAlpha(ratings, "doc_id", "rating")
    },
    Some("""
      WITH md AS (SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m'),
                 1, 15))::BIGINT % 4 + 2 AS INT) AS m
             FROM documents),
      r AS (SELECT doc_id, lang, unnest(range(1, m + 1)) AS rater FROM md),
      rt AS (SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                   || ':rater:' || CAST(rater AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 70
                 THEN lang
                 ELSE ['en','es','de','fr'][CAST(('0x'
                   || substr(md5(CAST(doc_id AS VARCHAR) || ':rater:'
                   || CAST(rater AS VARCHAR)), 1, 15))::BIGINT % 4 AS INT) + 1]
               END AS rating
             FROM r),
      g AS (SELECT doc_id, rating, CAST(count(*) AS BIGINT) AS n
            FROM rt GROUP BY 1, 2),
      u AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS m,
               CAST(sum(n * n) AS BIGINT) AS ssq
            FROM g GROUP BY doc_id HAVING sum(n) >= 2),
      pu AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(m) AS BIGINT) AS n_pairable,
               CAST(sum((12 * (m * m - ssq)) // (m - 1)) AS BIGINT) AS do_num
             FROM u),
      pc AS (SELECT CAST(sum(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS sncsq
             FROM (SELECT rating, CAST(sum(n) AS BIGINT) AS nc
                   FROM g JOIN u USING (doc_id) GROUP BY rating)),
      de AS (SELECT n_units, n_pairable, do_num,
               CAST(CAST(n_pairable AS HUGEINT) * n_pairable - sncsq
                 AS BIGINT) AS de_num
             FROM pu CROSS JOIN pc)
      SELECT n_units, n_pairable, do_num, de_num,
        CASE WHEN de_num <> 0 THEN
          CAST(floor(1000000000000.0 *
            CAST(12 * CAST(de_num AS HUGEINT)
              - CAST(do_num AS HUGEINT) * (n_pairable - 1) AS DOUBLE)
            / CAST(12 * CAST(de_num AS HUGEINT) AS DOUBLE)) AS BIGINT)
        END AS alpha_q
      FROM de"""))

  /** (q281) Degree assortativity of the mutual-5-NN similarity graph
    * (Graph.degreeAssortativity scaladoc): Pearson over symmetrized
    * edge endpoint degrees — all-integer sums, one quantized division.
    */
  val q281Assortativity = Q(
    "q281_g_assortativity",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.degreeAssortativity(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))))
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b AS a, a AS b FROM mut),
      dg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg
             FROM sym GROUP BY a),
      j AS (SELECT da.deg AS xa, db.deg AS xb
            FROM sym JOIN dg da ON da.v = sym.a JOIN dg db ON db.v = sym.b),
      sums AS (SELECT CAST(count(*) AS BIGINT) AS m_edges,
                 CAST(sum(xa) AS BIGINT) AS sx,
                 CAST(sum(xa * xb) AS BIGINT) AS sxy,
                 CAST(sum(xa * xa) AS BIGINT) AS sxx
               FROM j)
      SELECT m_edges, sx, sxy, sxx,
        CASE WHEN m_edges * sxx - sx * sx <> 0 THEN
          CAST(floor(1000000000000.0 *
            CAST(m_edges * sxy - sx * sx AS DOUBLE)
            / CAST(m_edges * sxx - sx * sx AS DOUBLE)) AS BIGINT)
        END AS assortativity_q
      FROM sums"""))

  /** (q282) RM3 pseudo-relevance-feedback expansion
    * (Retrieval.rm3Expansion scaladoc): BM25 top-3 feedback docs per
    * query, uniform relevance model, top-10 expansion terms —
    * all-integer term weights ((10¹²·tf) div dl sums).
    */
  val q282Rm3 = Q(
    "q282_ret_rm3_expansion",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Retrieval.rm3Expansion(docs.filter(col("doc_id") < 10),
        docs, "doc_id", "text", fbDocs = 3, fbTerms = 10, maxTermDf = 500)
        .orderBy("query_id", "term_rank")
    },
    Some("""
      WITH t AS (SELECT doc_id AS d,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
             FROM documents),
      tfx AS (SELECT d, term, COUNT(*) AS tf FROM t
              WHERE len(term) > 0 GROUP BY d, term),
      dlx AS (SELECT d, CAST(SUM(tf) AS BIGINT) AS dl FROM tfx GROUP BY d),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      ax AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
             FROM dlx),
      dfx AS (SELECT term, COUNT(*) AS df FROM tfx
              GROUP BY term HAVING COUNT(*) <= 500),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM (
               SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
               FROM documents WHERE doc_id < 10)
             WHERE len(term) > 0),
      m AS (SELECT qt.query_id, tfx.d, tfx.tf, dfx.df, dlx.dl
            FROM tfx JOIN qt USING (term) JOIN dfx USING (term)
                 JOIN dlx ON dlx.d = tfx.d
            WHERE qt.query_id <> tfx.d),
      sc AS (SELECT query_id, d,
               CAST(SUM(CAST(floor(1000000.0 * (
                 ln(1.0 + (CAST(nn.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5))
                 * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
                   / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                      * (1.0 - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / ax.avgdl)))
                 )) AS BIGINT)) AS BIGINT) AS score_q
             FROM m CROSS JOIN nn CROSS JOIN ax
             GROUP BY query_id, d),
      fb AS (SELECT query_id, d FROM (
               SELECT query_id, d, row_number() OVER (PARTITION BY query_id
                 ORDER BY score_q DESC, d ASC) AS rnk FROM sc)
             WHERE rnk <= 3),
      rm AS (SELECT fb.query_id, tfx.term,
               CAST(SUM((1000000000000 * tfx.tf) // dlx.dl) AS BIGINT)
                 AS rm_weight_q
             FROM fb JOIN tfx ON tfx.d = fb.d JOIN dlx ON dlx.d = fb.d
             GROUP BY fb.query_id, tfx.term)
      SELECT query_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY rm_weight_q DESC, term ASC) AS INTEGER) AS term_rank,
        term, rm_weight_q
      FROM rm
      QUALIFY term_rank <= 10
      ORDER BY query_id, term_rank"""))

  /** (q283) Hubness audit of the embedding space
    * (Graph.kOccurrenceProfile scaladoc): the 5-occurrence histogram
    * over all vectors (anti-hubs included) with the distribution's
    * quantized skewness — the intrinsic-dimensionality red-flag check.
    */
  val q283Hubness = Q(
    "q283_ann_hubness",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.kOccurrenceProfile(
        knn.select(col("query_id"), col("neighbor_id")),
        emb.select(col("vec_id").as("id")))
        .orderBy("k_occ")
    },
    Some(s"""
      WITH $KnnCte,
      occ AS (SELECT neighbor_id AS id, CAST(count(*) AS BIGINT) AS o
              FROM knn GROUP BY neighbor_id),
      pp AS (SELECT coalesce(o.o, 0) AS occ FROM embeddings e
             LEFT JOIN occ o ON o.id = e.vec_id),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(occ) AS BIGINT) AS e FROM pp),
      mom AS (SELECT max(n) AS n,
                CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
                CAST(sum(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS s3
              FROM (SELECT n * occ - e AS c, n FROM pp CROSS JOIN tot)),
      sk AS (SELECT CASE WHEN s2 > 0 THEN
                 CAST(floor(1000000.0 * CAST(s3 AS DOUBLE)
                   * sqrt(CAST(n AS DOUBLE))
                   / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE))))
                   AS BIGINT)
               END AS skew_q FROM mom)
      SELECT occ AS k_occ, CAST(count(*) AS BIGINT) AS n_points, skew_q
      FROM pp CROSS JOIN sk
      GROUP BY occ, skew_q ORDER BY k_occ"""))

  /** (q284) Page–Hinkley adaptive drift detection
    * (TimeAgg.pageHinkley scaladoc): hourly per-type event counts
    * densified to zero buckets (q180's machinery), δ_q = 0.5·10⁶,
    * λ_q = 20·10⁶ — the running-mean cousin of the q180 CUSUM, pure
    * BIGINT throughout.
    */
  val q284PageHinkley = Q(
    "q284_a_page_hinkley",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.pageHinkley(dense, "event_type", "bucket", "x",
        deltaQ = 500000L, lambdaQ = 20000000L)
        .orderBy("event_type", "bucket")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      c AS (SELECT event_type, bucket, x,
              CAST(row_number() OVER (PARTITION BY event_type
                ORDER BY bucket) AS BIGINT) AS t,
              CAST(sum(x) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS p
            FROM dense),
      d AS (SELECT event_type, bucket, x, t,
              (1000000 * (t * x - p)) // t - 500000 AS dq
            FROM c),
      u AS (SELECT event_type, bucket, x,
              CAST(sum(dq) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS uu
            FROM d),
      mm AS (SELECT event_type, bucket, x, uu,
               least(CAST(min(uu) OVER (PARTITION BY event_type
                 ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT), 0) AS mu
             FROM u)
      SELECT event_type, bucket, x, uu - mu AS ph_q,
        (uu - mu) >= 20000000 AS alarm
      FROM mm ORDER BY event_type, bucket"""))

  /** (q285) Seasonal-naive MASE backtest (TimeAgg.maseBacktest
    * scaladoc): 75 % train split of the densified hourly series,
    * season = 24 buckets — exact integer MAE sums, one integer
    * floor-div at 10⁶.
    */
  val q285MaseBacktest = Q(
    "q285_a_mase_backtest",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.maseBacktest(dense, "event_type", "bucket", "x",
        season = 24, trainPct = 75)
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      st AS (SELECT event_type, bucket, x,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY bucket) AS BIGINT) AS t,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY bucket)
                 AS lag1,
               lag(x, 24) OVER (PARTITION BY event_type ORDER BY bucket)
                 AS lags
             FROM dense),
      g AS (SELECT event_type,
              max((n * 75 + 99) // 100) AS n_train,
              max(n - (n * 75 + 99) // 100) AS n_test,
              CAST(sum(CASE WHEN t > 1 AND t <= (n * 75 + 99) // 100
                THEN abs(x - lag1) ELSE 0 END) AS BIGINT) AS naive_mae_num,
              CAST(sum(CASE WHEN t > (n * 75 + 99) // 100
                  AND lags IS NOT NULL
                THEN abs(x - lags) ELSE 0 END) AS BIGINT) AS test_mae_num,
              CAST(sum(CASE WHEN t > (n * 75 + 99) // 100
                  AND lags IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_scored
            FROM st GROUP BY event_type)
      SELECT event_type, n_train, n_test, n_scored, naive_mae_num,
        test_mae_num,
        CASE WHEN naive_mae_num > 0 AND n_scored > 0 THEN
          (1000000 * test_mae_num * (n_train - 1))
            // (n_scored * naive_mae_num)
        END AS mase_q
      FROM g ORDER BY event_type"""))

  /** (q286) Bradley–Terry source-strength fit (Eval.bradleyTerry
    * scaladoc): docs matched by a fixed affine map, winner = more
    * tokens (ties → lower doc id), comparisons lifted to SOURCE level,
    * 5 MM rounds at 10⁶ scale — the oracle replays every round.
    */
  val q286BradleyTerry = Q(
    "q286_ml_bradley_terry",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val tk = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).as("score"))
      val n = lit(500L)
      val a = tk.select(col("doc_id").as("id_a"), col("source").as("src_a"),
        col("score").as("sc_a"),
        pmod(col("doc_id") * 7 + 13, n).as("id_b"))
      val paired = a.join(tk.select(col("doc_id").as("id_b"),
          col("source").as("src_b"), col("score").as("sc_b")), Seq("id_b"))
        .filter(col("src_a") =!= col("src_b"))
      val comps = paired.select(
        when(col("sc_a") > col("sc_b") ||
          (col("sc_a") === col("sc_b") && col("id_a") < col("id_b")),
          col("src_a")).otherwise(col("src_b")).as("winner"),
        when(col("sc_a") > col("sc_b") ||
          (col("sc_a") === col("sc_b") && col("id_a") < col("id_b")),
          col("src_b")).otherwise(col("src_a")).as("loser"))
      operators.Eval.bradleyTerry(comps, "winner", "loser", iters = 5)
        .orderBy("id")
    },
    Some {
      val round = (p: String, o: String) => s"""
      $o AS (SELECT i.id,
               CASE WHEN d.d > 0 THEN (i.wins * 1000000000000) // d.d
                 ELSE 0 END AS wq
             FROM items i JOIN (
               SELECT p.a AS id,
                 CAST(sum((p.p * 1000000000000) // (wa.wq + wb.wq))
                   AS BIGINT) AS d
               FROM pairs p JOIN $p wa ON wa.id = p.a
                 JOIN $p wb ON wb.id = p.b
               GROUP BY p.a) d ON d.id = i.id)"""
      s"""
      WITH tk AS (SELECT doc_id, source,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
            END AS BIGINT) AS score
        FROM documents WHERE text IS NOT NULL),
      pr AS (SELECT a.doc_id AS id_a, a.source AS src_a, a.score AS sc_a,
               b.doc_id AS id_b, b.source AS src_b, b.score AS sc_b
             FROM tk a JOIN tk b ON b.doc_id = (a.doc_id * 7 + 13) % 500
             WHERE a.source <> b.source),
      comps AS (SELECT
          CASE WHEN sc_a > sc_b OR (sc_a = sc_b AND id_a < id_b)
            THEN src_a ELSE src_b END AS winner,
          CASE WHEN sc_a > sc_b OR (sc_a = sc_b AND id_a < id_b)
            THEN src_b ELSE src_a END AS loser
        FROM pr),
      nij AS (SELECT winner AS w, loser AS l, CAST(count(*) AS BIGINT) AS n
              FROM comps GROUP BY 1, 2),
      pairs AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS p FROM (
                  SELECT w AS a, l AS b, n FROM nij
                  UNION ALL SELECT l AS a, w AS b, n FROM nij)
                GROUP BY a, b),
      wins AS (SELECT w AS id, CAST(sum(n) AS BIGINT) AS wins
               FROM nij GROUP BY w),
      items AS (SELECT DISTINCT p.a AS id, coalesce(w.wins, 0) AS wins
                FROM pairs p LEFT JOIN wins w ON w.id = p.a),
      w0 AS (SELECT id, CAST(1000000 AS BIGINT) AS wq FROM items),
      ${round("w0", "w1")},
      ${round("w1", "w2")},
      ${round("w2", "w3")},
      ${round("w3", "w4")},
      ${round("w4", "w5")},
      tot AS (SELECT a AS id, CAST(sum(p) AS BIGINT) AS n_comparisons
              FROM pairs GROUP BY a)
      SELECT i.id, i.wins AS n_wins, t.n_comparisons,
        CAST(w5.wq AS BIGINT) AS w_q
      FROM items i JOIN w5 ON w5.id = i.id JOIN tot t ON t.id = i.id
      ORDER BY i.id"""
    })

  /** (q287) UniMax budget allocation (Packing.unimaxAllocation
    * scaladoc): 26k-token budget over the 20 sources at maxEpochs = 1
    * — closed-form water-filling, small sources saturate, the rest
    * split the remainder evenly; all-integer.
    */
  val q287Unimax = Q(
    "q287_s_unimax_alloc",
    (s, dir) =>
      operators.Packing.unimaxAllocation(t(s, dir, "documents"),
        "doc_id", "text", "source", budgetTokens = 26000L, maxEpochs = 1)
        .orderBy("source"),
    Some("""
      WITH m AS (SELECT source,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END) AS BIGINT) AS t_tokens
             FROM documents GROUP BY source),
      c AS (SELECT source, t_tokens, t_tokens * 1 AS cap,
              CAST(row_number() OVER (ORDER BY t_tokens * 1 ASC, source ASC)
                AS BIGINT) AS i,
              CAST(count(*) OVER () AS BIGINT) AS mm,
              coalesce(CAST(sum(t_tokens * 1) OVER (
                ORDER BY t_tokens * 1 ASC, source ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS pprev
            FROM m),
      sflag AS (SELECT *, pprev + cap * (mm - i + 1) <= 26000 AS sat FROM c),
      st AS (SELECT
               CAST(sum(CASE WHEN sat THEN cap ELSE 0 END) AS BIGINT) AS scap,
               CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS scnt,
               max(mm) AS mm2 FROM sflag),
      alloc AS (SELECT source, t_tokens, cap,
              CASE WHEN sat THEN cap
                ELSE (26000 - scap) // (mm2 - scnt) END AS alloc_tokens
            FROM sflag CROSS JOIN st)
      SELECT source, t_tokens, cap, alloc_tokens,
        CASE WHEN t_tokens > 0 THEN (1000000 * alloc_tokens) // t_tokens
          ELSE 0 END AS epochs_q
      FROM alloc ORDER BY source"""))

  /** (q288) Nelson–Aalen cumulative hazard (TimeAgg.nelsonAalen
    * scaladoc): the q238 inter-event duration grid with the PURE
    * integer Σ (10¹²·d_j) div n_j estimator — no ln/exp at all.
    */
  val q288NelsonAalen = Q(
    "q288_a_nelson_aalen",
    (s, dir) =>
      operators.TimeAgg.nelsonAalen(
        operators.TimeAgg.interEventDurations(ev(s, dir), "user_id",
          "event_id", "ts_us"), "__t", "__obs")
        .orderBy("t_days"),
    Some(s"""
      WITH ev0 AS (SELECT user_id, event_id,
               CAST($EvUs AS BIGINT) AS us FROM events),
      mx AS (SELECT max(us) AS mx FROM ev0),
      su AS (SELECT us, lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC, event_id ASC) AS nxt
             FROM ev0),
      du AS (SELECT CASE WHEN nxt IS NOT NULL
                 THEN (nxt - us) // 86400000000
                 ELSE (mx - us) // 86400000000 END AS t_days,
               nxt IS NOT NULL AS obs
             FROM su CROSS JOIN mx),
      g AS (SELECT t_days,
              CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                AS d_events,
              CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
            FROM du GROUP BY 1),
      r AS (SELECT *,
              CAST(sum(d_events + n_censored) OVER () AS BIGINT)
                - coalesce(CAST(sum(d_events + n_censored) OVER (
                    ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n_risk
            FROM g)
      SELECT t_days, n_risk, d_events, n_censored,
        CAST(sum((1000000000000 * d_events) // n_risk) OVER (
          ORDER BY t_days ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cumhaz_q
      FROM r ORDER BY t_days"""))

  /** (q289) Two-cohort log-rank test (TimeAgg.logRank scaladoc):
    * inter-event survival split by user-id parity — exact-integer O−E,
    * per-time quantized variance terms, mirrored χ².
    */
  val q289LogRank = Q(
    "q289_a_log_rank",
    (s, dir) => {
      val durs = operators.TimeAgg.interEventDurations(ev(s, dir),
          "user_id", "event_id", "ts_us")
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      operators.TimeAgg.logRank(durs, "__t", "__obs", "grp")
    },
    Some(s"""
      WITH ev0 AS (SELECT user_id, event_id,
               CAST($EvUs AS BIGINT) AS us FROM events),
      mx AS (SELECT max(us) AS mx FROM ev0),
      su AS (SELECT user_id, us, lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC, event_id ASC) AS nxt
             FROM ev0),
      du AS (SELECT user_id % 2 AS grp,
               CASE WHEN nxt IS NOT NULL
                 THEN (nxt - us) // 86400000000
                 ELSE (mx - us) // 86400000000 END AS t_days,
               nxt IS NOT NULL AS obs
             FROM su CROSS JOIN mx),
      g AS (SELECT t_days,
              CAST(sum(CASE WHEN obs AND grp = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS d1,
              CAST(sum(CASE WHEN obs AND grp <> 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS d0,
              CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS l1,
              CAST(sum(CASE WHEN grp <> 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS l0
            FROM du GROUP BY 1),
      r AS (SELECT *,
              CAST(sum(l1) OVER () AS BIGINT)
                - coalesce(CAST(sum(l1) OVER (ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n1,
              CAST(sum(l0) OVER () AS BIGINT)
                - coalesce(CAST(sum(l0) OVER (ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n0
            FROM g),
      e AS (SELECT t_days, d1, d0, n1, n0, n1 + n0 AS nn, d1 + d0 AS dd
            FROM r WHERE d1 + d0 > 0),
      q AS (SELECT d1, d0,
              (1000000000 * (d1 * nn - dd * n1)) // nn AS oeq,
              CASE WHEN nn > 1 THEN
                CAST(floor(1000000000.0
                  * (CAST(dd AS DOUBLE) * CAST(n1 AS DOUBLE)
                    / CAST(nn AS DOUBLE))
                  * (CAST(nn - n1 AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (CAST(nn - dd AS DOUBLE) / CAST(nn - 1 AS DOUBLE)))
                  AS BIGINT)
                ELSE 0 END AS vq
            FROM e),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
                CAST(sum(d1) AS BIGINT) AS o1,
                CAST(sum(d0) AS BIGINT) AS o0,
                CAST(sum(oeq) AS BIGINT) AS oe_q,
                CAST(sum(vq) AS BIGINT) AS v_q
              FROM q)
      SELECT n_times, o1, o0, oe_q, v_q,
        CASE WHEN v_q > 0 THEN
          CAST(floor(1000000.0
            * ((CAST(oe_q AS DOUBLE) / 1000000000.0)
              * (CAST(oe_q AS DOUBLE) / 1000000000.0))
            / (CAST(v_q AS DOUBLE) / 1000000000.0)) AS BIGINT)
        END AS chi_q
      FROM tot"""))

  /** (q290) Trigram stupid-backoff LM scoring
    * (Curation.stupidBackoffScore scaladoc): fit on even doc ids,
    * score the odd half — the held-out split forces all three backoff
    * branches (attested trigram, bigram backoff, add-one unigram
    * floor) through the oracle.
    */
  val q290StupidBackoff = Q(
    "q290_tx_stupid_backoff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.stupidBackoffScore(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH tkc AS (
        SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
      tks AS (
        SELECT doc_id,
          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> len(x) > 0) AS t
        FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
      tri AS (SELECT t[i] AS t1, t[i+1] AS t2, t[i+2] AS t3,
                COUNT(*)::BIGINT AS c123
              FROM tkc, LATERAL unnest(range(1, len(t) - 1)) u(i)
              WHERE len(t) >= 3 GROUP BY 1, 2, 3),
      bi AS (SELECT t[i] AS t1, t[i+1] AS t2, COUNT(*)::BIGINT AS cb
             FROM tkc, LATERAL unnest(range(1, len(t))) u(i)
             WHERE len(t) >= 2 GROUP BY 1, 2),
      uni AS (SELECT x AS term, COUNT(*)::BIGINT AS cu FROM
                (SELECT unnest(t) AS x FROM tkc) GROUP BY x),
      nv AS (SELECT CAST(sum(cu) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v FROM uni),
      st AS (SELECT doc_id, t[i] AS t1, t[i+1] AS t2, t[i+2] AS t3
             FROM tks, LATERAL unnest(range(1, len(t) - 1)) u(i)
             WHERE len(t) >= 3),
      j AS (SELECT st.doc_id, tri.c123, b12.cb AS c12, b23.cb AS c23,
              u2.cu AS c2, u3.cu AS c3, nv.n, nv.v
            FROM st
            LEFT JOIN tri ON tri.t1 = st.t1 AND tri.t2 = st.t2
              AND tri.t3 = st.t3
            LEFT JOIN bi b12 ON b12.t1 = st.t1 AND b12.t2 = st.t2
            LEFT JOIN bi b23 ON b23.t1 = st.t2 AND b23.t2 = st.t3
            LEFT JOIN uni u2 ON u2.term = st.t2
            LEFT JOIN uni u3 ON u3.term = st.t3
            CROSS JOIN nv),
      q AS (SELECT doc_id,
              CAST(floor(1000000.0 * ln(
                CASE WHEN coalesce(c123, 0) > 0
                  THEN CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE)
                WHEN coalesce(c23, 0) > 0
                  THEN 0.4 * (CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE))
                ELSE 0.16 * (CAST(coalesce(c3, 0) + 1 AS DOUBLE)
                  / CAST(n + v AS DOUBLE))
                END)) AS BIGINT) AS lpq
            FROM j),
      g AS (SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
              CAST(SUM(lpq) AS BIGINT) AS sb_lp_q
            FROM q GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(g.n_trigrams, 0) AS n_trigrams,
        coalesce(g.sb_lp_q, 0) AS sb_lp_q,
        CASE WHEN g.n_trigrams > 0 THEN
          (CAST(g.sb_lp_q AS DOUBLE) / 1000000.0)
            / CAST(g.n_trigrams AS DOUBLE)
          END AS sb_lp_mean
      FROM documents d LEFT JOIN g USING (doc_id)
      WHERE d.doc_id % 2 = 1
      ORDER BY d.doc_id"""))

  /** (q291) Personalized PageRank over the mutual-5-NN graph
    * (Graph.personalizedPageRank scaladoc): teleport restricted to the
    * vec_id < 25 seed set, 3 integer-exact rounds — proximity-to-seeds
    * ranking, oracle unrolls every round.
    */
  val q291Ppr = Q(
    "q291_g_personalized_pagerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.personalizedPageRank(
        operators.Graph.mutualEdges(
          knn.select(col("query_id"), col("neighbor_id"))),
        emb.filter(col("vec_id") < 25).select(col("vec_id").as("id")),
        rounds = 3)
        .orderBy("id")
    },
    Some {
      val iter = (p: String, o: String) => s"""
      $o AS (SELECT p.u, p.deg, p.sd, p.s,
               CASE WHEN p.sd = 1 THEN 3000000000000 // (20 * p.s)
                 ELSE 0 END + c.inc AS r
             FROM $p p JOIN (
               SELECT s2.v AS u,
                 CAST(sum((17 * p.r) // (20 * p.deg)) AS BIGINT) AS inc
               FROM sym s2 JOIN $p p ON p.u = s2.u GROUP BY s2.v) c
               ON c.u = p.u)"""
      s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a AS u, b AS v FROM mut
              UNION ALL SELECT b AS u, a AS v FROM mut),
      dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg,
               CASE WHEN u < 25 THEN 1 ELSE 0 END AS sd
             FROM sym GROUP BY u),
      ss AS (SELECT CAST(sum(sd) AS BIGINT) AS s FROM dg),
      r0 AS (SELECT u, deg, sd, s,
               CASE WHEN sd = 1 THEN 1000000000000 // s ELSE 0 END AS r
             FROM dg CROSS JOIN ss),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")},
      ${iter("r2", "r3")}
      SELECT u AS id, deg AS degree, CAST(sd AS BIGINT) AS seed,
        CAST(r AS BIGINT) AS rank_q
      FROM r3 ORDER BY id"""
    })

  /** (q292) Pinball-loss forecast backtest (TimeAgg.pinballBacktest
    * scaladoc): τ = 0.9 quantile loss of the seasonal-naive forecast
    * on the q285 split — the per-point loss×10 is an exact integer
    * max, one integer mean division.
    */
  val q292Pinball = Q(
    "q292_a_pinball_backtest",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.pinballBacktest(dense, "event_type", "bucket",
        "x", season = 24, trainPct = 75, tauNum = 9, tauDen = 10)
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      st AS (SELECT event_type, bucket, x,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY bucket) AS BIGINT) AS t,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               x - lag(x, 24) OVER (PARTITION BY event_type
                 ORDER BY bucket) AS e
             FROM dense),
      f AS (SELECT event_type,
              greatest(9 * e, (9 - 10) * e) AS l
            FROM st
            WHERE t > (n * 75 + 99) // 100 AND e IS NOT NULL),
      g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
              CAST(sum(l) AS BIGINT) AS pinball_num
            FROM f GROUP BY event_type)
      SELECT event_type, n_scored, pinball_num,
        (1000000 * pinball_num) // (10 * n_scored) AS pinball_mean_q
      FROM g ORDER BY event_type"""))

  /** (q293) Two-group effect sizes (Stats.effectSizes scaladoc):
    * doc length en vs non-en — exact-integer Cliff's delta from the
    * doubled-tie U grid, mirrored-fp Cohen's d and Hedges' g.
    */
  val q293EffectSizes = Q(
    "q293_a_effect_sizes",
    (s, dir) =>
      operators.Stats.effectSizes(t(s, dir, "documents"), "n_chars",
        col("lang") === "en"),
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) AS x,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
             FROM documents WHERE n_chars IS NOT NULL),
      grid AS (SELECT x, CAST(sum(g) AS BIGINT) AS c1,
                 CAST(sum(1 - g) AS BIGINT) AS c2
               FROM b GROUP BY x),
      uu AS (SELECT CAST(sum(CAST(c1 AS HUGEINT) * (2 * cum2 + c2))
                 AS HUGEINT) AS u2
             FROM (SELECT c1, c2,
                     coalesce(CAST(sum(c2) OVER (ORDER BY x ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS cum2
                   FROM grid)),
      m AS (SELECT CAST(sum(g) AS BIGINT) AS n1,
              CAST(sum(1 - g) AS BIGINT) AS n2,
              CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS HUGEINT) AS s1,
              CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS HUGEINT) AS s2,
              CAST(sum(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x
                ELSE 0 END) AS HUGEINT) AS q1,
              CAST(sum(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x
                ELSE 0 END) AS HUGEINT) AS q2
            FROM b),
      f AS (SELECT n1, n2, CAST(u2 AS BIGINT) AS u2,
              CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
              CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
              (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n1 AS DOUBLE))
              + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                / CAST(n2 AS DOUBLE)) AS ssw
            FROM m CROSS JOIN uu)
      SELECT n1, n2, u2,
        (1000000 * (u2 - n1 * n2)) // (n1 * n2) AS cliffs_q,
        CASE WHEN n1 >= 2 AND n2 >= 2 AND ssw > 0 THEN
          CAST(floor(1000000.0 * ((m1 - m2)
            / sqrt(ssw / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))))
            AS BIGINT)
        END AS cohen_d_q,
        CASE WHEN n1 >= 2 AND n2 >= 2 AND ssw > 0 THEN
          CAST(floor(1000000.0 * (((m1 - m2)
            / sqrt(ssw / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))
            * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE)
              + CAST(n2 AS DOUBLE)) - 9.0)))) AS BIGINT)
        END AS hedges_g_q
      FROM f"""))

  /** (q294) Theil's uncertainty coefficient U(source|lang)
    * (Stats.uncertaintyCoefficient scaladoc): normalized asymmetric
    * association from integer-summed quantized entropy terms.
    */
  val q294TheilsU = Q(
    "q294_a_theils_u",
    (s, dir) =>
      operators.Stats.uncertaintyCoefficient(t(s, dir, "documents"),
        "source", "lang"),
    Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
             GROUP BY 1, 2),
      r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rr
            FROM cells GROUP BY source),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cc
            FROM cells GROUP BY lang),
      tot AS (SELECT CAST(sum(rr) AS BIGINT) AS t,
                CAST(count(*) AS BIGINT) AS n_rows FROM r),
      hx AS (SELECT CAST(sum(CAST(floor(1000000000.0
                 * CAST(rr AS DOUBLE)
                 * ln(CAST(t AS DOUBLE) / CAST(rr AS DOUBLE))
                 / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hx_q
             FROM r CROSS JOIN tot),
      mi AS (SELECT CAST(sum(CAST(floor(1000000000.0
                 * CAST(o AS DOUBLE)
                 * ln(CAST(CAST(t AS HUGEINT) * o AS DOUBLE)
                   / CAST(CAST(rr AS HUGEINT) * cc AS DOUBLE))
                 / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS mi_q
             FROM cells JOIN r USING (source) JOIN c USING (lang)
             CROSS JOIN tot)
      SELECT t AS n, n_rows, hx_q, mi_q,
        CASE WHEN hx_q > 0 THEN (1000000 * mi_q) // hx_q END AS u_q
      FROM tot CROSS JOIN hx CROSS JOIN mi"""))

  /** (q295) Closed-form two-regressor OLS (Stats.olsFit2 scaladoc):
    * n_chars ~ token count + en-indicator — Cramer determinants as
    * exact Decimal(38,0) polynomials, one double division per β.
    */
  val q295Ols = Q(
    "q295_a_ols_fit",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("n_chars"),
          TextFns.tokenCount(col("text")).as("ntok"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      operators.Stats.olsFit2(docs, "n_chars", "ntok", "is_en")
    },
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) AS y,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS BIGINT) AS x1,
               CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS x2
             FROM documents
             WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(x1 AS HUGEINT)) AS HUGEINT) AS sx1,
              CAST(sum(CAST(x2 AS HUGEINT)) AS HUGEINT) AS sx2,
              CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS sx11,
              CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS sx22,
              CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS sx12,
              CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
              CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS sx1y,
              CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS sx2y,
              CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM b),
      dets AS (SELECT *,
              CAST(n AS HUGEINT) * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
              sy * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1y * sx22 - sx12 * sx2y)
                + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
              CAST(n AS HUGEINT) * (sx1y * sx22 - sx12 * sx2y)
                - sy * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
              CAST(n AS HUGEINT) * (sx11 * sx2y - sx1y * sx12)
                - sx1 * (sx1 * sx2y - sx1y * sx2)
                + sy * (sx1 * sx12 - sx11 * sx2) AS det2
            FROM m),
      f AS (SELECT n, det,
              CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
              CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
              CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2,
              CAST(syy AS DOUBLE) AS syyd, CAST(sy AS DOUBLE) AS syd,
              CAST(sx1y AS DOUBLE) AS sx1yd, CAST(sx2y AS DOUBLE) AS sx2yd,
              CAST(n AS DOUBLE) AS nd
            FROM dets)
      SELECT n,
        CASE WHEN det <> 0 THEN CAST(floor(1000000.0 * b0) AS BIGINT) END
          AS beta0_q,
        CASE WHEN det <> 0 THEN CAST(floor(1000000.0 * b1) AS BIGINT) END
          AS beta1_q,
        CASE WHEN det <> 0 THEN CAST(floor(1000000.0 * b2) AS BIGINT) END
          AS beta2_q,
        CASE WHEN det <> 0 AND syyd - syd * syd / nd > 0 THEN
          CAST(floor(1000000.0 * (1.0 -
            (syyd - b0 * syd - b1 * sx1yd - b2 * sx2yd)
            / (syyd - syd * syd / nd))) AS BIGINT)
        END AS r2_q
      FROM f"""))

  /** (q296) Partial correlation (Stats.partialCorrelation scaladoc):
    * n_chars vs token count controlling the en-indicator — three
    * mirrored pairwise r's over exact decimal sums, one combining
    * chain.
    */
  val q296PartialCorr = Q(
    "q296_a_partial_corr",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("n_chars"),
          TextFns.tokenCount(col("text")).as("ntok"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      operators.Stats.partialCorrelation(docs, "n_chars", "ntok", "is_en")
    },
    Some("""
      WITH base AS (SELECT CAST(n_chars AS BIGINT) AS a,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS BIGINT) AS b,
               CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS z
             FROM documents
             WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
              CAST(sum(CAST(a AS HUGEINT)) AS HUGEINT) AS sa,
              CAST(sum(CAST(b AS HUGEINT)) AS HUGEINT) AS sb,
              CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
              CAST(sum(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
              CAST(sum(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
              CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
              CAST(sum(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab,
              CAST(sum(CAST(a AS HUGEINT) * z) AS HUGEINT) AS saz,
              CAST(sum(CAST(b AS HUGEINT) * z) AS HUGEINT) AS sbz
            FROM base),
      f AS (SELECT n,
              CAST(n * sab - sa * sb AS DOUBLE)
                / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                  * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS rab,
              CAST(n * saz - sa * sz AS DOUBLE)
                / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                  * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS raz,
              CAST(n * sbz - sb * sz AS DOUBLE)
                / (sqrt(CAST(n * sbb - sb * sb AS DOUBLE))
                  * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rbz,
              n * saa - sa * sa AS va, n * sbb - sb * sb AS vb,
              n * szz - sz * sz AS vz
            FROM m)
      SELECT CAST(n AS BIGINT) AS n,
        CASE WHEN va > 0 AND vb > 0 AND vz > 0 THEN
          CAST(floor(1000000.0 * rab) AS BIGINT) END AS r_ab_q,
        CASE WHEN va > 0 AND vb > 0 AND vz > 0 THEN
          CAST(floor(1000000.0 * raz) AS BIGINT) END AS r_az_q,
        CASE WHEN va > 0 AND vb > 0 AND vz > 0 THEN
          CAST(floor(1000000.0 * rbz) AS BIGINT) END AS r_bz_q,
        CASE WHEN va > 0 AND vb > 0 AND vz > 0
            AND sqrt(1.0 - raz * raz) * sqrt(1.0 - rbz * rbz) > 0 THEN
          CAST(floor(1000000.0 * ((rab - raz * rbz)
            / (sqrt(1.0 - raz * raz) * sqrt(1.0 - rbz * rbz))))
            AS BIGINT)
        END AS partial_q
      FROM f"""))

  /** (q297) Durbin–Watson trend-residual diagnostic
    * (Stats.durbinWatson scaladoc): hourly per-type series, linear
    * trend from exact sums, per-row quantized residuals, DW as one
    * division of two exact decimal sums.
    */
  val q297DurbinWatson = Q(
    "q297_a_durbin_watson",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(3600L))))
        .select("event_type", "bucket")
        .join(hourly, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.Stats.durbinWatson(dense, "event_type", "bucket", "x")
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 3600000000) * 3600 AS bucket FROM events),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.event_type, d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      st AS (SELECT event_type, bucket, x,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY bucket) AS BIGINT) AS t
             FROM dense),
      sums AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS stt1,
                 CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt2,
                 CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                 CAST(sum(CAST(t AS HUGEINT) * x) AS HUGEINT) AS stx
               FROM st GROUP BY event_type),
      fit AS (SELECT event_type, n,
                CAST(CAST(n AS HUGEINT) * stx - stt1 * sx AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * stt2 - stt1 * stt1
                    AS DOUBLE) AS b1,
                stt1, sx
              FROM sums
              WHERE CAST(n AS HUGEINT) * stt2 - stt1 * stt1 > 0),
      fit2 AS (SELECT event_type, n, b1,
                 (CAST(sx AS DOUBLE) - b1 * CAST(stt1 AS DOUBLE))
                   / CAST(n AS DOUBLE) AS b0
               FROM fit),
      r AS (SELECT st.event_type, f.n, f.b1,
              CAST(floor(1000000.0 * (CAST(st.x AS DOUBLE)
                - (f.b0 + f.b1 * CAST(st.t AS DOUBLE)))) AS BIGINT) AS eq,
              st.bucket
            FROM st JOIN fit2 f USING (event_type)),
      lg AS (SELECT event_type, n, b1, eq,
               lag(eq) OVER (PARTITION BY event_type ORDER BY bucket)
                 AS leq
             FROM r),
      agg AS (SELECT event_type, max(n) AS n,
                max(CAST(floor(1000000.0 * b1) AS BIGINT)) AS slope_q,
                CAST(sum(CASE WHEN leq IS NOT NULL
                  THEN CAST(eq - leq AS HUGEINT) * (eq - leq)
                  ELSE 0 END) AS HUGEINT) AS num,
                CAST(sum(CAST(eq AS HUGEINT) * eq) AS HUGEINT) AS den
              FROM lg GROUP BY event_type)
      SELECT event_type, n, slope_q,
        CASE WHEN n >= 3 AND den > 0 THEN
          CAST(floor(1000000.0 * CAST(num AS DOUBLE)
            / CAST(den AS DOUBLE)) AS BIGINT)
        END AS dw_q
      FROM agg ORDER BY event_type"""))

  /** (q298) Goodman–Kruskal gamma + Somers' D between the n_chars
    * bucket and the space-count bucket (Stats.ordinalAssociation
    * scaladoc): concordance masses from the bounded bucket grid,
    * exact-integer throughout.
    */
  val q298OrdinalAssoc = Q(
    "q298_a_ordinal_assoc",
    (s, dir) =>
      operators.Stats.ordinalAssociation(t(s, dir, "documents"),
        expr("n_chars div 50"),
        expr("(length(text) - length(replace(text, ' ', ''))) div 10")),
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) // 50 AS x,
               CAST(length(text) - length(replace(text, ' ', ''))
                 AS BIGINT) // 10 AS y
             FROM documents
             WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      grid AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o
               FROM b GROUP BY 1, 2),
      cd AS (SELECT
               coalesce(CAST(sum(CASE WHEN g2.y > g1.y
                 THEN CAST(g1.o AS HUGEINT) * g2.o END) AS HUGEINT),
                 0) AS c_p,
               coalesce(CAST(sum(CASE WHEN g2.y < g1.y
                 THEN CAST(g1.o AS HUGEINT) * g2.o END) AS HUGEINT),
                 0) AS d_p
             FROM grid g1 JOIN grid g2 ON g2.x > g1.x),
      xm AS (SELECT CAST(sum(CAST(r AS HUGEINT) * (r - 1)) AS HUGEINT)
                 AS tx2
             FROM (SELECT CAST(sum(o) AS BIGINT) AS r
                   FROM grid GROUP BY x)),
      ym AS (SELECT CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT)
                 AS ty2
             FROM (SELECT CAST(sum(o) AS BIGINT) AS c
                   FROM grid GROUP BY y)),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM grid),
      f AS (SELECT n, CAST(c_p AS BIGINT) AS c_pairs,
              CAST(d_p AS BIGINT) AS d_pairs,
              CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS BIGINT) AS ux2,
              CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS BIGINT) AS uy2
            FROM tot CROSS JOIN cd CROSS JOIN xm CROSS JOIN ym)
      SELECT n, c_pairs, d_pairs,
        CASE WHEN c_pairs + d_pairs > 0 THEN
          (1000000 * (c_pairs - d_pairs)) // (c_pairs + d_pairs)
        END AS gamma_q,
        CASE WHEN ux2 > 0 THEN
          (2000000 * (c_pairs - d_pairs)) // ux2 END AS sdyx_q,
        CASE WHEN uy2 > 0 THEN
          (2000000 * (c_pairs - d_pairs)) // uy2 END AS sdxy_q
      FROM f"""))

  /** (q299) Per-source lang-mix goodness-of-fit battery with
    * Benjamini–Hochberg FDR control (Stats.gofFdrBattery scaladoc):
    * 2-df chi-square ⇒ closed-form p = e^{−χ²/2}, integer BH step-up.
    */
  val q299FdrBattery = Q(
    "q299_a_fdr_battery",
    (s, dir) =>
      operators.Stats.gofFdrBattery(t(s, dir, "documents"),
        "source", "lang"),
    Some("""
      WITH cnt AS (SELECT source AS g, lang AS c,
               CAST(count(*) AS BIGINT) AS o
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL
             GROUP BY 1, 2),
      top2 AS (SELECT c FROM (SELECT c, sum(o) AS ct FROM cnt
               GROUP BY c ORDER BY ct DESC, c LIMIT 2)),
      celled AS (SELECT g,
               CASE WHEN c IN (SELECT c FROM top2) THEN 'c:' || c
                 ELSE 'o:' END AS cell,
               CAST(sum(o) AS BIGINT) AS o
             FROM cnt GROUP BY 1, 2),
      ct AS (SELECT cell, CAST(sum(o) AS BIGINT) AS ctot
             FROM celled GROUP BY cell),
      gt AS (SELECT g, CAST(sum(o) AS BIGINT) AS ng
             FROM celled GROUP BY g),
      tt AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM celled),
      grid AS (SELECT gt.g, gt.ng, ct.cell,
               CAST(CAST(gt.ng AS HUGEINT) * ct.ctot AS DOUBLE)
                 / CAST(tt.t AS DOUBLE) AS e,
               CAST(coalesce(celled.o, 0) AS DOUBLE) AS od
             FROM gt CROSS JOIN ct CROSS JOIN tt
             LEFT JOIN celled ON celled.g = gt.g
               AND celled.cell = ct.cell),
      chi AS (SELECT g, ng,
               CAST(sum(CAST(floor(1000000000.0 * (od - e) * (od - e)
                 / e) AS BIGINT)) AS BIGINT) AS chi_q
             FROM grid GROUP BY 1, 2),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM chi),
      p AS (SELECT g, ng, chi_q,
              CAST(floor(1000000000000.0
                * exp(-CAST(chi_q AS DOUBLE) / 2000000000.0))
                AS BIGINT) AS p_q
            FROM chi),
      r AS (SELECT g, ng, chi_q, p_q, m,
              CAST(row_number() OVER (ORDER BY p_q, g) AS BIGINT)
                AS rank
            FROM p CROSS JOIN m),
      a AS (SELECT g, ng, chi_q, p_q, rank,
              least(min((m * p_q) // rank) OVER (ORDER BY p_q, g
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                1000000000000) AS adj_q
            FROM r)
      SELECT g AS source, ng AS n, chi_q, p_q, rank, adj_q,
        CASE WHEN adj_q <= 50000000000 THEN 1 ELSE 0 END AS reject
      FROM a ORDER BY rank"""))

  /** (q300) Jarque–Bera normality diagnostic of n_chars per lang
    * (Stats.jarqueBera scaladoc): exact decimal(38,0) raw moments,
    * one mirrored fp chain to skew/kurtosis/JB.
    */
  val q300JarqueBera = Q(
    "q300_a_jarque_bera",
    (s, dir) =>
      operators.Stats.jarqueBera(t(s, dir, "documents"), "lang",
        "n_chars"),
    Some("""
      WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
              CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
              CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
              CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
            FROM b GROUP BY lang),
      f1 AS (SELECT lang, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
             FROM s),
      f2 AS (SELECT lang, n, mu,
               r2 - mu * mu AS m2,
               r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
               r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                 - 3.0 * mu * mu * mu * mu AS m4
             FROM f1),
      f3 AS (SELECT lang, n, mu, m2,
               m3 / (m2 * sqrt(m2)) AS sk,
               m4 / (m2 * m2) AS ku
             FROM f2)
      SELECT lang, n,
        CAST(floor(1000000.0 * mu) AS BIGINT) AS mean_q,
        CASE WHEN n >= 2 AND m2 > 0 THEN
          CAST(floor(1000000.0 * sk) AS BIGINT) END AS skew_q,
        CASE WHEN n >= 2 AND m2 > 0 THEN
          CAST(floor(1000000.0 * ku) AS BIGINT) END AS kurt_q,
        CASE WHEN n >= 2 AND m2 > 0 THEN
          CAST(floor(1000000.0 * (CAST(n AS DOUBLE) / 6.0
            * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0))) AS BIGINT)
        END AS jb_q
      FROM f3 ORDER BY lang"""))

  /** (q301) Cronbach's alpha over the user × event-type score battery
    * (Eval.cronbachAlpha scaladoc): sparse-cell trick — zero cells
    * never materialize — with one exact integer division at the end.
    */
  val q301CronbachAlpha = Q(
    "q301_ml_cronbach_alpha",
    (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("score"))
      operators.Eval.cronbachAlpha(e, "user_id", "event_type", "score")
    },
    Some("""
      WITH sc AS (SELECT user_id AS u, event_type AS i,
               CAST(count(*) AS BIGINT) AS s
             FROM events
             WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             GROUP BY 1, 2),
      n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM sc),
      it AS (SELECT i, CAST(sum(CAST(s AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS sxx
             FROM sc GROUP BY i),
      ia AS (SELECT CAST(count(*) AS BIGINT) AS k_items,
               CAST(sum(CAST(n.n AS HUGEINT) * sxx - sx * sx)
                 AS HUGEINT) AS iv
             FROM it CROSS JOIN n),
      su AS (SELECT CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
               CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt
             FROM (SELECT u, CAST(sum(s) AS BIGINT) AS t
                   FROM sc GROUP BY u)),
      f AS (SELECT k_items, n.n AS n_subjects,
              CAST(iv AS BIGINT) AS item_var2,
              CAST(CAST(n.n AS HUGEINT) * stt - st * st AS BIGINT)
                AS total_var2
            FROM n CROSS JOIN ia CROSS JOIN su)
      SELECT k_items, n_subjects, item_var2, total_var2,
        CASE WHEN k_items >= 2 AND total_var2 > 0 THEN
          CAST((CAST(1000000 AS HUGEINT) * k_items
              * (total_var2 - item_var2))
            // ((k_items - 1) * CAST(total_var2 AS HUGEINT)) AS BIGINT)
        END AS alpha_q
      FROM f"""))

  /** (q302) Corpus vocabulary-spectrum constants — Yule's K, Sichel's
    * S, Honoré's R (Curation.vocabSpectrum scaladoc): size-invariant
    * lexical-richness fingerprints from the tf spectrum.
    */
  val q302VocabSpectrum = Q(
    "q302_tx_vocab_spectrum",
    (s, dir) =>
      operators.Curation.vocabSpectrum(t(s, dir, "documents"), "text"),
    Some("""
      WITH t AS (SELECT unnest(regexp_split_to_array(lower(trim(text)),
               '\s+')) AS term
             FROM documents),
      tf AS (SELECT term, CAST(count(*) AS BIGINT) AS m FROM t
             WHERE len(term) > 0 GROUP BY term),
      a AS (SELECT CAST(sum(m) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS n_types,
              CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS v1,
              CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS v2,
              CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS s2
            FROM tf)
      SELECT n_tokens, n_types, v1, v2,
        CAST((CAST(10000000000 AS HUGEINT) * (s2 - n_tokens))
          // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
          AS yule_k_q,
        (1000000 * v2) // n_types AS sichel_s_q,
        CASE WHEN v1 < n_types THEN
          CAST(floor(1000000.0 * 100.0 * ln(CAST(n_tokens AS DOUBLE))
            / (1.0 - CAST(v1 AS DOUBLE) / CAST(n_types AS DOUBLE)))
            AS BIGINT)
        END AS honore_r_q
      FROM a"""))

  /** (q303) Mean segmental type-token ratio per lang, 40-token chunks
    * (Curation.msttr scaladoc): partial tails dropped, one exact
    * integer division per group.
    */
  val q303Msttr = Q(
    "q303_tx_msttr",
    (s, dir) =>
      operators.Curation.msttr(
        t(s, dir, "documents").filter(col("lang").isNotNull),
        "lang", "doc_id", "text", chunkLen = 40)
        .orderBy("lang"),
    Some("""
      WITH d AS (SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS a
             FROM documents
             WHERE lang IS NOT NULL AND text IS NOT NULL),
      t0 AS (SELECT doc_id, lang, a[g.i] AS term, g.i AS p
             FROM d, LATERAL unnest(range(1, len(a) + 1)) g(i)),
      t1 AS (SELECT doc_id, lang, term,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p)
                 AS BIGINT) AS seq,
               CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS nt
             FROM t0 WHERE len(term) > 0),
      ch AS (SELECT lang, doc_id, (seq - 1) // 40 AS chunk,
               CAST(count(DISTINCT term) AS BIGINT) AS types
             FROM t1 WHERE seq <= (nt // 40) * 40
             GROUP BY 1, 2, 3)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_chunks,
        (1000000 * CAST(sum(types) AS BIGINT)) // (40 * count(*))
          AS msttr_q
      FROM ch GROUP BY lang ORDER BY lang"""))

  /** (q304) Gini decision stump on n_chars vs the en-label
    * (Classify.decisionStump scaladoc): exact cumulative-grid fit,
    * value-bounded window, deterministic argmax.
    */
  val q304DecisionStump = Q(
    "q304_ml_decision_stump",
    (s, dir) =>
      operators.Classify.decisionStump(t(s, dir, "documents"),
        "n_chars", col("lang") === "en"),
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             FROM documents WHERE n_chars IS NOT NULL),
      g AS (SELECT v, CAST(count(*) AS BIGINT) AS nv,
              CAST(sum(y) AS BIGINT) AS pv
            FROM b GROUP BY v),
      c AS (SELECT v, CAST(sum(nv) OVER (ORDER BY v) AS BIGINT) AS nl,
              CAST(sum(pv) OVER (ORDER BY v) AS BIGINT) AS pl
            FROM g),
      t AS (SELECT CAST(sum(nv) AS BIGINT) AS n,
              CAST(sum(pv) AS BIGINT) AS p FROM g),
      s AS (SELECT v, nl, pl, n - nl AS nr, p - pl AS pr,
              nl - pl AS ql, (n - nl) - (p - pl) AS qr, n
            FROM c CROSS JOIN t WHERE nl < n),
      sc AS (SELECT v, nl, pl, nr, pr,
               CAST(floor(1000000000000.0 *
                 (CAST(CAST(pl AS HUGEINT) * pl
                     + CAST(ql AS HUGEINT) * ql AS DOUBLE)
                    / CAST(nl AS DOUBLE)
                  + CAST(CAST(pr AS HUGEINT) * pr
                     + CAST(qr AS HUGEINT) * qr AS DOUBLE)
                    / CAST(nr AS DOUBLE))
                 / CAST(n AS DOUBLE)) AS BIGINT) AS score_q
             FROM s)
      SELECT v AS threshold, nl AS n_left, pl AS pos_left,
        nr AS n_right, pr AS pos_right, score_q
      FROM sc ORDER BY score_q DESC, v LIMIT 1"""))

  /** (q305) Multinomial Naive Bayes lang prediction, fit on even
    * doc_ids and scored on odd (Classify.naiveBayes scaladoc): the
    * class×vocab grid never materializes; every log term quantized.
    */
  val q305NaiveBayes = Q(
    "q305_ml_naive_bayes",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0 &&
        col("lang").isNotNull)
      val test = docs.filter(col("doc_id") % 2 === 1)
      operators.Classify.naiveBayes(train, test, "doc_id", "text", "lang")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred"), col("score_q"),
          when(col("pred") === col("lang"), 1).otherwise(0)
            .as("is_correct"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tr AS (SELECT doc_id, lang, text FROM documents
             WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
      te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      ctf AS (SELECT c, term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT lang AS c,
                      unnest(regexp_split_to_array(lower(trim(text)),
                        '\s+')) AS term
                    FROM tr)
              WHERE len(term) > 0 GROUP BY 1, 2),
      ctot AS (SELECT c, CAST(sum(tf) AS BIGINT) AS tt
               FROM ctf GROUP BY c),
      vv AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM ctf),
      pri AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS dc
              FROM tr GROUP BY 1),
      dt AS (SELECT CAST(sum(dc) AS BIGINT) AS d FROM pri),
      cls AS (SELECT pri.c,
                CAST(floor(1000000000.0 * (ln(CAST(dc AS DOUBLE))
                  - ln(CAST(d AS DOUBLE)))) AS BIGINT) AS prior_q,
                CAST(floor(1000000000.0 * ln(CAST(tt + v AS DOUBLE)))
                  AS BIGINT) AS lntv_q
              FROM pri JOIN ctot ON pri.c = ctot.c
              CROSS JOIN vv CROSS JOIN dt),
      dte AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT doc_id,
                      unnest(regexp_split_to_array(lower(trim(text)),
                        '\s+')) AS term
                    FROM te)
              WHERE len(term) > 0 GROUP BY 1, 2),
      prt AS (SELECT doc_id, c,
                CAST(sum(CAST(floor(1000000000.0 * cnt
                  * ln(CAST(tf + 1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
                  AS part_q
              FROM dte JOIN ctf USING (term) GROUP BY 1, 2),
      lens AS (SELECT t2.doc_id, coalesce(l.len, 0) AS len
               FROM (SELECT DISTINCT doc_id FROM te) t2
               LEFT JOIN (SELECT doc_id, CAST(sum(cnt) AS BIGINT)
                   AS len FROM dte GROUP BY 1) l USING (doc_id)),
      scr AS (SELECT lens.doc_id, cls.c,
                prior_q + coalesce(part_q, 0) - len * lntv_q AS score_q
              FROM lens CROSS JOIN cls
              LEFT JOIN prt ON prt.doc_id = lens.doc_id
                AND prt.c = cls.c),
      best AS (SELECT doc_id, c AS pred, score_q,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_q DESC, c) AS rk
               FROM scr)
      SELECT b.doc_id, b.pred, b.score_q,
        CASE WHEN b.pred = d2.lang THEN 1 ELSE 0 END AS is_correct
      FROM (SELECT doc_id, pred, score_q FROM best WHERE rk = 1) b
      JOIN (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1) d2
        USING (doc_id)
      ORDER BY doc_id"""))

  /** (q306) Distance correlation between n_chars and the space count
    * on the md5-ordered 400-row sample (Stats.distanceCorrelation
    * scaladoc): exact n²-scaled double-centering, one fp chain.
    */
  val q306DistanceCorr = Q(
    "q306_a_distance_corr",
    (s, dir) =>
      operators.Stats.distanceCorrelation(
        t(s, dir, "documents").withColumn("__sp",
          expr("length(text) - length(replace(text, ' ', ''))")),
        "doc_id", "n_chars", "__sp", cap = 400),
    Some("""
      WITH s AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x,
               CAST(length(text) - length(replace(text, ' ', ''))
                 AS BIGINT) AS y
             FROM documents
             WHERE n_chars IS NOT NULL AND text IS NOT NULL
             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT, doc_id
             LIMIT 400),
      p AS (SELECT a.id AS ja, b.id AS jb, abs(a.x - b.x) AS da,
              abs(a.y - b.y) AS db
            FROM s a CROSS JOIN s b),
      rs AS (SELECT ja AS j, CAST(sum(da) AS BIGINT) AS rx,
               CAST(sum(db) AS BIGINT) AS ry
             FROM p GROUP BY ja),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(rx) AS BIGINT) AS gx,
              CAST(sum(ry) AS BIGINT) AS gy FROM rs),
      ab AS (SELECT n,
               CAST(n AS HUGEINT) * n * da - CAST(n AS HUGEINT) * ra.rx
                 - CAST(n AS HUGEINT) * rb.rx + gx AS al,
               CAST(n AS HUGEINT) * n * db - CAST(n AS HUGEINT) * ra.ry
                 - CAST(n AS HUGEINT) * rb.ry + gy AS be
             FROM p JOIN rs ra ON p.ja = ra.j
             JOIN rs rb ON p.jb = rb.j CROSS JOIN g),
      f AS (SELECT n, CAST(sum(al * be) AS HUGEINT) AS sab,
              CAST(sum(al * al) AS HUGEINT) AS saa,
              CAST(sum(be * be) AS HUGEINT) AS sbb
            FROM ab GROUP BY n)
      SELECT n, CASE WHEN saa > 0 AND sbb > 0 THEN
        CAST(floor(1000000.0 * CAST(sab AS DOUBLE)
          / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)))
          AS BIGINT)
      END AS dcor2_q
      FROM f"""))

  /** (q307) Randomization test for the en-vs-rest n_chars mean gap
    * (Stats.randomizationTest scaladoc): 200 md5-seeded reallocations,
    * Monte-Carlo add-one p.
    */
  val q307RandomizationTest = Q(
    "q307_a_randomization_test",
    (s, dir) =>
      operators.Stats.randomizationTest(t(s, dir, "documents"),
        "doc_id", "n_chars", col("lang") === "en", reps = 200),
    Some("""
      WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS id,
               CAST(n_chars AS BIGINT) AS x,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
             FROM documents
             WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
      obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(g) AS BIGINT) AS n1,
                CAST(sum(g * x) AS BIGINT) AS s1,
                CAST(sum((1 - g) * x) AS BIGINT) AS s0
              FROM b),
      ob2 AS (SELECT n, n1, (1000000 * n1) // n AS thr,
                CAST(floor(1000000.0 * (CAST(s1 AS DOUBLE)
                    / CAST(n1 AS DOUBLE)
                  - CAST(s0 AS DOUBLE) / CAST(n - n1 AS DOUBLE)))
                  AS BIGINT) AS tobs
              FROM obs),
      rep AS (SELECT r.r, b.x,
                CASE WHEN ('0x' || substr(md5(b.id || ':'
                    || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000 < o.thr THEN 1 ELSE 0 END AS a
              FROM b CROSS JOIN (SELECT unnest(range(0, 200)) AS r) r
              CROSS JOIN ob2 o),
      pr AS (SELECT r, CAST(sum(a) AS BIGINT) AS rn1,
               CAST(sum(a * x) AS BIGINT) AS rs1,
               CAST(sum((1 - a) * x) AS BIGINT) AS rs0
             FROM rep GROUP BY r),
      pv AS (SELECT r,
               CASE WHEN rn1 > 0 AND rn1 < o.n THEN 1 ELSE 0 END
                 AS valid,
               CASE WHEN rn1 > 0 AND rn1 < o.n THEN
                 CAST(floor(1000000.0 * (CAST(rs1 AS DOUBLE)
                     / CAST(rn1 AS DOUBLE)
                   - CAST(rs0 AS DOUBLE)
                     / CAST(o.n - rn1 AS DOUBLE))) AS BIGINT)
               END AS t
             FROM pr CROSS JOIN ob2 o),
      f AS (SELECT CAST(sum(valid) AS BIGINT) AS n_valid,
              CAST(coalesce(sum(CASE WHEN abs(t) >= abs(o.tobs)
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme
            FROM pv CROSS JOIN ob2 o)
      SELECT o.n, o.n1, o.tobs AS t_obs_q, f.n_valid, f.n_extreme,
        (1000000 * (1 + n_extreme)) // (n_valid + 1) AS p_q
      FROM ob2 o CROSS JOIN f"""))

  /** (q308) Fellegi–Sunter linkage weights over acctbal-adjacent
    * customer pairs within a nation block (Dedup.fellegiSunter
    * scaladoc): one pair-table scan, smoothed exact-integer log-odds.
    */
  val q308FellegiSunter = Q(
    "q308_dd_fellegi_sunter",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val p = c.select(col("c_nationkey"), col("c_acctbal").as("a1"),
          lead("c_acctbal", 1).over(w).as("a2"),
          col("c_mktsegment").as("s1"),
          lead("c_mktsegment", 1).over(w).as("s2"),
          col("c_custkey").as("k1"),
          lead("c_custkey", 1).over(w).as("k2"))
        .filter(col("a2").isNotNull)
      operators.Dedup.fellegiSunter(p,
        abs(col("a1") - col("a2")) < 100.0,
        Seq(
          "f1_segment" -> (col("s1") === col("s2")),
          "f2_balance_bucket" ->
            (floor(col("a1") / lit(100.0)) ===
              floor(col("a2") / lit(100.0))),
          "f3_key_mod" -> (col("k1") % 10 === col("k2") % 10)))
    },
    Some("""
      WITH p AS (SELECT c_acctbal AS a1,
               lead(c_acctbal) OVER w AS a2,
               c_mktsegment AS s1, lead(c_mktsegment) OVER w AS s2,
               c_custkey AS k1, lead(c_custkey) OVER w AS k2
             FROM customer
             WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY c_acctbal, c_custkey)),
      l AS (SELECT
              CASE WHEN abs(a1 - a2) < 100.0 THEN 1 ELSE 0 END AS mt,
              CASE WHEN s1 = s2 THEN 1 ELSE 0 END AS f1,
              CASE WHEN floor(a1 / 100.0) = floor(a2 / 100.0)
                THEN 1 ELSE 0 END AS f2,
              CASE WHEN k1 % 10 = k2 % 10 THEN 1 ELSE 0 END AS f3
            FROM p WHERE a2 IS NOT NULL),
      ag AS (SELECT CAST(sum(mt) AS BIGINT) AS nm,
               CAST(sum(1 - mt) AS BIGINT) AS nu,
               CAST(sum(mt * f1) AS BIGINT) AS am1,
               CAST(sum((1 - mt) * f1) AS BIGINT) AS au1,
               CAST(sum(mt * f2) AS BIGINT) AS am2,
               CAST(sum((1 - mt) * f2) AS BIGINT) AS au2,
               CAST(sum(mt * f3) AS BIGINT) AS am3,
               CAST(sum((1 - mt) * f3) AS BIGINT) AS au3
             FROM l),
      rows_ AS (
        SELECT 'f1_segment' AS field, nm, nu, am1 AS am, au1 AS au
          FROM ag
        UNION ALL
        SELECT 'f2_balance_bucket', nm, nu, am2, au2 FROM ag
        UNION ALL
        SELECT 'f3_key_mod', nm, nu, am3, au3 FROM ag)
      SELECT field, nm AS n_match, nu AS n_unmatch, am AS agree_m,
        au AS agree_u,
        CAST(floor(1000000.0 * ln(
          CAST(CAST(am + 1 AS HUGEINT) * (nu + 2) AS DOUBLE)
          / CAST(CAST(au + 1 AS HUGEINT) * (nm + 2) AS DOUBLE)))
          AS BIGINT) AS w_agree_q,
        CAST(floor(1000000.0 * ln(
          CAST(CAST(nm + 1 - am AS HUGEINT) * (nu + 2) AS DOUBLE)
          / CAST(CAST(nu + 1 - au AS HUGEINT) * (nm + 2) AS DOUBLE)))
          AS BIGINT) AS w_disagree_q
      FROM rows_ ORDER BY field"""))

  /** (q309) Hourly event-count periodogram over candidate periods
    * 2..24 h (TimeAgg.periodogram scaladoc): integer-quantized
    * Fourier pair sums on the dense grid, exact power division.
    */
  val q309Periodogram = Q(
    "q309_a_periodogram",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(3600L)))
          .as("bucket"))
        .join(hourly, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.periodogram(dense, "bucket", "x",
        periods = 2 to 24)
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 3600000000) * 3600 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      st AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
               AS BIGINT) AS t
             FROM dense),
      terms AS (SELECT p.p AS period,
               CAST(floor(1000000.0 * CAST(x AS DOUBLE)
                 * cos(2.0 * pi() * CAST(t AS DOUBLE)
                   / CAST(p.p AS DOUBLE))) AS BIGINT) AS c,
               CAST(floor(1000000.0 * CAST(x AS DOUBLE)
                 * sin(2.0 * pi() * CAST(t AS DOUBLE)
                   / CAST(p.p AS DOUBLE))) AS BIGINT) AS s
             FROM st CROSS JOIN
               (SELECT unnest(range(2, 25)) AS p) p),
      ag AS (SELECT period, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS c_q,
               CAST(sum(s) AS BIGINT) AS s_q
             FROM terms GROUP BY period)
      SELECT period, n, c_q, s_q,
        CAST((CAST(c_q AS HUGEINT) * c_q + CAST(s_q AS HUGEINT) * s_q)
          // CAST(1000000000000 AS HUGEINT) AS BIGINT) AS power
      FROM ag ORDER BY period"""))

  /** (q310) Hodges–Lehmann location per lang (Robust.hodgesLehmann
    * scaladoc): Walsh-average lower median on the value grid, exact
    * doubled sums.
    */
  val q310HodgesLehmann = Q(
    "q310_a_hodges_lehmann",
    (s, dir) =>
      operators.Robust.hodgesLehmann(t(s, dir, "documents"), "lang",
        "n_chars").orderBy("lang"),
    Some("""
      WITH grid AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE lang IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      w AS (SELECT a.g, a.v + b.v AS s2,
              CAST(sum(CASE WHEN a.v = b.v
                THEN (CAST(a.c AS HUGEINT) * (a.c + 1)) // 2
                ELSE CAST(a.c AS HUGEINT) * b.c END) AS HUGEINT) AS w
            FROM grid a JOIN grid b ON a.g = b.g AND b.v >= a.v
            GROUP BY 1, 2),
      t AS (SELECT g, CAST(sum(w) AS HUGEINT) AS t FROM w GROUP BY g),
      cm AS (SELECT g, s2, CAST(sum(w) OVER (PARTITION BY g
               ORDER BY s2) AS HUGEINT) AS cum
             FROM w),
      pick AS (SELECT cm.g, cm.s2,
                 row_number() OVER (PARTITION BY cm.g
                   ORDER BY cm.s2) AS rk
               FROM cm JOIN t ON t.g = cm.g
               WHERE cum >= (t.t + 1) // 2)
      SELECT p.g AS lang, CAST(t.t AS BIGINT) AS t_pairs, p.s2 AS hl2,
        (1000000 * p.s2) // 2 AS hl_q
      FROM pick p JOIN t ON t.g = p.g WHERE rk = 1 ORDER BY lang"""))

  /** (q311) One-way intraclass correlation of n_chars within source
    * (Stats.iccOneWay scaladoc): anovaF's decomposition re-ratioed
    * for reliability, quantize-before-sum between groups.
    */
  val q311IccOneWay = Q(
    "q311_a_icc_oneway",
    (s, dir) =>
      operators.Stats.iccOneWay(t(s, dir, "documents"), "source",
        "n_chars"),
    Some("""
      WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
              CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
            FROM b GROUP BY source),
      g2 AS (SELECT n, s, q,
               CAST(floor(1000000.0 * CAST(s AS DOUBLE)
                 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                 AS tq
             FROM g),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS n_total,
              CAST(sum(s) AS HUGEINT) AS ss,
              CAST(sum(q) AS HUGEINT) AS qq,
              CAST(sum(tq) AS BIGINT) AS t6,
              CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS nn
            FROM g2),
      f AS (SELECT k, n_total,
              t6 - CAST(floor(1000000.0 * CAST(ss AS DOUBLE)
                * CAST(ss AS DOUBLE) / CAST(n_total AS DOUBLE))
                AS BIGINT) AS ssb_q6,
              CAST(1000000 * qq - t6 AS BIGINT) AS ssw_q6, nn
            FROM a),
      m AS (SELECT k, n_total, ssb_q6, ssw_q6, nn,
              CAST(ssb_q6 AS DOUBLE) / 1000000.0
                / CAST(k - 1 AS DOUBLE) AS msb,
              CAST(ssw_q6 AS DOUBLE) / 1000000.0
                / CAST(n_total - k AS DOUBLE) AS msw,
              (CAST(n_total AS DOUBLE) - CAST(nn AS DOUBLE)
                / CAST(n_total AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
                AS n0
            FROM f)
      SELECT k, n_total, ssb_q6, ssw_q6,
        CASE WHEN k >= 2 AND n_total > k THEN
          CAST(floor(1000000.0 * (CAST(n_total AS DOUBLE)
            - CAST(nn AS DOUBLE) / CAST(n_total AS DOUBLE))
            / CAST(k - 1 AS DOUBLE)) AS BIGINT) END AS n0_q,
        CASE WHEN k >= 2 AND n_total > k
            AND (msb + (n0 - 1.0) * msw) > 0 THEN
          CAST(floor(1000000.0 * (msb - msw)
            / (msb + (n0 - 1.0) * msw)) AS BIGINT) END AS icc_q
      FROM m"""))

  /** (q312) Truncated Katz centrality on the mutual 5-NN graph
    * (Graph.katz scaladoc): 3 exact integer rounds, α = 1/8, β = 10⁶;
    * the oracle unrolls every round.
    */
  val q312Katz = Q(
    "q312_g_katz",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.katz(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))),
        rounds = 3, alphaDen = 8L)
        .orderBy("id")
    },
    Some {
      val iter = (p: String, o: String) => s"""
      $o AS (SELECT p.u, p.deg, 1000000 + (c.inc // 8) AS x
             FROM $p p JOIN (
               SELECT s.v AS u, CAST(sum(p.x) AS BIGINT) AS inc
               FROM sym s JOIN $p p ON p.u = s.u GROUP BY s.v) c
               ON c.u = p.u)"""
      s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a AS u, b AS v FROM mut
              UNION ALL SELECT b AS u, a AS v FROM mut),
      dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
             FROM sym GROUP BY u),
      x0 AS (SELECT u, deg, CAST(1000000 AS BIGINT) AS x FROM dg),
      ${iter("x0", "x1")},
      ${iter("x1", "x2")},
      ${iter("x2", "x3")}
      SELECT u AS id, deg AS degree, CAST(x AS BIGINT) AS katz_q
      FROM x3 ORDER BY id"""
    })

  /** (q313) GPD method-of-moments tail fit over p90 exceedances of
    * n_chars per lang (Robust.gpdMomFit scaladoc): integer-rank
    * threshold, exact exceedance moments, ξ sign as the headline.
    */
  val q313GpdTail = Q(
    "q313_a_gpd_tail",
    (s, dir) =>
      operators.Robust.gpdMomFit(t(s, dir, "documents"), "lang",
        "n_chars", bucketWidth = 50L),
    Some("""
      WITH b AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v
             FROM documents
             WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      gr AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY 1, 2),
      nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM gr GROUP BY g),
      cum AS (SELECT gr.g, gr.v, nn.n,
                CAST(sum(c) OVER (PARTITION BY gr.g ORDER BY gr.v)
                  AS BIGINT) AS cum
              FROM gr JOIN nn ON nn.g = gr.g),
      u AS (SELECT g, min(v) AS u FROM cum
            WHERE cum >= (9 * n + 9) // 10 GROUP BY g),
      e AS (SELECT b.g, b.v - u.u AS y, u.u
            FROM b JOIN u ON u.g = b.g WHERE b.v > u.u),
      s AS (SELECT g, CAST(max(u) AS BIGINT) AS threshold,
              CAST(count(*) AS BIGINT) AS ne,
              CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s1,
              CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
            FROM e GROUP BY g),
      f1 AS (SELECT g, threshold, ne,
               CAST(s1 AS DOUBLE) / CAST(ne AS DOUBLE) AS m,
               CAST(s2 AS DOUBLE) / CAST(ne AS DOUBLE) AS r2
             FROM s),
      f2 AS (SELECT g, threshold, ne, m, r2 - m * m AS var
             FROM f1),
      f3 AS (SELECT g, threshold, ne, m, var, m * m / var AS r
             FROM f2)
      SELECT g AS lang, threshold, ne AS n_exceed,
        CASE WHEN ne >= 2 AND var > 0 THEN
          CAST(floor(1000000.0 * (1.0 - r) / 2.0) AS BIGINT)
        END AS xi_q,
        CASE WHEN ne >= 2 AND var > 0 THEN
          CAST(floor(1000000.0 * m * (1.0 + r) / 2.0) AS BIGINT)
        END AS sigma_q
      FROM f3 ORDER BY lang"""))

  /** (q314) Random-pair cosine anisotropy histogram over a 300-row
    * md5 sample of the embeddings (Similarity.anisotropyProfile
    * scaladoc): 21 width-0.1 buckets, shift-then-div flooring.
    */
  val q314Anisotropy = Q(
    "q314_ann_anisotropy",
    (s, dir) =>
      operators.Similarity.anisotropyProfile(t(s, dir, "embeddings"),
        "vec_id", "embedding", cap = 300),
    Some("""
      WITH sm AS (SELECT vec_id AS id, embedding AS v FROM embeddings
             WHERE embedding IS NOT NULL
             ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
               1, 15))::BIGINT, vec_id
             LIMIT 300),
      p AS (SELECT list_sum(list_transform(range(1, len(a.v) + 1),
                i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
              / NULLIF(sqrt(list_sum(list_transform(
                    range(1, len(a.v) + 1),
                    i -> CAST(a.v[i] AS DOUBLE)
                       * CAST(a.v[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(
                    range(1, len(b.v) + 1),
                    i -> CAST(b.v[i] AS DOUBLE)
                       * CAST(b.v[i] AS DOUBLE)))), 0) AS cos
            FROM sm a JOIN sm b ON b.id > a.id),
      q AS (SELECT CAST(floor(1000000.0 * cos) AS BIGINT) AS cq
            FROM p WHERE cos IS NOT NULL)
      SELECT ((cq + 1000000) // 100000) - 10 AS bucket,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(cq) AS BIGINT) AS sum_cos_q
      FROM q GROUP BY 1 ORDER BY 1"""))

  /** (q315) Weighted Jaccard between source vocabularies
    * (Curation.sourceWeightedJaccard scaladoc): exact Σmin/Σmax via
    * the shared-terms-only join, full pair matrix from totals.
    */
  val q315SourceWjaccard = Q(
    "q315_s_source_wjaccard",
    (s, dir) =>
      operators.Curation.sourceWeightedJaccard(t(s, dir, "documents"),
        "source", "text"),
    Some("""
      WITH tf AS (SELECT g, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT source AS g,
                     unnest(regexp_split_to_array(lower(trim(text)),
                       '\s+')) AS term
                   FROM documents WHERE source IS NOT NULL)
             WHERE len(term) > 0 GROUP BY 1, 2),
      tot AS (SELECT g, CAST(sum(tf) AS BIGINT) AS t
              FROM tf GROUP BY g),
      sh AS (SELECT a.g AS ga, b.g AS gb,
               CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS mn
             FROM tf a JOIN tf b ON a.term = b.term AND a.g < b.g
             GROUP BY 1, 2),
      m AS (SELECT ta.g AS source_a, tb.g AS source_b,
              ta.t AS t_a, tb.t AS t_b, coalesce(sh.mn, 0) AS mn
            FROM tot ta JOIN tot tb ON ta.g < tb.g
            LEFT JOIN sh ON sh.ga = ta.g AND sh.gb = tb.g)
      SELECT source_a, source_b, mn AS shared_mass,
        t_a + t_b - mn AS union_mass,
        (1000000 * mn) // (t_a + t_b - mn) AS wjaccard_q
      FROM m ORDER BY source_a, source_b"""))

  /** (q316) V-measure of the heuristic language identifier against
    * the labeled lang (Stats.vMeasure scaladoc): three quantized
    * entropy sums, three exact integer ratios.
    */
  val q316VMeasure = Q(
    "q316_ml_v_measure",
    (s, dir) =>
      operators.Stats.vMeasure(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(TextFns.langId(col("text")).as("pred"), col("lang")),
        "pred", "lang"),
    Some("""
      WITH d AS (SELECT lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
              len(list_filter(toks, x -> x IN
                ('the','and','of','to','a','in','is'))) AS en,
              len(list_filter(toks, x -> x IN
                ('el','la','de','los','las','que','y'))) AS es,
              len(list_filter(toks, x -> x IN
                ('der','die','das','und','ist','nicht'))) AS de,
              len(list_filter(toks, x -> x IN
                ('le','la','les','des','et','est'))) AS fr
            FROM d),
      pr AS (SELECT lang,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS pred
             FROM h),
      cells AS (SELECT pred, lang, CAST(count(*) AS BIGINT) AS o
             FROM pr WHERE pred IS NOT NULL AND lang IS NOT NULL
             GROUP BY 1, 2),
      r AS (SELECT pred, CAST(sum(o) AS BIGINT) AS rr
            FROM cells GROUP BY pred),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cc
            FROM cells GROUP BY lang),
      tt AS (SELECT CAST(sum(rr) AS BIGINT) AS t FROM r),
      hc AS (SELECT CAST(sum(CAST(floor(1000000000.0
                 * CAST(rr AS DOUBLE)
                 * ln(CAST(t AS DOUBLE) / CAST(rr AS DOUBLE))
                 / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hc_q
             FROM r CROSS JOIN tt),
      hk AS (SELECT CAST(sum(CAST(floor(1000000000.0
                 * CAST(cc AS DOUBLE)
                 * ln(CAST(t AS DOUBLE) / CAST(cc AS DOUBLE))
                 / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hk_q
             FROM c CROSS JOIN tt),
      mi AS (SELECT CAST(sum(CAST(floor(1000000000.0
                 * CAST(o AS DOUBLE)
                 * ln(CAST(CAST(t AS HUGEINT) * o AS DOUBLE)
                   / CAST(CAST(rr AS HUGEINT) * cc AS DOUBLE))
                 / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS mi_q
             FROM cells JOIN r USING (pred) JOIN c USING (lang)
             CROSS JOIN tt)
      SELECT t AS n, hc_q, hk_q, mi_q,
        CASE WHEN hk_q = 0 THEN CAST(1000000 AS BIGINT)
             WHEN hk_q > 0 THEN (1000000 * mi_q) // hk_q END
          AS homogeneity_q,
        CASE WHEN hc_q = 0 THEN CAST(1000000 AS BIGINT)
             WHEN hc_q > 0 THEN (1000000 * mi_q) // hc_q END
          AS completeness_q,
        CASE WHEN hc_q + hk_q = 0 THEN CAST(1000000 AS BIGINT)
             WHEN hc_q + hk_q > 0 THEN
          (2000000 * mi_q) // (hc_q + hk_q) END AS v_q
      FROM tt CROSS JOIN hc CROSS JOIN hk CROSS JOIN mi"""))

  /** (q317) Stationary distribution of the user event-type chain by
    * 5 integer power rounds (TimeAgg.markovStationary scaladoc):
    * absorbing states freeze mass; the oracle unrolls every round.
    */
  val q317MarkovStationary = Q(
    "q317_a_markov_stationary",
    (s, dir) =>
      operators.TimeAgg.markovStationary(ev(s, dir), "user_id",
        "ts_us", "event_type", "event_id", rounds = 5),
    Some {
      val iter = (p: String, o: String) => s"""
      $o AS (SELECT p.s,
               (CASE WHEN rt.f IS NOT NULL THEN 0 ELSE p.x END)
                 + coalesce(c.i, 0) AS x
             FROM $p p LEFT JOIN rt ON rt.f = p.s
             LEFT JOIN (
               SELECT tr.t AS s,
                 CAST(sum((CAST(p2.x AS HUGEINT) * tr.n) // rt2.r)
                   AS BIGINT) AS i
               FROM tr JOIN $p p2 ON p2.s = tr.f
               JOIN rt rt2 ON rt2.f = tr.f
               GROUP BY tr.t) c ON c.s = p.s)"""
      s"""
      WITH ev0 AS (SELECT user_id, event_id, event_type,
               CAST($EvUs AS BIGINT) AS us FROM events),
      nx AS (SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS t
             FROM ev0),
      tr AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
             FROM nx WHERE t IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT f, CAST(sum(n) AS BIGINT) AS r FROM tr GROUP BY f),
      st AS (SELECT DISTINCT event_type AS s FROM ev0
             WHERE event_type IS NOT NULL),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
      x0 AS (SELECT s, 1000000000000 // k AS x FROM st CROSS JOIN kk),
      ${iter("x0", "x1")},
      ${iter("x1", "x2")},
      ${iter("x2", "x3")},
      ${iter("x3", "x4")},
      ${iter("x4", "x5")}
      SELECT p.s AS state, rt.r AS out_total, CAST(p.x AS BIGINT)
        AS mass_q
      FROM x5 p LEFT JOIN rt ON rt.f = p.s ORDER BY state"""
    })

  /** (q318) Rank-biased precision at p=1/2 over the labeled 5-NN
    * lists (Eval.rbpAtK scaladoc): exactly-dyadic weights, zero fp.
    */
  val q318Rbp = Q(
    "q318_ret_rbp",
    (s, dir) =>
      operators.Eval.rbpAtK(labeledKnn(s, dir), k = 5)
        .orderBy("query_id"),
    Some(s"""
      WITH $KnnRelOracle,
      f AS (SELECT query_id,
              CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rel,
              CAST(sum(CASE WHEN rel
                THEN (1::BIGINT << CAST(20 - rank AS INT))
                ELSE 0 END) AS BIGINT) AS u
            FROM rk WHERE rank <= 5 GROUP BY query_id)
      SELECT query_id, n_rel, (1000000 * u) // 1048576 AS rbp_q
      FROM f ORDER BY query_id"""))

  /** (q319) Restricted mean survival time over inter-event durations
    * (TimeAgg.rmst scaladoc): area under q238's KM step curve, pure
    * integer given the quantized S.
    */
  val q319Rmst = Q(
    "q319_a_rmst",
    (s, dir) =>
      operators.TimeAgg.rmst(
        operators.TimeAgg.interEventDurations(ev(s, dir), "user_id",
          "event_id", "ts_us"), "__t", "__obs"),
    Some(s"""
      WITH ev0 AS (SELECT user_id, event_id,
               CAST($EvUs AS BIGINT) AS us FROM events),
      mx AS (SELECT max(us) AS mx FROM ev0),
      su AS (SELECT us, lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC, event_id ASC) AS nxt
             FROM ev0),
      du AS (SELECT CASE WHEN nxt IS NOT NULL
                 THEN (nxt - us) // 86400000000
                 ELSE (mx - us) // 86400000000 END AS t_days,
               nxt IS NOT NULL AS obs
             FROM su CROSS JOIN mx),
      g AS (SELECT t_days,
              CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                AS d_events,
              CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
            FROM du GROUP BY 1),
      r AS (SELECT *,
              CAST(sum(d_events + n_censored) OVER () AS BIGINT)
                - coalesce(CAST(sum(d_events + n_censored) OVER (
                    ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n_risk
            FROM g),
      q AS (SELECT *,
              CASE WHEN d_events = 0 THEN 0
                   WHEN d_events < n_risk THEN
                CAST(floor(1000000000000.0
                  * ln(CAST(n_risk - d_events AS DOUBLE)
                    / CAST(n_risk AS DOUBLE))) AS BIGINT)
              END AS lnq,
              max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) OVER (
                ORDER BY t_days ASC) AS dead
            FROM r),
      sv AS (SELECT t_days,
               CASE WHEN dead = 1 THEN 0
                 ELSE CAST(floor(1000000.0 * exp(
                   CAST(sum(lnq) OVER (ORDER BY t_days ASC) AS DOUBLE)
                     / 1000000000000.0)) AS BIGINT)
               END AS surv_q
             FROM q),
      lg AS (SELECT t_days, surv_q,
               lag(t_days) OVER (ORDER BY t_days) AS pt,
               lag(surv_q) OVER (ORDER BY t_days) AS ps
             FROM sv)
      SELECT max(t_days) AS horizon_days,
        CAST(count(*) AS BIGINT) AS n_steps,
        CAST(sum(coalesce(ps, 1000000) * (t_days - coalesce(pt, 0)))
          AS BIGINT) AS rmst_q
      FROM lg"""))

  /** (q320) Kendall's W concordance of daily event-type rankings
    * (Stats.kendallW scaladoc): Friedman's doubled-midrank grid with
    * the tie correction, exact to one integral division.
    */
  val q320KendallW = Q(
    "q320_a_kendall_w",
    (s, dir) =>
      operators.Stats.kendallW(
        ev(s, dir).filter(col("event_type").isNotNull)
          .withColumn("day", expr("ts_us div 86400000000L"))
          .withColumn("one", lit(1L)),
        "day", "event_type", "one"),
    Some(s"""
      WITH c AS (SELECT $EvUs // 86400000000 AS b, event_type AS t,
               CAST(count(*) AS BIGINT) AS x
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      bl AS (SELECT DISTINCT b FROM c),
      tr AS (SELECT DISTINCT t FROM c),
      grid AS (SELECT bl.b, tr.t, coalesce(c.x, 0) AS x
               FROM bl CROSS JOIN tr
               LEFT JOIN c ON c.b = bl.b AND c.t = tr.t),
      r AS (SELECT b, t,
              2 * rank() OVER (PARTITION BY b ORDER BY x)
                + count(*) OVER (PARTITION BY b, x) - 1 AS r2,
              count(*) OVER (PARTITION BY b, x) AS tc
            FROM grid),
      ties AS (SELECT CAST(sum(CAST(tc AS HUGEINT) * tc - 1)
                 AS HUGEINT) AS tsum FROM r),
      rs AS (SELECT t, CAST(sum(r2) AS BIGINT) AS rs FROM r GROUP BY t),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM tr),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM bl),
      d2 AS (SELECT CAST(sum(CAST(rs - n_blocks * (k + 1) AS HUGEINT)
               * (rs - n_blocks * (k + 1))) AS HUGEINT) AS sum_d2
             FROM rs CROSS JOIN kk CROSS JOIN nn),
      f AS (SELECT n_blocks, k,
              CAST(sum_d2 AS BIGINT) AS sum_d2,
              CAST(tsum AS BIGINT) AS tie_mass,
              CAST(n_blocks AS HUGEINT) * n_blocks * k
                * (CAST(k AS HUGEINT) * k - 1)
                - CAST(n_blocks AS HUGEINT) * tsum AS den
            FROM d2 CROSS JOIN ties CROSS JOIN kk CROSS JOIN nn)
      SELECT n_blocks, k, sum_d2, tie_mass,
        CASE WHEN den > 0 THEN
          CAST((CAST(3000000 AS HUGEINT) * sum_d2) // den AS BIGINT)
        END AS w_q
      FROM f"""))

  /** (q321) Partial autocorrelation φ₁₁/φ₂₂ of daily per-type counts
    * (Stats.pacf2 scaladoc): closed Durbin–Levinson step on the
    * quantized ACF.
    */
  val q321Pacf = Q(
    "q321_a_pacf",
    (s, dir) => {
      val daily = ev(s, dir).filter(col("event_type").isNotNull)
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      operators.Stats.pacf2(daily, "event_type", "bucket", "x",
        stepSec = 86400)
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events
             WHERE event_type IS NOT NULL),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      sp AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             FROM h GROUP BY 1),
      grid AS (SELECT event_type, unnest(generate_series(lo, hi, 86400))
               AS b FROM sp),
      dense AS (SELECT grid.event_type, grid.b, coalesce(h.x, 0) AS v
             FROM grid LEFT JOIN h ON h.event_type = grid.event_type
               AND h.bucket = grid.b),
      lagged AS (SELECT a.event_type, l.lag, a.v AS x, b.v AS y
             FROM (VALUES (1), (2)) l(lag)
             CROSS JOIN dense a
             JOIN dense b ON b.event_type = a.event_type
               AND b.b = a.b + l.lag * 86400),
      ag AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
             FROM lagged GROUP BY 1, 2),
      rho AS (SELECT event_type, lag,
               CASE WHEN n_pairs * sxx - sx * sx > 0
                     AND n_pairs * syy - sy * sy > 0 THEN
                 CAST(floor(1000000.0
                   * CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))))
                   AS BIGINT)
               END AS acf_q
             FROM ag),
      p1 AS (SELECT event_type, acf_q AS rho1_q FROM rho WHERE lag = 1),
      p2 AS (SELECT event_type, acf_q AS rho2_q FROM rho WHERE lag = 2),
      j AS (SELECT p1.event_type, rho1_q, rho2_q,
              CAST(rho1_q AS DOUBLE) / 1000000.0 AS r1,
              CAST(rho2_q AS DOUBLE) / 1000000.0 AS r2
            FROM p1 JOIN p2 USING (event_type))
      SELECT event_type, rho1_q, rho2_q,
        CASE WHEN rho1_q IS NOT NULL AND rho2_q IS NOT NULL
              AND (1.0 - r1 * r1) > 0 THEN
          CAST(floor(1000000.0 * (r2 - r1 * r1) / (1.0 - r1 * r1))
            AS BIGINT)
        END AS phi22_q
      FROM j ORDER BY event_type"""))

  /** (q322) Burrows' Delta stylometric distance between sources over
    * the top-50 corpus terms (Curation.burrowsDelta scaladoc):
    * quantize-first relative frequencies, integer pair distance.
    */
  val q322BurrowsDelta = Q(
    "q322_tx_burrows_delta",
    (s, dir) =>
      operators.Curation.burrowsDelta(t(s, dir, "documents"),
        "source", "text", topM = 50),
    Some("""
      WITH tf AS (SELECT g, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT source AS g,
                     unnest(regexp_split_to_array(lower(trim(text)),
                       '\s+')) AS term
                   FROM documents WHERE source IS NOT NULL)
             WHERE len(term) > 0 GROUP BY 1, 2),
      top AS (SELECT term FROM (SELECT term, sum(tf) AS ct FROM tf
              GROUP BY term ORDER BY ct DESC, term LIMIT 50)),
      tot AS (SELECT g, CAST(sum(tf) AS BIGINT) AS tt
              FROM tf GROUP BY g),
      grid AS (SELECT tot.g, top.term, coalesce(tf.tf, 0) AS tf, tot.tt
               FROM tot CROSS JOIN top
               LEFT JOIN tf ON tf.g = tot.g AND tf.term = top.term),
      fq AS (SELECT g, term,
               (CAST(1000000000000 AS HUGEINT) * tf) // tt AS fq
             FROM grid),
      m AS (SELECT term, CAST(count(*) AS BIGINT) AS s,
              CAST(sum(CAST(fq AS HUGEINT)) AS HUGEINT) AS sf,
              CAST(sum(CAST(fq AS HUGEINT) * fq) AS HUGEINT) AS sff
            FROM fq GROUP BY term),
      z AS (SELECT fq.g, fq.term,
              CASE WHEN s * sff - sf * sf > 0 THEN
                CAST(floor(1000000.0
                  * CAST(s * fq.fq - sf AS DOUBLE)
                  / sqrt(CAST(s * sff - sf * sf AS DOUBLE))) AS BIGINT)
              ELSE 0 END AS z
            FROM fq JOIN m USING (term)),
      d AS (SELECT a.g AS source_a, b.g AS source_b,
              CAST(sum(abs(a.z - b.z)) AS BIGINT) AS sz
            FROM z a JOIN z b ON a.term = b.term AND a.g < b.g
            GROUP BY 1, 2)
      SELECT source_a, source_b, sz // 50 AS delta_q
      FROM d ORDER BY source_a, source_b"""))

  /** (q323) Gries' DP dispersion for the top-30 corpus terms
    * (Curation.dispersionDP scaladoc): exact common-denominator
    * |share − size-share| masses, one integral division per term.
    */
  val q323GriesDp = Q(
    "q323_tx_gries_dp",
    (s, dir) =>
      operators.Curation.dispersionDP(t(s, dir, "documents"),
        "source", "text", topM = 30),
    Some("""
      WITH tf AS (SELECT g, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT source AS g,
                     unnest(regexp_split_to_array(lower(trim(text)),
                       '\s+')) AS term
                   FROM documents WHERE source IS NOT NULL)
             WHERE len(term) > 0 GROUP BY 1, 2),
      tt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct
             FROM tf GROUP BY term),
      top AS (SELECT term, ct FROM tt ORDER BY ct DESC, term LIMIT 30),
      parts AS (SELECT g, CAST(sum(tf) AS BIGINT) AS ti
                FROM tf GROUP BY g),
      corpus AS (SELECT CAST(sum(ti) AS BIGINT) AS t FROM parts),
      grid AS (SELECT top.term, top.ct, parts.g, parts.ti, corpus.t,
               coalesce(tf.tf, 0) AS tf
               FROM top CROSS JOIN parts CROSS JOIN corpus
               LEFT JOIN tf ON tf.g = parts.g AND tf.term = top.term),
      agg AS (SELECT term, ct AS tf_total, t,
                CAST(sum(abs(CAST(tf AS HUGEINT) * t
                  - CAST(ti AS HUGEINT) * ct)) AS HUGEINT) AS num
              FROM grid GROUP BY 1, 2, 3)
      SELECT term, tf_total,
        CAST((CAST(1000000 AS HUGEINT) * num)
          // (CAST(2 AS HUGEINT) * tf_total * t) AS BIGINT) AS dp_q
      FROM agg ORDER BY term"""))

  /** (q324) Core distances + mutual-reachability edges on the 5-NN
    * graph (Similarity.mutualReachability scaladoc): HDBSCAN's
    * density primitive, integer min-folds over quantized cosines.
    */
  val q324MutualReach = Q(
    "q324_ann_mutual_reach",
    (s, dir) =>
      operators.Similarity.mutualReachability(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5),
    Some(s"""
      WITH $KnnCte,
      k5 AS (SELECT query_id, neighbor_id, cos FROM knn),
      kq AS (SELECT query_id, neighbor_id,
               CAST(floor(1000000.0 * cos) AS BIGINT) AS cq FROM k5),
      core AS (SELECT query_id AS id,
               CASE WHEN count(*) >= 5 THEN min(cq) END AS core
               FROM kq GROUP BY 1),
      ed AS (SELECT least(query_id, neighbor_id) AS a,
               greatest(query_id, neighbor_id) AS b, max(cq) AS cos_q
             FROM kq GROUP BY 1, 2)
      SELECT a AS id_a, b AS id_b, cos_q,
        CASE WHEN ca.core IS NOT NULL AND cb.core IS NOT NULL
          THEN least(ca.core, cb.core, ed.cos_q) END AS mr_sim_q
      FROM ed JOIN core ca ON ca.id = ed.a
      JOIN core cb ON cb.id = ed.b
      ORDER BY id_a, id_b"""))

  /** (q325) Mood's median test of n_chars across sources
    * (Stats.moodMedian scaladoc): exact integer-rank grand median,
    * quantized per-group 2×1 chi-square cells.
    */
  val q325MoodMedian = Q(
    "q325_a_mood_median",
    (s, dir) =>
      operators.Stats.moodMedian(t(s, dir, "documents"), "source",
        "n_chars"),
    Some("""
      WITH gv AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv
               FROM gv GROUP BY v),
      tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM vals),
      med AS (SELECT v AS m, n FROM (SELECT v, n,
                sum(cv) OVER (ORDER BY v) AS cum
              FROM vals CROSS JOIN tot)
              WHERE cum >= (n + 1) // 2 ORDER BY v LIMIT 1),
      grp AS (SELECT g, m, n, CAST(sum(c) AS BIGINT) AS n_g,
                CAST(sum(CASE WHEN v > m THEN c ELSE 0 END) AS BIGINT)
                  AS n_above
              FROM gv CROSS JOIN med GROUP BY 1, 2, 3),
      ab AS (SELECT CAST(sum(n_above) AS BIGINT) AS aa FROM grp),
      f AS (SELECT g, m, n, n_g, n_above,
              CAST(CAST(n_g AS HUGEINT) * aa AS DOUBLE)
                / CAST(n AS DOUBLE) AS ea,
              CAST(CAST(n_g AS HUGEINT) * (n - aa) AS DOUBLE)
                / CAST(n AS DOUBLE) AS eb
            FROM grp CROSS JOIN ab)
      SELECT g AS source, m AS grand_median, n_g, n_above,
        CASE WHEN ea > 0 THEN CAST(floor(1000000000.0
          * (CAST(n_above AS DOUBLE) - ea)
          * (CAST(n_above AS DOUBLE) - ea) / ea) AS BIGINT)
        END AS cell_above_q,
        CASE WHEN eb > 0 THEN CAST(floor(1000000000.0
          * (CAST(n_g - n_above AS DOUBLE) - eb)
          * (CAST(n_g - n_above AS DOUBLE) - eb) / eb) AS BIGINT)
        END AS cell_below_q
      FROM f ORDER BY source"""))

  /** (q326) Wald–Wolfowitz runs test on the dense daily event-count
    * series (TimeAgg.runsTest scaladoc): above/below-median signs,
    * exact run counts, one mirrored z chain.
    */
  val q326RunsTest = Q(
    "q326_a_runs_test",
    (s, dir) => {
      val e = ev(s, dir)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(86400L)))
          .as("bucket"))
        .join(daily, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.runsTest(dense, "bucket", "x")
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 86400000000) * 86400 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      vals AS (SELECT x, CAST(count(*) AS BIGINT) AS cv
               FROM dense GROUP BY x),
      tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n0 FROM vals),
      med AS (SELECT x AS m FROM (SELECT x, n0,
                sum(cv) OVER (ORDER BY x) AS cum
              FROM vals CROSS JOIN tot)
              WHERE cum >= (n0 + 1) // 2 ORDER BY x LIMIT 1),
      sg AS (SELECT bucket, CASE WHEN x > m THEN 1 ELSE 0 END AS s
             FROM dense CROSS JOIN med WHERE x <> m),
      lg AS (SELECT s, lag(s) OVER (ORDER BY bucket) AS p FROM sg),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
              CAST(sum(s) AS BIGINT) AS n_above,
              CAST(count(*) - sum(s) AS BIGINT) AS n_below,
              CAST(1 + sum(CASE WHEN p IS NOT NULL AND p <> s
                THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
            FROM lg),
      f AS (SELECT n_used, n_above, n_below, n_runs,
              CAST(CAST(2 AS HUGEINT) * n_above * n_below AS DOUBLE)
                AS tp,
              CAST(n_used AS DOUBLE) AS nd
            FROM a)
      SELECT n_used, n_above, n_below, n_runs,
        CASE WHEN n_above > 0 AND n_below > 0 AND n_used >= 2
              AND (tp * (tp - nd)) / (nd * nd * (nd - 1.0)) > 0 THEN
          CAST(floor(1000000.0
            * (CAST(n_runs AS DOUBLE) - (1.0 + tp / nd))
            / sqrt((tp * (tp - nd)) / (nd * nd * (nd - 1.0))))
            AS BIGINT)
        END AS z_q
      FROM f"""))

  /** (q327) Siegel repeated-medians slope of daily per-type counts
    * (Robust.siegelSlope scaladoc): two integer-rank median layers
    * over quantized pairwise slopes, span²-bounded.
    */
  val q327SiegelSlope = Q(
    "q327_a_siegel_slope",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = daily.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(86400L))))
        .select("event_type", "bucket")
        .join(daily, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
        .withColumn("day", expr("bucket div 86400L"))
      operators.Robust.siegelSlope(dense, "event_type", "day", "x")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events
             WHERE event_type IS NOT NULL),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dd AS (SELECT d.event_type, d.bucket // 86400 AS d,
               coalesce(h.x, 0) AS v
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      p AS (SELECT a.event_type, a.d AS x,
              CAST(floor(1000000.0 * CAST(b.v - a.v AS DOUBLE)
                / CAST(b.d - a.d AS DOUBLE)) AS BIGINT) AS sl
            FROM dd a JOIN dd b ON b.event_type = a.event_type
              AND b.d <> a.d),
      pp AS (SELECT event_type, x, sl,
               row_number() OVER (PARTITION BY event_type, x
                 ORDER BY sl) AS rk,
               count(*) OVER (PARTITION BY event_type, x) AS cnt
             FROM p),
      pm AS (SELECT event_type, sl AS med FROM pp
             WHERE rk = (cnt + 1) // 2),
      f AS (SELECT event_type, med,
              row_number() OVER (PARTITION BY event_type
                ORDER BY med) AS rk,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                AS cnt
            FROM pm)
      SELECT event_type, cnt AS n_points, med AS slope_q
      FROM f WHERE rk = (cnt + 1) // 2 ORDER BY event_type"""))

  /** (q328) Density micro-clusters: connected components over the
    * q324 mutual-reachability edges at sim ≥ 0.3 (≈ the edge-mass p90
    * for these embeddings) — the single-linkage
    * step of HDBSCAN, composed from mutualReachability + the
    * dupClusters component engine; the oracle closes the same graph
    * with a recursive CTE.
    */
  val q328DensityClusters = Q(
    "q328_ann_density_clusters",
    (s, dir) => {
      val edges = operators.Similarity.mutualReachability(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .filter(col("mr_sim_q") >= 300000L)
      Dedup.dupClusters(edges).orderBy("id")
    },
    Some(s"""
      WITH RECURSIVE $KnnCte,
      k5 AS (SELECT query_id, neighbor_id, cos FROM knn),
      kq AS (SELECT query_id, neighbor_id,
               CAST(floor(1000000.0 * cos) AS BIGINT) AS cq FROM k5),
      core AS (SELECT query_id AS id,
               CASE WHEN count(*) >= 5 THEN min(cq) END AS core
               FROM kq GROUP BY 1),
      ed AS (SELECT least(query_id, neighbor_id) AS a,
               greatest(query_id, neighbor_id) AS b, max(cq) AS cos_q
             FROM kq GROUP BY 1, 2),
      mre AS (SELECT a, b FROM (
                SELECT ed.a, ed.b,
                  CASE WHEN ca.core IS NOT NULL AND cb.core IS NOT NULL
                    THEN least(ca.core, cb.core, ed.cos_q) END AS mr
                FROM ed JOIN core ca ON ca.id = ed.a
                JOIN core cb ON cb.id = ed.b)
              WHERE mr >= 300000),
      edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM mre
                UNION SELECT b, a FROM mre),
      -- hash-to-min label propagation, 20 unrolled rounds: per round
      -- every node takes the min of its own label, its neighbors'
      -- labels, and its label's label (the pointer-jumping double
      -- hop), so coverage doubles per round — 2^20 >> any component
      -- diameter here. The naive reach(id, comp) closure kept every
      -- (node, reachable-comp) pair and blew past the 10x budget;
      -- this keeps exactly |V| rows per round. Exact at convergence,
      -- and non-convergence would FAIL the hash check loudly.
      l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS l FROM edges),
      ${(1 to 20).map { i =>
        s"""l$i AS MATERIALIZED (SELECT v, min(l) AS l FROM (
             SELECT v, l FROM l${i - 1}
             UNION ALL SELECT e.dst AS v, p.l
               FROM l${i - 1} p JOIN edges e ON e.src = p.v
             UNION ALL SELECT a.v, b.l
               FROM l${i - 1} a JOIN l${i - 1} b ON b.v = a.l
           ) GROUP BY v)"""
      }.mkString(",\n      ")}
      SELECT v AS id, l AS cluster_id FROM l20 ORDER BY id"""))

  /** (q329) Wilson score intervals for each source's en-share
    * (Stats.wilsonInterval scaladoc): small-n-safe CIs, one mirrored
    * chain per source.
    */
  val q329WilsonCi = Q(
    "q329_a_wilson_ci",
    (s, dir) =>
      operators.Stats.wilsonInterval(t(s, dir, "documents"), "source",
        col("lang") === "en"),
    Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x
             FROM documents GROUP BY source),
      f AS (SELECT source, n, x,
              CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
              CAST(n AS DOUBLE) AS nd
            FROM g)
      SELECT source, n, x, (1000000 * x) // n AS p_q,
        CAST(floor(1000000.0 * ((ph + 1.96 * 1.96 / (2.0 * nd))
          - 1.96 * sqrt(ph * (1.0 - ph) / nd
            + 1.96 * 1.96 / (4.0 * nd * nd)))
          / (1.0 + 1.96 * 1.96 / nd)) AS BIGINT) AS lo_q,
        CAST(floor(1000000.0 * ((ph + 1.96 * 1.96 / (2.0 * nd))
          + 1.96 * sqrt(ph * (1.0 - ph) / nd
            + 1.96 * 1.96 / (4.0 * nd * nd)))
          / (1.0 + 1.96 * 1.96 / nd)) AS BIGINT) AS hi_q
      FROM f ORDER BY source"""))

  /** (q330) Tukey five-number fences per lang on n_chars
    * (Robust.tukeyFences scaladoc): integer-rank quartiles, doubled
    * fence comparisons — zero fp anywhere.
    */
  val q330TukeyFences = Q(
    "q330_a_tukey_fences",
    (s, dir) =>
      operators.Robust.tukeyFences(t(s, dir, "documents"), "lang",
        "n_chars"),
    Some("""
      WITH gv AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM documents
             WHERE lang IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      cum AS (SELECT g, v, c,
               CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                 AS cum,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
             FROM gv),
      q1 AS (SELECT g, min(v) AS q1, min(n) AS n FROM cum
             WHERE cum * 4 >= n GROUP BY g),
      q2 AS (SELECT g, min(v) AS median FROM cum
             WHERE cum * 2 >= n GROUP BY g),
      q3 AS (SELECT g, min(v) AS q3 FROM cum
             WHERE cum * 4 >= n * 3 GROUP BY g),
      qs AS (SELECT q1.g, q1.n, q1.q1, q2.median, q3.q3
             FROM q1 JOIN q2 ON q2.g = q1.g JOIN q3 ON q3.g = q1.g)
      SELECT gv.g AS lang, qs.n, qs.q1, qs.median, qs.q3,
        CAST(sum(CASE WHEN 2 * v < 2 * qs.q1 - 3 * (qs.q3 - qs.q1)
          THEN c ELSE 0 END) AS BIGINT) AS n_low,
        CAST(sum(CASE WHEN 2 * v > 2 * qs.q3 + 3 * (qs.q3 - qs.q1)
          THEN c ELSE 0 END) AS BIGINT) AS n_high
      FROM gv JOIN qs ON qs.g = gv.g
      GROUP BY 1, 2, 3, 4, 5 ORDER BY lang"""))

  /** (q331) Empirical-Bayes shrinkage of per-source en-rates
    * (Stats.ebShrinkage scaladoc): quantize-first moments, MOM
    * beta-binomial prior, posterior means.
    */
  val q331EbShrinkage = Q(
    "q331_s_eb_shrinkage",
    (s, dir) =>
      operators.Stats.ebShrinkage(t(s, dir, "documents"), "source",
        col("lang") === "en"),
    Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x
             FROM documents GROUP BY source),
      g2 AS (SELECT source, n, x, (1000000000 * x) // n AS pq FROM g),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(CAST(pq AS HUGEINT)) AS HUGEINT) AS m,
                CAST(sum(CAST(pq AS HUGEINT) * pq) AS HUGEINT) AS mm
              FROM g2),
      f AS (SELECT source, n, x, pq, k,
              CAST(m AS DOUBLE) / (CAST(k AS DOUBLE) * 1000000000.0)
                AS pbar,
              (CAST(k AS DOUBLE) * CAST(mm AS DOUBLE)
                - CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
                / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * 1.0e18)
                AS varp
            FROM g2 CROSS JOIN mom),
      f2 AS (SELECT source, n, x, pbar, varp,
               pbar * (1.0 - pbar) / varp - 1.0 AS nu
             FROM f)
      SELECT source, n, x, (1000000 * x) // n AS raw_q,
        CASE WHEN varp > 0 AND nu > 0 THEN
          CAST(floor(1000000.0 * (CAST(x AS DOUBLE) + pbar * nu)
            / (CAST(n AS DOUBLE) + nu)) AS BIGINT)
        END AS shrunk_q
      FROM f2 ORDER BY source"""))

  /** (q332) Fano-factor overdispersion of the dense daily per-type
    * counts (TimeAgg.overdispersion scaladoc): var/mean as ONE exact
    * integral division — the Poisson-alarm calibration check.
    */
  val q332Overdispersion = Q(
    "q332_a_overdispersion",
    (s, dir) => {
      val e = ev(s, dir).filter(col("event_type").isNotNull)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = daily.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .withColumn("bucket",
          explode(sequence(col("__lo"), col("__hi"), lit(86400L))))
        .select("event_type", "bucket")
        .join(daily, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.overdispersion(dense, "event_type", "x")
    },
    Some(s"""
      WITH e AS (SELECT event_type,
               ($EvUs // 86400000000) * 86400 AS bucket FROM events
             WHERE event_type IS NOT NULL),
      h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT t.event_type, CAST(g.g AS BIGINT) AS bucket
             FROM (SELECT DISTINCT event_type FROM h) t CROSS JOIN span,
               LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dd AS (SELECT d.event_type, coalesce(h.x, 0) AS v
             FROM dense0 d LEFT JOIN h USING (event_type, bucket)),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
              CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
            FROM dd GROUP BY 1)
      SELECT event_type, n AS n_buckets,
        CAST((1000000 * s) // n AS BIGINT) AS mean_q,
        CASE WHEN s > 0 THEN
          CAST((CAST(1000000 AS HUGEINT) * (n * q - s * s))
            // (CAST(n AS HUGEINT) * s) AS BIGINT) END AS fano_q,
        CASE WHEN s > 0 THEN
          CAST((CAST(1000000 AS HUGEINT) * (n * q - s * s)) // s
            AS BIGINT) END AS chi_q
      FROM a ORDER BY event_type"""))

  /** (q333) Chapman capture–recapture total-population estimate from
    * two md5 "detector" samples over the documents
    * (Stats.chapmanEstimate scaladoc): exact integer estimator and
    * variance — the dedup-QA "how many are we missing" number.
    */
  val q333Chapman = Q(
    "q333_s_chapman_estimate",
    (s, dir) =>
      operators.Stats.chapmanEstimate(t(s, dir, "documents"),
        Dedup.md5Hash60(concat(col("doc_id").cast("string"),
          lit(":cr1"))) % 100 < 30,
        Dedup.md5Hash60(concat(col("doc_id").cast("string"),
          lit(":cr2"))) % 100 < 30),
    Some("""
      WITH b AS (SELECT
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || ':cr1'), 1, 15))::BIGINT % 100 < 30
                 THEN 1 ELSE 0 END AS m1,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || ':cr2'), 1, 15))::BIGINT % 100 < 30
                 THEN 1 ELSE 0 END AS m2
             FROM documents),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_pop,
              CAST(sum(m1) AS BIGINT) AS n1,
              CAST(sum(m2) AS BIGINT) AS n2,
              CAST(sum(m1 * m2) AS BIGINT) AS m_both
            FROM b)
      SELECT n_pop, n1, n2, m_both,
        CAST((CAST(1000000 AS HUGEINT) * (n1 + 1) * (n2 + 1))
          // (m_both + 1) AS BIGINT) - 1000000 AS chapman_q,
        CAST((CAST(1000000 AS HUGEINT) * (n1 + 1) * (n2 + 1)
            * (n1 - m_both) * (n2 - m_both))
          // (CAST(m_both + 1 AS HUGEINT) * (m_both + 1)
            * (m_both + 2)) AS BIGINT) AS var_q
      FROM a"""))

  /** (q334) Leave-one-source-out jackknife of the corpus
    * space-density ratio (Stats.jackknifeRatio scaladoc): delete-
    * group ratios and pseudo-values from exact totals.
    */
  val q334JackknifeRatio = Q(
    "q334_a_jackknife_ratio",
    (s, dir) =>
      operators.Stats.jackknifeRatio(
        t(s, dir, "documents")
          .withColumn("spaces",
            expr("length(text) - length(replace(text, ' ', ''))")),
        "source", "spaces", "n_chars"),
    Some("""
      WITH b AS (SELECT source,
               CAST(length(text) - length(replace(text, ' ', ''))
                 AS BIGINT) AS y,
               CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE source IS NOT NULL AND text IS NOT NULL
               AND n_chars IS NOT NULL),
      g AS (SELECT source, CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT)
                 AS yg,
              CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS xg
            FROM b GROUP BY source),
      t AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(yg) AS HUGEINT) AS yt,
              CAST(sum(xg) AS HUGEINT) AS xt FROM g)
      SELECT source, CAST(yg AS BIGINT) AS y_g, CAST(xg AS BIGINT)
          AS x_g,
        CASE WHEN xt > 0 THEN
          CAST(floor(1000000.0 * CAST(yt AS DOUBLE)
            / CAST(xt AS DOUBLE)) AS BIGINT) END AS r_full_q,
        CASE WHEN xt - xg > 0 THEN
          CAST(floor(1000000.0 * CAST(yt - yg AS DOUBLE)
            / CAST(xt - xg AS DOUBLE)) AS BIGINT) END AS r_loo_q,
        CASE WHEN xt > 0 AND xt - xg > 0 THEN
          CAST(floor(1000000.0 * (CAST(k AS DOUBLE)
              * (CAST(yt AS DOUBLE) / CAST(xt AS DOUBLE))
            - (CAST(k AS DOUBLE) - 1.0)
              * (CAST(yt - yg AS DOUBLE) / CAST(xt - xg AS DOUBLE))))
            AS BIGINT) END AS pseudo_q
      FROM g CROSS JOIN t ORDER BY source"""))

  /** (q336) Newman modularity of the embedding LABEL partition over
    * the canonical 5-NN edge set (Graph.modularity scaladoc): exact
    * decimal contributions, pmod-floored integer division.
    */
  val q336Modularity = Q(
    "q336_g_modularity",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      val edges = knn.select(
          least(col("query_id"), col("neighbor_id")).as("a"),
          greatest(col("query_id"), col("neighbor_id")).as("b"))
        .distinct()
      operators.Graph.modularity(edges,
        emb.select(col("vec_id"), col("label")), "vec_id", "label")
    },
    Some(s"""
      WITH $KnnCte,
      can AS (SELECT DISTINCT least(query_id, neighbor_id) AS a,
                greatest(query_id, neighbor_id) AS b FROM knn),
      lab AS (SELECT vec_id AS id, label AS c FROM embeddings
              WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      sym0 AS (SELECT a, b FROM can
               UNION ALL SELECT b AS a, a AS b FROM can),
      sym AS (SELECT sym0.a, sym0.b, la.c AS ca, lb.c AS cb
              FROM sym0 JOIN lab la ON la.id = sym0.a
              JOIN lab lb ON lb.id = sym0.b),
      m2 AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM sym),
      byc AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS d_c,
                CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
                  AS e2_in
              FROM sym GROUP BY ca),
      nd AS (SELECT c AS community, CAST(count(*) AS BIGINT) AS n_nodes
             FROM lab WHERE id IN (SELECT a FROM sym) GROUP BY c),
      pc AS (SELECT byc.community, nd.n_nodes, byc.e2_in, byc.d_c,
               CAST(1000000000 AS HUGEINT)
                 * (CAST(byc.e2_in AS HUGEINT) * m2.m2
                    - CAST(byc.d_c AS HUGEINT) * byc.d_c) AS num,
               m2.m2 * m2.m2 AS den
             FROM byc JOIN nd USING (community) CROSS JOIN m2),
      pq AS (SELECT community, n_nodes, e2_in, d_c,
               CAST((num - ((num % den) + den) % den) // den AS BIGINT)
                 AS contrib_q
             FROM pc),
      tt AS (SELECT CAST(sum(contrib_q) AS BIGINT) AS modularity_q
             FROM pq)
      SELECT community, n_nodes, e2_in, d_c, contrib_q, modularity_q
      FROM pq CROSS JOIN tt ORDER BY community"""))

  /** (q337) Truncated harmonic centrality, 2 hops, over the mutual
    * 5-NN edges (Graph.harmonicCentrality scaladoc): exact integer
    * ⌊10⁶/h⌋ contributions per exact-distance shell.
    */
  val q337Harmonic = Q(
    "q337_g_harmonic",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.harmonicCentrality(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), hops = 2)
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT DISTINCT a, b FROM (
                SELECT a, b FROM mut
                UNION ALL SELECT b AS a, a AS b FROM mut)),
      d1 AS (SELECT a AS v, b AS u FROM sym),
      d2 AS (SELECT DISTINCT f.v, s2.a AS u
             FROM d1 f JOIN sym s2 ON s2.b = f.u
             WHERE s2.a <> f.v
               AND NOT EXISTS (SELECT 1 FROM d1 x
                   WHERE x.v = f.v AND x.u = s2.a)),
      al AS (SELECT v, 1 AS dd FROM d1
             UNION ALL SELECT v, 2 AS dd FROM d2)
      SELECT v AS id, CAST(count(*) AS BIGINT) AS n_reached,
        CAST(sum(1000000 // dd) AS BIGINT) AS harmonic_q
      FROM al GROUP BY v ORDER BY id"""))

  /** (q338) Spectral entropy of the hourly-event periodogram
    * (TimeAgg.spectralEntropy scaladoc): the q309 power table fed to
    * the quantized entropy kernel.
    */
  val q338SpectralEntropy = Q(
    "q338_a_spectral_entropy",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(3600L)))
          .as("bucket"))
        .join(hourly, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.spectralEntropy(dense, "bucket", "x",
        periods = 2 to 24)
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 3600000000) * 3600 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      st AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
               AS BIGINT) AS t
             FROM dense),
      terms AS (SELECT p.p AS period,
               CAST(floor(1000000.0 * CAST(x AS DOUBLE)
                 * cos(2.0 * pi() * CAST(t AS DOUBLE)
                   / CAST(p.p AS DOUBLE))) AS BIGINT) AS c,
               CAST(floor(1000000.0 * CAST(x AS DOUBLE)
                 * sin(2.0 * pi() * CAST(t AS DOUBLE)
                   / CAST(p.p AS DOUBLE))) AS BIGINT) AS s
             FROM st CROSS JOIN
               (SELECT unnest(range(2, 25)) AS p) p),
      ag AS (SELECT period,
               CAST(sum(c) AS BIGINT) AS c_q,
               CAST(sum(s) AS BIGINT) AS s_q
             FROM terms GROUP BY period),
      pw AS (SELECT period,
               CAST((CAST(c_q AS HUGEINT) * c_q
                 + CAST(s_q AS HUGEINT) * s_q)
                 // CAST(1000000000000 AS HUGEINT) AS BIGINT) AS power
             FROM ag),
      tot AS (SELECT CAST(sum(power) AS BIGINT) AS t,
                CAST(count(*) AS BIGINT) AS n_periods FROM pw)
      SELECT n_periods, t AS t_power,
        CAST(sum(CAST(floor(1000000000.0 * CAST(power AS DOUBLE)
          * ln(CAST(t AS DOUBLE) / CAST(power AS DOUBLE))
          / CAST(t AS DOUBLE)) AS BIGINT)) AS BIGINT) AS entropy_q
      FROM pw CROSS JOIN tot
      WHERE power > 0 AND t > 0
      GROUP BY 1, 2"""))

  /** (q339) ROC curve of "n_chars predicts English" (Eval.rocPoints
    * scaladoc): exact cumulative counts over the distinct-score grid,
    * integer-quantized rates.
    */
  val q339RocPoints = Q(
    "q339_ml_roc_points",
    (s, dir) =>
      operators.Eval.rocPoints(
        t(s, dir, "documents")
          .select((col("lang") === "en").cast("long").as("y"),
            col("n_chars")),
        "y", "n_chars"),
    Some("""
      WITH d AS (SELECT CAST(n_chars AS BIGINT) AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             FROM documents
             WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
      grid AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
                 CAST(count(*) AS BIGINT) AS n
               FROM d GROUP BY s),
      tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                CAST(sum(n) AS BIGINT) AS nn FROM grid),
      c AS (SELECT s, n,
              CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
              CAST(sum(n) OVER (ORDER BY s DESC) AS BIGINT) AS cum
            FROM grid)
      SELECT s AS threshold, n AS n_at, tp, cum - tp AS fp,
        CASE WHEN p > 0 THEN (1000000 * tp) // p END AS tpr_q,
        CASE WHEN nn - p > 0 THEN (1000000 * (cum - tp)) // (nn - p) END
          AS fpr_q
      FROM c CROSS JOIN tot ORDER BY threshold DESC"""))

  /** (q340) Dyadic-α EWMA (α = 1/8) of hourly event counts per type
    * (TimeAgg.ewmaDyadic scaladoc): exact integer recurrence on the
    * 2²⁰ grid; the oracle replays it as a recursive CTE.
    */
  val q340Ewma = Q(
    "q340_a_ewma",
    (s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("x"))
      operators.TimeAgg.ewmaDyadic(hourly, "event_type", "bucket", "x",
        kShift = 3)
    },
    Some(s"""
      WITH RECURSIVE
      e AS (SELECT event_type, ($EvUs // 3600000000) * 3600 AS bucket
            FROM events),
      h AS (SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS x
            FROM e WHERE event_type IS NOT NULL AND bucket IS NOT NULL
            GROUP BY 1, 2),
      o AS (SELECT event_type, bucket, x,
              CAST(row_number() OVER (PARTITION BY event_type
                ORDER BY bucket) AS BIGINT) AS t
            FROM h),
      st AS (
        SELECT event_type, bucket, x, t, x * 1048576 AS s
        FROM o WHERE t = 1
        UNION ALL
        SELECT o.event_type, o.bucket, o.x, o.t,
          st.s + ((o.x * 1048576 - st.s)
            - (((o.x * 1048576 - st.s) % 8 + 8) % 8)) // 8
        FROM st JOIN o ON o.event_type = st.event_type
          AND o.t = st.t + 1)
      SELECT event_type, bucket, x, CAST(s AS BIGINT) AS ewma_q
      FROM st ORDER BY event_type, bucket"""))

  /** (q341) Leakage-safe k-fold plan (Curation.kFoldPlan scaladoc):
    * fold = md5₆₀(normalized content) mod 5 — content-keyed so
    * near-dup docs co-locate across folds.
    */
  val q341KFold = Q(
    "q341_s_kfold_plan",
    (s, dir) =>
      operators.Curation.kFoldPlan(t(s, dir, "documents"), "doc_id",
        "text", k = 5),
    Some("""
      SELECT doc_id,
        CAST(('0x' || substr(md5(regexp_replace(lower(trim(text)),
          '\s+', ' ', 'g')), 1, 15))::BIGINT % 5 AS INTEGER) AS fold,
        ('0x' || substr(md5(regexp_replace(lower(trim(text)),
          '\s+', ' ', 'g')), 1, 15))::BIGINT % 5 = 0 AS is_val_fold0
      FROM documents ORDER BY doc_id"""))

  /** (q342) Luhn-validated PAN audit (Curation.luhnAudit scaladoc):
    * digit runs 13–19 checked with the mod-10 checksum. Deterministic
    * test vectors (one valid, one invalid, one valid) inject on both
    * engines so both verdicts cut.
    */
  val q342Luhn = Q(
    "q342_tx_luhn_audit",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("t2",
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 10 === 0, lit(" 4532015112830366"))
            .when(col("doc_id") % 10 === 5, lit(" 4532015112830367"))
            .when(col("doc_id") % 10 === 7, lit(" 4111111111111111"))
            .otherwise(lit(""))))
      Curation.luhnAudit(d, "doc_id", "t2")
    },
    Some("""
      WITH d AS (SELECT doc_id, coalesce(text, '') ||
               CASE WHEN doc_id % 10 = 0 THEN ' 4532015112830366'
                    WHEN doc_id % 10 = 5 THEN ' 4532015112830367'
                    WHEN doc_id % 10 = 7 THEN ' 4111111111111111'
                    ELSE '' END AS t
             FROM documents),
      r AS (SELECT doc_id,
              list_filter(regexp_extract_all(t, '[0-9]+'),
                r -> length(r) >= 13 AND length(r) <= 19) AS runs
            FROM d)
      SELECT doc_id, CAST(len(runs) AS BIGINT) AS n_digit_runs,
        CAST(len(list_filter(runs, r ->
          list_sum(list_transform(range(1, length(r) + 1), i ->
            CASE WHEN i % 2 = 1
              THEN ascii(substr(r, length(r) + 1 - CAST(i AS INT), 1)) - 48
              ELSE CASE WHEN (ascii(substr(r,
                  length(r) + 1 - CAST(i AS INT), 1)) - 48) * 2 > 9
                THEN (ascii(substr(r,
                  length(r) + 1 - CAST(i AS INT), 1)) - 48) * 2 - 9
                ELSE (ascii(substr(r,
                  length(r) + 1 - CAST(i AS INT), 1)) - 48) * 2 END
            END)) % 10 = 0)) AS BIGINT) AS n_luhn_valid
      FROM r ORDER BY doc_id"""))

  /** (q343) Frequency-ranked vocabulary id map
    * (Curation.vocabIdMap scaladoc): top-200 corpus terms with
    * contiguous rank ids.
    */
  val q343VocabIds = Q(
    "q343_tx_vocab_ids",
    (s, dir) =>
      Curation.vocabIdMap(t(s, dir, "documents"), "text", 200),
    Some("""
      WITH tok AS (SELECT unnest(regexp_split_to_array(
               lower(trim(text)), '\s+')) AS term
             FROM documents WHERE text IS NOT NULL),
      c AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
            FROM tok WHERE length(term) > 0 GROUP BY term
            ORDER BY freq DESC, term ASC LIMIT 200)
      SELECT CAST(row_number() OVER (ORDER BY freq DESC, term ASC)
          AS BIGINT) AS vocab_id, term, freq
      FROM c ORDER BY vocab_id"""))

  /** (q344) High-entropy secret-token audit
    * (Curation.secretTokenAudit scaladoc): base64/hex-shaped runs
    * scored by quantized per-char entropy. A deterministic 34-char
    * md5-hex key (flags, H ≈ ln 16) and a 2-symbol 20-char string
    * (doesn't, H = ln 2) inject on both engines.
    */
  val q344Secrets = Q(
    "q344_tx_secret_audit",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("t2",
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" sk"), md5(col("doc_id").cast("string"))))
            .when(col("doc_id") % 7 === 3, lit(" aAaAaAaAaAaAaAaAaAaA"))
            .otherwise(lit(""))))
      Curation.secretTokenAudit(d, "doc_id", "t2")
    },
    Some("""
      WITH d AS (SELECT doc_id, coalesce(text, '') ||
               CASE WHEN doc_id % 7 = 0
                 THEN ' sk' || md5(CAST(doc_id AS VARCHAR))
                    WHEN doc_id % 7 = 3 THEN ' aAaAaAaAaAaAaAaAaAaA'
                    ELSE '' END AS t
             FROM documents),
      tok AS (SELECT doc_id, unnest(regexp_split_to_array(t, '\s+'))
                AS tk FROM d),
      cand AS (SELECT doc_id, tk FROM tok
               WHERE regexp_matches(tk, '^[A-Za-z0-9+/=_-]{20,}$')),
      ch AS (SELECT doc_id, tk,
               unnest(list_transform(range(1, length(tk) + 1),
                 i -> substr(tk, CAST(i AS INT), 1))) AS c
             FROM cand),
      cc AS (SELECT doc_id, tk, c, CAST(count(*) AS BIGINT) AS n_c
             FROM ch GROUP BY 1, 2, 3),
      pt AS (SELECT doc_id, tk,
               CAST(sum(CAST(floor(1000000000.0 * CAST(n_c AS DOUBLE)
                 * ln(CAST(n AS DOUBLE) / CAST(n_c AS DOUBLE))
                 / CAST(n AS DOUBLE)) AS BIGINT)) AS BIGINT) AS h
             FROM (SELECT *, sum(n_c) OVER (PARTITION BY doc_id, tk)
                     AS n FROM cc)
             GROUP BY 1, 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
        CAST(sum(CASE WHEN h >= 2500000000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flagged,
        CAST(max(h) AS BIGINT) AS max_entropy_q
      FROM pt GROUP BY doc_id ORDER BY doc_id"""))

  /** (q346) Bartlett's variance-homogeneity test of n_chars across
    * sources (Stats.bartlett scaladoc): anovaF's integer
    * sum-of-squared-deviations per group, per-group ⌊10⁹·ln s²⌋
    * quantization × integer (n−1), exact 10¹² div (n−1) reciprocal
    * sum, one mirrored fp chain for the final statistic.
    */
  val q346Bartlett = Q(
    "q346_a_bartlett",
    (s, dir) =>
      operators.Stats.bartlett(t(s, dir, "documents"), "source",
        "n_chars"),
    Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                 AS BIGINT) AS q
             FROM documents
             WHERE source IS NOT NULL AND n_chars IS NOT NULL
             GROUP BY 1),
      f AS (SELECT n, q - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE)) AS BIGINT) AS ssd
            FROM g),
      e AS (SELECT n, ssd,
              (n - 1) * CAST(floor(1000000000.0
                * ln(CAST(ssd AS DOUBLE) / CAST(n - 1 AS DOUBLE)))
                AS BIGINT) AS lnq,
              1000000000000 // (n - 1) AS inv
            FROM f WHERE n >= 2 AND ssd > 0),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS n_total,
              CAST(sum(ssd) AS BIGINT) AS pooled_ssd_l,
              CAST(sum(lnq) AS BIGINT) AS sumlog_term_l,
              CAST(sum(inv) AS BIGINT) AS invsum_q
            FROM e),
      p AS (SELECT *, (n_total - k) * CAST(floor(1000000000.0
              * ln(CAST(pooled_ssd_l AS DOUBLE)
                / CAST(n_total - k AS DOUBLE))) AS BIGINT)
              AS pooled_term_l
            FROM a)
      SELECT k, n_total, pooled_ssd_l, sumlog_term_l, pooled_term_l,
        invsum_q,
        CASE WHEN k >= 2 AND n_total > k THEN
          CAST(floor(1000000.0
            * (CAST(pooled_term_l - sumlog_term_l AS DOUBLE)
                / 1000000000.0)
            / (1.0 + (CAST(invsum_q AS DOUBLE) / 1000000000000.0
                - 1.0 / CAST(n_total - k AS DOUBLE))
              / (3.0 * CAST(k - 1 AS DOUBLE)))) AS BIGINT)
        END AS stat_q
      FROM p"""))

  /** (q347) G-test of source×lang independence (Stats.gTest scaladoc):
    * the mutualInfo ln kernel — decimal products into ONE double cast,
    * ⌊10⁹·o·ln((N·o)/(r·c))⌋ per cell, order-free long fold, ×2.
    */
  val q347GTest = Q(
    "q347_a_g_test",
    (s, dir) =>
      operators.Stats.gTest(t(s, dir, "documents"), "source", "lang"),
    Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt
            FROM cells GROUP BY 1),
      c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct
            FROM cells GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS tt FROM cells),
      x AS (SELECT tt, CAST(floor(1000000000.0 * CAST(o AS DOUBLE)
              * ln(CAST(CAST(tt AS HUGEINT) * o AS DOUBLE)
                / CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE))) AS BIGINT)
              AS gq
            FROM cells JOIN r USING (source) JOIN c USING (lang)
            CROSS JOIN t)
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
        CAST(max(tt) AS BIGINT) AS n_total,
        CAST(sum(gq) AS BIGINT) AS g_sum_q,
        CAST(2 * sum(gq) AS BIGINT) AS g_q
      FROM x"""))

  /** (q348) Cox–Stuart trend test on the dense daily event-count
    * series (TimeAgg.coxStuart scaladoc): first-half/second-half sign
    * pairs, exact integer counts, one sqrt/divide.
    */
  val q348CoxStuart = Q(
    "q348_a_cox_stuart",
    (s, dir) => {
      val e = ev(s, dir)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(86400L)))
          .as("bucket"))
        .join(daily, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.coxStuart(dense, "bucket", "x")
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 86400000000) * 86400 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      idx AS (SELECT x, row_number() OVER (ORDER BY bucket) AS i
              FROM dense),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
      pr AS (SELECT a.x AS x1, b.x AS x2
             FROM idx a CROSS JOIN tot
             JOIN idx b ON b.i = a.i + (n // 2)
               + CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END
             WHERE a.i <= n // 2),
      ag AS (SELECT
              CAST(sum(CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_plus,
              CAST(sum(CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_minus
             FROM pr)
      SELECT (SELECT n FROM tot) AS n_series,
        n_plus + n_minus AS n_pairs, n_plus, n_minus,
        CASE WHEN n_plus + n_minus > 0 THEN
          CAST(floor(1000000.0
            * CAST(2 * n_plus - (n_plus + n_minus) AS DOUBLE)
            / sqrt(CAST(n_plus + n_minus AS DOUBLE))) AS BIGINT)
        END AS z_q
      FROM ag"""))

  /** (q349) Rich-club coefficient curve over the mutual 5-NN graph
    * (Graph.richClub scaladoc): per degree threshold k, how densely
    * the above-k "club" interconnects — one degree agg, one bounded
    * threshold explode, no per-k graph rescans.
    */
  val q349RichClub = Q(
    "q349_g_rich_club",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.richClub(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), maxK = 8)
        .orderBy("k")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
                SELECT a AS id FROM mut UNION ALL SELECT b FROM mut)
              GROUP BY id),
      ks AS (SELECT CAST(k.k AS INT) AS k
             FROM (SELECT unnest(range(1, 9)) AS k) k),
      np AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_nodes
             FROM ks JOIN deg ON deg.dg > ks.k GROUP BY ks.k),
      ep AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_edges
             FROM ks JOIN (SELECT least(da.dg, db.dg) AS m FROM mut
                 JOIN deg da ON da.id = mut.a
                 JOIN deg db ON db.id = mut.b) e
               ON e.m > ks.k GROUP BY ks.k)
      SELECT np.k, np.n_nodes, coalesce(ep.n_edges, 0) AS n_edges,
        CASE WHEN np.n_nodes >= 2 THEN
          CAST(floor(1000000.0
            * CAST(2 * coalesce(ep.n_edges, 0) AS DOUBLE)
            / CAST(np.n_nodes * (np.n_nodes - 1) AS DOUBLE)) AS BIGINT)
        END AS phi_q
      FROM np LEFT JOIN ep USING (k) ORDER BY k"""))

  /** (q350) Theil's U2 persistence-forecast ratio on the dense daily
    * event-count series (TimeAgg.theilU2 scaladoc): exact long
    * Σ(x−prev)² and Σprev², two sqrts, one division.
    */
  val q350TheilU2 = Q(
    "q350_a_theil_u2",
    (s, dir) => {
      val e = ev(s, dir)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(86400L)))
          .as("bucket"))
        .join(daily, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.TimeAgg.theilU2(dense, "bucket", "x")
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 86400000000) * 86400 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      lg AS (SELECT x, lag(x) OVER (ORDER BY bucket) AS p FROM dense)
      SELECT CAST(count(*) AS BIGINT) AS n_used,
        CAST(sum((x - p) * (x - p)) AS BIGINT) AS sse_naive_l,
        CAST(sum(p * p) AS BIGINT) AS ss_prev_l,
        CASE WHEN sum(p * p) > 0 THEN
          CAST(floor(1000000.0
            * sqrt(CAST(sum((x - p) * (x - p)) AS DOUBLE))
            / sqrt(CAST(sum(p * p) AS DOUBLE))) AS BIGINT)
        END AS u2_q
      FROM lg WHERE p IS NOT NULL"""))

  /** Unrolled k-truss peel for the q351 oracle: each round computes
    * every surviving edge's triangle support (triangles enumerate once
    * as x < y < z and credit all three edges) and keeps edges with
    * support ≥ minSup — exactly [[graft.operators.Graph.kTruss]]'s
    * bounded loop (peeling a fixpoint is the identity, so a converged
    * engine loop equals the full unroll).
    */
  private def trussPeelSql(rounds: Int, minSup: Int): String = {
    val sb = new StringBuilder
    // every e$i is MATERIALIZED: each round references the previous
    // round 4× (three wedge legs + the semi-join), so default CTE
    // inlining would expand the base 4^rounds times
    def triSql(e: String, tag: String): String = s"""
      t$tag AS MATERIALIZED (SELECT w1.a AS x, w1.b AS y, w2.b AS z
              FROM $e w1 JOIN $e w2 ON w2.a = w1.a AND w1.b < w2.b
              JOIN $e w3 ON w3.a = w1.b AND w3.b = w2.b),
      s$tag AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
                SELECT x AS a, y AS b FROM t$tag
                UNION ALL SELECT x AS a, z AS b FROM t$tag
                UNION ALL SELECT y AS a, z AS b FROM t$tag) GROUP BY 1, 2)"""
    for (i <- 0 until rounds) {
      val e = if (i == 0) "mut" else s"e$i"
      sb.append(triSql(e, i.toString)).append(",")
      sb.append(s"""
      e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM $e e JOIN s$i s
                  ON s.a = e.a AND s.b = e.b AND s.support >= $minSup),""")
    }
    sb.append(triSql(s"e$rounds", "f"))
    sb.toString
  }

  /** (q351) k-truss (k=3) of the mutual 5-NN graph (Graph.kTruss
    * scaladoc): every surviving edge sits in ≥ 1 triangle among
    * survivors — the dense-cluster/bridge split the dedup pair graphs
    * use (the mutual 5-NN graph has no 4-truss at this sf); the
    * oracle unrolls the full 8-round peel.
    */
  val q351KTruss = Q(
    "q351_g_ktruss",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.kTruss(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))),
        k = 3, rounds = 8)
        .orderBy("a", "b")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS MATERIALIZED (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      ${trussPeelSql(rounds = 8, minSup = 1)}
      SELECT a, b, support FROM sf WHERE support >= 1 ORDER BY a, b"""))

  /** (q352) Brunner–Munzel generalized-Wilcoxon test of n_chars
    * between sources src0 and src1 (Stats.brunnerMunzel scaladoc):
    * doubled-rank grid, decimal rank-variance numerators, one mirrored
    * fp chain for W.
    */
  val q352BrunnerMunzel = Q(
    "q352_a_brunner_munzel",
    (s, dir) =>
      operators.Stats.brunnerMunzel(t(s, dir, "documents"), "source",
        "n_chars", "src0", "src1"),
    Some("""
      WITH v AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
      grid AS (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt
               FROM v GROUP BY 1, 2),
      p AS (SELECT x, CAST(sum(cnt) AS BIGINT) AS pcnt
            FROM grid GROUP BY 1),
      pr AS (SELECT x,
               2 * sum(pcnt) OVER (ORDER BY x) - pcnt + 1 AS R2 FROM p),
      wr AS (SELECT g, x, cnt,
               2 * sum(cnt) OVER (PARTITION BY g ORDER BY x) - cnt + 1
                 AS w2
             FROM grid),
      j AS (SELECT g, cnt, R2, w2 FROM wr JOIN pr USING (x)),
      per AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n,
                CAST(sum(cnt * R2) AS BIGINT) AS D
              FROM j GROUP BY 1),
      e AS (SELECT j.g, max(per.n) AS n, max(per.D) AS D,
              CAST(sum(CAST(cnt AS HUGEINT)
                * (per.n * (R2 - w2 + per.n + 1) - per.D)
                * (per.n * (R2 - w2 + per.n + 1) - per.D)) AS HUGEINT)
                AS E
            FROM j JOIN per USING (g) GROUP BY 1),
      one AS (SELECT
              max(CASE WHEN g = 'src0' THEN n END) AS n_a,
              max(CASE WHEN g = 'src1' THEN n END) AS n_b,
              max(CASE WHEN g = 'src0' THEN D END) AS d_a_l,
              max(CASE WHEN g = 'src1' THEN D END) AS d_b_l,
              max(CASE WHEN g = 'src0' THEN E END) AS ea,
              max(CASE WHEN g = 'src1' THEN E END) AS eb
            FROM e)
      SELECT n_a, n_b, d_a_l, d_b_l,
        CAST(floor(1000000.0 * CAST(ea AS DOUBLE)
          / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)
            * CAST(n_a - 1 AS DOUBLE))) AS BIGINT) AS v_a_q,
        CAST(floor(1000000.0 * CAST(eb AS DOUBLE)
          / (4.0 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)
            * CAST(n_b - 1 AS DOUBLE))) AS BIGINT) AS v_b_q,
        CAST(floor(1000000.0
          * CAST(d_b_l - n_b * (n_b + 1) AS DOUBLE)
          / (2.0 * CAST(n_a * n_b AS DOUBLE))) AS BIGINT) AS phat_q,
        CASE WHEN n_a >= 2 AND n_b >= 2 AND (ea > 0 OR eb > 0) THEN
          CAST(floor(1000000.0
            * CAST(n_a * d_b_l - n_b * d_a_l AS DOUBLE)
            / (CAST(n_a + n_b AS DOUBLE)
              * sqrt(CAST(ea AS DOUBLE) / CAST(n_a * (n_a - 1) AS DOUBLE)
                + CAST(eb AS DOUBLE) / CAST(n_b * (n_b - 1) AS DOUBLE))))
            AS BIGINT)
        END AS w_q
      FROM one"""))

  /** (q353) Ansari–Bradley two-sample scale test of n_chars between
    * sources src2 and src3 (Stats.ansariBradley scaladoc): integer
    * fold-toward-extremes scores on the doubled-rank grid, exact
    * finite-population moments, one mirrored z chain.
    */
  val q353AnsariBradley = Q(
    "q353_a_ansari_bradley",
    (s, dir) =>
      wideStr(operators.Stats.ansariBradley(t(s, dir, "documents"),
        "source", "n_chars", "src2", "src3"), "q4_l"),
    Some("""
      WITH v AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE source IN ('src2', 'src3') AND n_chars IS NOT NULL),
      grid AS (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt
               FROM v GROUP BY 1, 2),
      p AS (SELECT x, CAST(sum(cnt) AS BIGINT) AS pcnt
            FROM grid GROUP BY 1),
      pr AS (SELECT x,
               2 * sum(pcnt) OVER (ORDER BY x) - pcnt + 1 AS R2 FROM p),
      j AS (SELECT g, cnt, R2 FROM grid JOIN pr USING (x)),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS N FROM grid),
      sc AS (SELECT g, cnt, least(R2, 2 * (N + 1) - R2) AS a2
             FROM j CROSS JOIN tot),
      one AS (SELECT (SELECT N FROM tot) AS n_total,
              CAST(sum(CASE WHEN g = 'src2' THEN cnt ELSE 0 END)
                AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN g = 'src3' THEN cnt ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN g = 'src2' THEN cnt * a2 ELSE 0 END)
                AS BIGINT) AS t2_l,
              CAST(sum(cnt * a2) AS BIGINT) AS s2_l,
              CAST(sum(CAST(cnt AS HUGEINT) * CAST(a2 AS HUGEINT)
                * CAST(a2 AS HUGEINT)) AS HUGEINT) AS q4
            FROM sc)
      SELECT n_a, n_b, n_total, t2_l, s2_l, CAST(q4 AS VARCHAR) AS q4_l,
        CASE WHEN n_total >= 3 AND CAST(n_total AS HUGEINT) * q4
            - CAST(s2_l AS HUGEINT) * CAST(s2_l AS HUGEINT) > 0 THEN
          CAST(floor(1000000.0
            * CAST(CAST(n_total AS HUGEINT) * CAST(t2_l AS HUGEINT)
              - CAST(n_a AS HUGEINT) * CAST(s2_l AS HUGEINT) AS DOUBLE)
            / sqrt(CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                * (CAST(n_total AS HUGEINT) * q4
                  - CAST(s2_l AS HUGEINT) * CAST(s2_l AS HUGEINT))
                AS DOUBLE)
              / CAST(n_total - 1 AS DOUBLE))) AS BIGINT)
        END AS z_q
      FROM one"""))

  /** (q354) Page's L trend test for ordered alternatives — blocks =
    * lang, treatments = source (hypothesized order = ascending source
    * key), observation = Σn_chars per cell (Stats.pageL scaladoc):
    * integer L on the doubled within-block rank grid, exact moments,
    * one sqrt.
    */
  val q354PageTrend = Q(
    "q354_a_page_trend",
    (s, dir) =>
      operators.Stats.pageL(t(s, dir, "documents"), "lang", "source",
        "n_chars"),
    Some("""
      WITH cells AS (SELECT lang AS b, source AS t,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS x
             FROM documents
             WHERE lang IS NOT NULL AND source IS NOT NULL
               AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells),
      full0 AS (SELECT b, t, x,
               count(*) OVER (PARTITION BY b) AS kb
             FROM cells),
      full1 AS (SELECT b, t, x FROM full0 CROSS JOIN kk
                WHERE kb = k),
      ranked AS (SELECT b, t,
               2 * count(*) OVER (PARTITION BY b ORDER BY x
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + count(*) OVER (PARTITION BY b ORDER BY x
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS R2
             FROM full1),
      ord AS (SELECT t, CAST(row_number() OVER (ORDER BY t) AS BIGINT)
                AS c
              FROM (SELECT DISTINCT t FROM cells)),
      one AS (SELECT CAST(sum(c * R2) AS BIGINT) AS l2_l,
               CAST(count(*) AS BIGINT) AS nc
             FROM ranked JOIN ord USING (t))
      SELECT CAST(nc // k AS BIGINT) AS n_blocks, k, l2_l,
        (nc // k) * k * (k + 1) * (k + 1) AS e4_l,
        (nc // k) * k * k * (k + 1) * (k * k - 1) AS v144_l,
        CASE WHEN nc // k >= 1 AND k >= 2 THEN
          CAST(floor(3000000.0
            * CAST(2 * l2_l - (nc // k) * k * (k + 1) * (k + 1) AS DOUBLE)
            / sqrt(CAST((nc // k) * k * k * (k + 1) * (k * k - 1)
                AS DOUBLE))) AS BIGINT)
        END AS z_q
      FROM one CROSS JOIN kk"""))

  /** Shared dense-HOURLY event-count grid (the q348/q350 daily grid at
    * 3600-s buckets — 720 points, enough depth for lag/blocksize
    * structure).
    */
  private def denseHourly(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val hourly = e
      .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 3600))
      .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
    val span = hourly.agg(min(col("bucket")).as("__lo"),
      max(col("bucket")).as("__hi"))
    span
      .select(explode(sequence(col("__lo"), col("__hi"), lit(3600L)))
        .as("bucket"))
      .join(hourly, Seq("bucket"), "left")
      .na.fill(0L, Seq("x"))
  }

  private val DenseHourlySql = s"""
      eh AS (SELECT ($EvUs // 3600000000) * 3600 AS bucket
             FROM events),
      hh AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM eh GROUP BY 1),
      spanh AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM hh),
      dense0h AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM spanh, LATERAL unnest(range(lo, hi + 1, 3600)) g(g)),
      dense AS (SELECT d.bucket, coalesce(hh.x, 0) AS x
             FROM dense0h d LEFT JOIN hh USING (bucket))"""

  /** (q355) Ljung–Box white-noise test to lag 8 on the dense hourly
    * event-count series (TimeAgg.ljungBox scaladoc): n-scaled centered
    * integers, decimal autocovariance numerators, quantized per-lag
    * terms so the cumulative Q is an order-free integer sum.
    */
  val q355LjungBox = Q(
    "q355_a_ljung_box",
    (s, dir) =>
      operators.TimeAgg.ljungBox(denseHourly(s, dir), "bucket", "x",
        maxLag = 8),
    Some(s"""
      WITH $DenseHourlySql,
      idx AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
                AS BIGINT) AS t
              FROM dense),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS S FROM idx),
      c AS (SELECT t, n * x - S AS xc, n FROM idx CROSS JOIN tot),
      base AS (SELECT max(n) AS n,
                CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS num0
              FROM c),
      nums AS (SELECT l.lag,
                CAST(sum(CAST(a.xc AS HUGEINT) * b.xc) AS HUGEINT)
                  AS numk
              FROM (SELECT CAST(k.k AS BIGINT) AS lag
                    FROM (SELECT unnest(range(1, 9)) AS k) k) l
              JOIN c a ON true
              JOIN c b ON b.t = a.t + l.lag
              GROUP BY 1),
      terms AS (SELECT lag, n,
                CAST(floor(1000000000.0 * CAST(numk AS DOUBLE)
                  / CAST(num0 AS DOUBLE)) AS BIGINT) AS r_q,
                CAST(floor(1000000000000.0
                  * CAST(n * (n + 2) AS DOUBLE)
                  * (CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE))
                  * (CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE))
                  / CAST(n - lag AS DOUBLE)) AS BIGINT) AS term_q
              FROM nums CROSS JOIN base
              WHERE num0 > 0 AND lag < n)
      SELECT lag, n, r_q, term_q,
        CAST(sum(term_q) OVER (ORDER BY lag) AS BIGINT) AS lb_cum_q
      FROM terms ORDER BY lag"""))

  /** (q356) Lo–MacKinlay variance-ratio test (q=5) on the dense hourly
    * event-count levels (TimeAgg.varianceRatio scaladoc): exact
    * drift-cleared increment numerators, one division for VR, one
    * mirrored chain for z.
    */
  val q356VarianceRatio = Q(
    "q356_a_variance_ratio",
    (s, dir) =>
      operators.TimeAgg.varianceRatio(denseHourly(s, dir), "bucket", "x",
        q = 5),
    Some(s"""
      WITH $DenseHourlySql,
      idx AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
                AS BIGINT) AS t
              FROM dense),
      ends AS (SELECT CAST(count(*) AS BIGINT) AS n,
                max(CASE WHEN t = 1 THEN x END) AS x1,
                max(t) AS tn
              FROM idx),
      ev2 AS (SELECT n, (SELECT x FROM idx WHERE t = (SELECT tn FROM ends))
                - x1 AS delta
             FROM ends),
      d1 AS (SELECT CAST(sum(CAST((n - 1) * (a.x - b.x) - 1 * delta
                AS HUGEINT)
                * ((n - 1) * (a.x - b.x) - 1 * delta)) AS HUGEINT)
                AS numB,
              max(n) AS n, max(delta) AS delta
            FROM idx a JOIN idx b ON a.t = b.t + 1 CROSS JOIN ev2),
      dq AS (SELECT CAST(sum(CAST((n - 1) * (a.x - b.x) - 5 * delta
                AS HUGEINT)
                * ((n - 1) * (a.x - b.x) - 5 * delta)) AS HUGEINT)
                AS numA
            FROM idx a JOIN idx b ON a.t = b.t + 5 CROSS JOIN ev2)
      SELECT n, CAST(5 AS BIGINT) AS q, delta AS delta_l,
        CAST(numB AS BIGINT) AS num1_l,
        CAST(numA AS BIGINT) AS numq_l,
        CASE WHEN numB > 0 THEN
          CAST(floor(1000000.0 * CAST(numA AS DOUBLE)
            / (5.0 * CAST(numB AS DOUBLE))) AS BIGINT)
        END AS vr_q,
        CASE WHEN numB > 0 AND n > 6 THEN
          CAST(floor(1000000.0
            * (CAST(numA AS DOUBLE) / (5.0 * CAST(numB AS DOUBLE)) - 1.0)
            / sqrt(4.8 / CAST(n - 1 AS DOUBLE))) AS BIGINT)
        END AS z_q
      FROM d1 CROSS JOIN dq"""))

  /** (q357) Hurst exponent by rescaled-range analysis over block sizes
    * 8/16/32/64 on the dense hourly series (TimeAgg.hurstRS scaladoc):
    * rational (R/S)² per block, one ln per size, quantized-grid OLS
    * slope.
    */
  val q357HurstRS = Q(
    "q357_a_hurst_rs",
    (s, dir) =>
      operators.TimeAgg.hurstRS(denseHourly(s, dir), "bucket", "x",
        sizes = Seq(8, 16, 32, 64)),
    Some(s"""
      WITH $DenseHourlySql,
      idx AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
                AS BIGINT) AS t
              FROM dense),
      bl AS (SELECT t, x, CAST(s.s AS BIGINT) AS nb,
               (t - 1) // CAST(s.s AS BIGINT) AS blk,
               t - ((t - 1) // CAST(s.s AS BIGINT)) * CAST(s.s AS BIGINT)
                 AS pos
             FROM idx CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS s) s),
      w AS (SELECT nb, blk, pos, x,
              sum(x) OVER (PARTITION BY nb, blk ORDER BY pos) AS P,
              sum(x) OVER (PARTITION BY nb, blk) AS Sb,
              count(*) OVER (PARTITION BY nb, blk) AS cnt
            FROM bl),
      per AS (SELECT nb, blk,
               max(nb * P - pos * Sb) - min(nb * P - pos * Sb) AS Rn,
               CAST(sum(CAST(nb * x - Sb AS HUGEINT) * (nb * x - Sb))
                 AS HUGEINT) AS num0
             FROM w WHERE cnt = nb GROUP BY 1, 2
             HAVING CAST(sum(CAST(nb * x - Sb AS HUGEINT) * (nb * x - Sb))
               AS HUGEINT) > 0),
      rs AS (SELECT nb,
               CAST(floor(1000000.0
                 * CAST(CAST(Rn AS HUGEINT) * Rn * nb AS DOUBLE)
                 / CAST(num0 AS DOUBLE)) AS BIGINT) AS rs2q
             FROM per),
      bySize AS (SELECT nb AS block_n,
               CAST(count(*) AS BIGINT) AS m_blocks,
               CAST(sum(rs2q) AS BIGINT) AS rs2_sum_q
             FROM rs GROUP BY 1 HAVING sum(rs2q) > 0),
      y AS (SELECT block_n, m_blocks, rs2_sum_q,
              CAST(floor(500000000.0 * ln(CAST(rs2_sum_q AS DOUBLE)
                / (1000000.0 * CAST(m_blocks AS DOUBLE)))) AS BIGINT)
                AS y_q,
              CAST(floor(1000000000.0 * ln(CAST(block_n AS DOUBLE)))
                AS BIGINT) AS xq
            FROM bySize),
      slope AS (SELECT CASE WHEN count(*) >= 2 THEN
              CAST(floor(1000000.0
                * CAST(count(*) * sum(CAST(xq AS HUGEINT) * y_q)
                  - sum(CAST(xq AS HUGEINT)) * sum(CAST(y_q AS HUGEINT))
                  AS DOUBLE)
                / CAST(count(*) * sum(CAST(xq AS HUGEINT) * xq)
                  - sum(CAST(xq AS HUGEINT)) * sum(CAST(xq AS HUGEINT))
                  AS DOUBLE)) AS BIGINT)
            END AS hurst_q FROM y)
      SELECT block_n, m_blocks, rs2_sum_q, y_q, hurst_q
      FROM y CROSS JOIN slope ORDER BY block_n"""))

  /** (q358) Gwet's AC1 agreement between the stored lang label and the
    * n-gram language-ID prediction (Eval.gwetAc1 scaladoc) — the
    * prevalence-robust complement to q167's Cohen's κ on the same
    * rater pair: rational to the last step via the cleared
    * 4N²(Q−1) denominator.
    */
  val q358GwetAc1 = Q(
    "q358_ml_gwet_ac1",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
        .filter(col("pred").isNotNull)
      wideStr(operators.Eval.gwetAc1(d, "lang", "pred"), "b_l")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT lang AS a,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS b
             FROM h WHERE lang IS NOT NULL),
      cm AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
             FROM pr GROUP BY 1, 2),
      ma AS (SELECT a AS q, CAST(sum(n) AS BIGINT) AS ca
             FROM cm GROUP BY 1),
      mb AS (SELECT b AS q, CAST(sum(n) AS BIGINT) AS cb
             FROM cm GROUP BY 1),
      cats AS (SELECT coalesce(ma.ca, 0) + coalesce(mb.cb, 0) AS m
               FROM ma FULL JOIN mb USING (q)),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS N,
                CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT)
                  AS A
              FROM cm),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
                max(N) AS n_rows, max(A) AS agree,
                CAST(sum(CAST(m AS HUGEINT) * (2 * N - m)) AS HUGEINT)
                  AS B
              FROM cats CROSS JOIN tot)
      SELECT n_rows, agree, n_cats, CAST(B AS VARCHAR) AS b_l,
        CASE WHEN n_cats >= 2 AND CAST(4 AS HUGEINT) * n_rows * n_rows
            * (n_cats - 1) - B > 0 THEN
          CAST(floor(1000000.0
            * CAST(CAST(4 AS HUGEINT) * agree * n_rows * (n_cats - 1)
              - B AS DOUBLE)
            / CAST(CAST(4 AS HUGEINT) * n_rows * n_rows * (n_cats - 1)
              - B AS DOUBLE)) AS BIGINT)
        END AS ac1_q
      FROM agg"""))

  /** (q359) Mann–Kendall monotone-trend test on the dense hourly
    * event-count series (TimeAgg.mannKendall scaladoc): exact S over
    * all pairs of the bounded bucket grid, integer tie-corrected
    * 18·Var, continuity-corrected z.
    */
  val q359MannKendall = Q(
    "q359_a_mann_kendall",
    (s, dir) =>
      operators.TimeAgg.mannKendall(denseHourly(s, dir), "bucket", "x"),
    Some(s"""
      WITH $DenseHourlySql,
      idx AS (SELECT x, CAST(row_number() OVER (ORDER BY bucket)
                AS BIGINT) AS t
              FROM dense),
      pr AS (SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT)
               AS s_l
             FROM idx a JOIN idx b ON b.t > a.t),
      ti AS (SELECT CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT)
               AS tie, CAST(sum(c) AS BIGINT) AS n
             FROM (SELECT CAST(count(*) AS BIGINT) AS c
                   FROM idx GROUP BY x)),
      one AS (SELECT n, s_l,
                n * (n - 1) * (2 * n + 5) - coalesce(tie, 0) AS var18_l
              FROM pr CROSS JOIN ti)
      SELECT n, s_l, var18_l,
        CASE WHEN var18_l > 0 AND s_l <> 0 THEN
          CAST(floor(1000000.0
            * CAST(s_l - sign(s_l) AS DOUBLE)
            / sqrt(CAST(var18_l AS DOUBLE) / 18.0)) AS BIGINT)
        WHEN var18_l > 0 THEN 0
        END AS z_q
      FROM one"""))

  /** (q360) Turning-point randomness test on the dense hourly series
    * (TimeAgg.turningPoints scaladoc): strict local extrema count,
    * exact moments, one sqrt.
    */
  val q360TurningPoints = Q(
    "q360_a_turning_points",
    (s, dir) =>
      operators.TimeAgg.turningPoints(denseHourly(s, dir), "bucket", "x"),
    Some(s"""
      WITH $DenseHourlySql,
      w AS (SELECT x,
              lag(x) OVER (ORDER BY bucket) AS p,
              lead(x) OVER (ORDER BY bucket) AS nx
            FROM dense),
      one AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
                  AND ((x > p AND x > nx) OR (x < p AND x < nx))
                  THEN 1 ELSE 0 END) AS BIGINT) AS t_points
              FROM w)
      SELECT n, t_points,
        CASE WHEN n >= 4 THEN
          CAST(floor(1000000.0
            * CAST(3 * t_points - 2 * (n - 2) AS DOUBLE)
            / (3.0 * sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0)))
            AS BIGINT)
        END AS z_q
      FROM one"""))

  /** (q361) Bartels rank von Neumann randomness test on the dense
    * hourly series (TimeAgg.bartelsRank scaladoc): doubled mid-ranks,
    * exact num4/den4, one division for RVN, one mirrored z chain.
    */
  val q361BartelsRank = Q(
    "q361_a_bartels_rank",
    (s, dir) =>
      operators.TimeAgg.bartelsRank(denseHourly(s, dir), "bucket", "x"),
    Some(s"""
      WITH $DenseHourlySql,
      r AS (SELECT bucket, x,
              2 * count(*) OVER (ORDER BY x
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                + count(*) OVER (ORDER BY x
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS R2
            FROM dense),
      rr AS (SELECT R2, lead(R2) OVER (ORDER BY bucket) AS R2n FROM r),
      one AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN R2n IS NOT NULL
                  THEN (R2 - R2n) * (R2 - R2n) ELSE 0 END) AS BIGINT)
                  AS num4_l
              FROM rr),
      dn AS (SELECT CAST(sum((R2 - (n + 1)) * (R2 - (n + 1)))
               AS BIGINT) AS den4_l
             FROM r CROSS JOIN one)
      SELECT n, num4_l, den4_l,
        CASE WHEN den4_l > 0 THEN
          CAST(floor(1000000.0 * CAST(num4_l AS DOUBLE)
            / CAST(den4_l AS DOUBLE)) AS BIGINT)
        END AS rvn_q,
        CASE WHEN den4_l > 0 AND n >= 4 THEN
          CAST(floor(1000000.0
            * (CAST(num4_l AS DOUBLE) / CAST(den4_l AS DOUBLE) - 2.0)
            / sqrt(CAST(4 * (n - 2) * (5 * n * n - 2 * n - 9) AS DOUBLE)
              / CAST(5 * n * (n + 1) * (n - 1) * (n - 1) AS DOUBLE)))
            AS BIGINT)
        END AS z_q
      FROM one CROSS JOIN dn"""))

  /** Shared two-sample ECDF grid oracle fragment (Robust.ecdfGrid):
    * pooled distinct-value grid with per-group cumulative counts and
    * value sums, per-value pooled multiplicity, gap to next value,
    * and one-row totals.
    */
  private def ecdfSql(gA: String, gB: String): String = s"""
      v2 AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
             FROM documents
             WHERE source IN ('$gA', '$gB') AND n_chars IS NOT NULL),
      cnts AS (SELECT x AS v,
               CAST(sum(CASE WHEN g = '$gA' THEN 1 ELSE 0 END) AS BIGINT)
                 AS ca,
               CAST(sum(CASE WHEN g = '$gB' THEN 1 ELSE 0 END) AS BIGINT)
                 AS cb
             FROM v2 GROUP BY 1),
      grid AS (SELECT v, ca, cb, ca + cb AS c_pool,
               sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS cum_a,
               sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS cum_b,
               sum(ca * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS scum_a,
               sum(cb * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS scum_b,
               coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS gap
             FROM cnts),
      tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                CAST(sum(cb) AS BIGINT) AS nb,
                CAST(sum(ca * v) AS BIGINT) AS sa,
                CAST(sum(cb * v) AS BIGINT) AS sb
              FROM cnts)"""

  /** (q362) Exact 1-Wasserstein distance of n_chars between src0 and
    * src1 (Robust.wasserstein1 scaladoc): ECDF-gap mass on the pooled
    * value grid, exact decimal numerator, one division.
    */
  val q362Wasserstein = Q(
    "q362_a_wasserstein1",
    (s, dir) =>
      wideStr(operators.Robust.wasserstein1(t(s, dir, "documents"),
        "source", "n_chars", "src0", "src1"), "num_l"),
    Some(s"""
      WITH ${ecdfSql("src0", "src1")}
      SELECT na AS n_a, nb AS n_b,
        CAST(CAST(sum(abs(CAST(cum_a AS HUGEINT) * nb
          - CAST(cum_b AS HUGEINT) * na) * gap) AS HUGEINT) AS VARCHAR)
          AS num_l,
        CASE WHEN na > 0 AND nb > 0 THEN
          CAST(floor(1000000.0
            * CAST(sum(abs(CAST(cum_a AS HUGEINT) * nb
              - CAST(cum_b AS HUGEINT) * na) * gap) AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT)
        END AS w1_q
      FROM grid CROSS JOIN tot GROUP BY na, nb"""))

  /** (q363) Two-sample Cramér–von Mises statistic of n_chars between
    * src2 and src3 (Robust.cramerVonMises scaladoc): count-weighted
    * L2 of the ECDF difference, exact decimal numerator.
    */
  val q363CramerVonMises = Q(
    "q363_a_cramer_von_mises",
    (s, dir) =>
      wideStr(operators.Robust.cramerVonMises(t(s, dir, "documents"),
        "source", "n_chars", "src2", "src3"), "num_l"),
    Some(s"""
      WITH ${ecdfSql("src2", "src3")}
      SELECT na AS n_a, nb AS n_b,
        CAST(CAST(sum(CAST(c_pool AS HUGEINT)
          * (CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)
          * (CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na))
          AS HUGEINT) AS VARCHAR) AS num_l,
        CASE WHEN na > 0 AND nb > 0 THEN
          CAST(floor(1000000.0
            * CAST(sum(CAST(c_pool AS HUGEINT)
              * (CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)
              * (CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na))
              AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
              * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)))
            AS BIGINT)
        END AS t_q
      FROM grid CROSS JOIN tot GROUP BY na, nb"""))

  /** (q364) Exact squared energy distance of n_chars between src4 and
    * src5 (Robust.energyDistance scaladoc): pairwise-|diff|
    * expectations from sorted-grid prefix sums, denominators cleared
    * to one division.
    */
  val q364EnergyDistance = Q(
    "q364_a_energy_distance",
    (s, dir) =>
      wideStr(operators.Robust.energyDistance(t(s, dir, "documents"),
        "source", "n_chars", "src4", "src5"),
        "sab_l", "saa_l", "sbb_l"),
    Some(s"""
      WITH ${ecdfSql("src4", "src5")},
      ab AS (SELECT ca, cb,
               (CAST(cum_a AS HUGEINT) * v - scum_a)
                 + ((CAST(sa AS HUGEINT) - scum_a)
                   - (CAST(na AS HUGEINT) - cum_a) * v) AS absA,
               (CAST(cum_b AS HUGEINT) * v - scum_b)
                 + ((CAST(sb AS HUGEINT) - scum_b)
                   - (CAST(nb AS HUGEINT) - cum_b) * v) AS absB,
               na, nb
             FROM grid CROSS JOIN tot),
      agg AS (SELECT max(na) AS n_a, max(nb) AS n_b,
               CAST(sum(CAST(cb AS HUGEINT) * absA) AS HUGEINT) AS sab_l,
               CAST(sum(CAST(ca AS HUGEINT) * absA) AS HUGEINT) AS saa_l,
               CAST(sum(CAST(cb AS HUGEINT) * absB) AS HUGEINT) AS sbb_l
             FROM ab)
      SELECT n_a, n_b, CAST(sab_l AS VARCHAR) AS sab_l,
        CAST(saa_l AS VARCHAR) AS saa_l, CAST(sbb_l AS VARCHAR) AS sbb_l,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
          CAST(floor(1000000.0
            * CAST(CAST(2 AS HUGEINT) * sab_l * n_a * n_b
              - saa_l * n_b * n_b - sbb_l * n_a * n_a AS DOUBLE)
            / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)
              * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT)
        END AS e2_q
      FROM agg"""))

  /** (q365) Seasonal Mann–Kendall (Hirsch–Slack) on the dense hourly
    * series with hour-of-day seasons (TimeAgg.seasonalMannKendall
    * scaladoc): per-season pairs only, exact summed S and 18·Var.
    */
  val q365SeasonalMK = Q(
    "q365_a_seasonal_mk",
    (s, dir) =>
      operators.TimeAgg.seasonalMannKendall(denseHourly(s, dir),
        "bucket", "x", expr("(bucket % 86400) div 3600")),
    Some(s"""
      WITH $DenseHourlySql,
      se AS (SELECT bucket, x, (bucket % 86400) // 3600 AS s
             FROM dense),
      idx AS (SELECT s, x, CAST(row_number() OVER (PARTITION BY s
                ORDER BY bucket) AS BIGINT) AS t
              FROM se),
      pr AS (SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT)
               AS s_l
             FROM idx a JOIN idx b ON b.s = a.s AND b.t > a.t),
      ti0 AS (SELECT s, CAST(count(*) AS BIGINT) AS c
              FROM idx GROUP BY s, x),
      ti1 AS (SELECT s, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT)
                AS tie, CAST(sum(c) AS BIGINT) AS ns
              FROM ti0 GROUP BY s),
      ti AS (SELECT CAST(sum(ns * (ns - 1) * (2 * ns + 5) - tie)
               AS BIGINT) AS var18_l,
               CAST(sum(ns) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_seasons
             FROM ti1)
      SELECT n, n_seasons, s_l, var18_l,
        CASE WHEN var18_l > 0 AND s_l <> 0 THEN
          CAST(floor(1000000.0
            * CAST(s_l - sign(s_l) AS DOUBLE)
            / sqrt(CAST(var18_l AS DOUBLE) / 18.0)) AS BIGINT)
        WHEN var18_l > 0 THEN 0
        END AS z_q
      FROM pr CROSS JOIN ti"""))

  /** (q366) Grubbs' max-studentized-deviation outlier test on
    * documents.n_chars (Stats.grubbs scaladoc): exact max|n·x−S| and
    * Σ(n·x−S)², one two-sqrt chain.
    */
  val q366Grubbs = Q(
    "q366_a_grubbs",
    (s, dir) =>
      wideStr(operators.Stats.grubbs(t(s, dir, "documents"), "n_chars"),
        "num0_l"),
    Some("""
      WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
             WHERE n_chars IS NOT NULL),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS S FROM v),
      c AS (SELECT n, n * x - S AS xc FROM v CROSS JOIN tot)
      SELECT n, CAST(max(abs(xc)) AS BIGINT) AS maxdev_l,
        CAST(CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS VARCHAR)
          AS num0_l,
        CASE WHEN n >= 3 AND sum(CAST(xc AS HUGEINT) * xc) > 0 THEN
          CAST(floor(1000000.0 * CAST(max(abs(xc)) AS DOUBLE)
            * sqrt(CAST(n - 1 AS DOUBLE))
            / sqrt(CAST(sum(CAST(xc AS HUGEINT) * xc) AS DOUBLE)))
            AS BIGINT)
        END AS g_q
      FROM c GROUP BY n"""))

  /** (q367) Quade weighted-block test over the lang×source cell grid
    * (Stats.quade scaladoc): within-block doubled ranks × doubled
    * range-rank block weights, exact decimal sums, one division.
    */
  val q367Quade = Q(
    "q367_a_quade",
    (s, dir) =>
      wideStr(operators.Stats.quade(t(s, dir, "documents"), "lang",
        "source", "n_chars"), "a16_l", "b16n_l"),
    Some("""
      WITH cells AS (SELECT lang AS b, source AS t,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS x
             FROM documents
             WHERE lang IS NOT NULL AND source IS NOT NULL
               AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells),
      full0 AS (SELECT b, t, x,
               count(*) OVER (PARTITION BY b) AS kb
             FROM cells),
      full1 AS (SELECT b, t, x FROM full0 CROSS JOIN kk WHERE kb = k),
      ranked AS (SELECT b, t,
               2 * count(*) OVER (PARTITION BY b ORDER BY x
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + count(*) OVER (PARTITION BY b ORDER BY x
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS R2
             FROM full1),
      rg AS (SELECT b, max(x) - min(x) AS rgv FROM full1 GROUP BY b),
      rr AS (SELECT b,
               2 * count(*) OVER (ORDER BY rgv
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + count(*) OVER (ORDER BY rgv
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS Q2
             FROM rg),
      s4 AS (SELECT t, Q2 * (R2 - (k + 1)) AS S4
             FROM ranked JOIN rr USING (b) CROSS JOIN kk),
      a AS (SELECT CAST(sum(CAST(S4 AS HUGEINT) * S4) AS HUGEINT)
               AS a16_l,
               CAST(count(*) // (SELECT k FROM kk) AS BIGINT)
                 AS n_blocks
             FROM s4),
      bj AS (SELECT CAST(sum(CAST(sj AS HUGEINT) * sj) AS HUGEINT)
               AS b16n_l
             FROM (SELECT CAST(sum(S4) AS BIGINT) AS sj
                   FROM s4 GROUP BY t))
      SELECT n_blocks, (SELECT k FROM kk) AS k,
        CAST(a16_l AS VARCHAR) AS a16_l,
        CAST(b16n_l AS VARCHAR) AS b16n_l,
        CASE WHEN n_blocks >= 2
            AND CAST(n_blocks AS HUGEINT) * a16_l - b16n_l > 0 THEN
          CAST(floor(1000000.0
            * CAST((n_blocks - 1) * b16n_l AS DOUBLE)
            / CAST(CAST(n_blocks AS HUGEINT) * a16_l - b16n_l AS DOUBLE))
            AS BIGINT)
        END AS f_q
      FROM a CROSS JOIN bj"""))

  /** (q368) Integer eigenvector centrality over the mutual 5-NN graph
    * (Graph.eigenvectorCentrality scaladoc): 4 power-iteration rounds
    * on the 10¹² L1 grid; the oracle unrolls every round with the
    * q210 normalization idiom (HUGEINT product, `//` by the exact
    * round total).
    */
  val q368Eigenvector = Q(
    "q368_g_eigenvector",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.eigenvectorCentrality(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), rounds = 4)
        .orderBy("id")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        val prev = if (i == 1) "x0" else s"x${i - 1}"
        s"""
      r$i AS (SELECT s.b AS v, CAST(sum(p.x) AS HUGEINT) AS raw
             FROM sym s JOIN $prev p ON p.v = s.a GROUP BY s.b),
      x$i AS MATERIALIZED (SELECT v.v,
               coalesce(CAST((1000000000000::HUGEINT * r.raw)
                 // (SELECT sum(raw) FROM r$i) AS BIGINT), 0) AS x
             FROM v LEFT JOIN r$i r ON r.v = v.v)"""
      }.mkString(",")
      s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS MATERIALIZED (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS MATERIALIZED (SELECT a, b FROM mut
              UNION SELECT b AS a, a AS b FROM mut),
      v AS MATERIALIZED (SELECT DISTINCT a AS v FROM sym),
      x0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS x FROM v),
      $rounds,
      deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS degree
              FROM sym GROUP BY 1)
      SELECT v.v AS id, coalesce(deg.degree, 0) AS degree,
        x4.x AS eig_q
      FROM v LEFT JOIN deg USING (v) JOIN x4 USING (v)
      ORDER BY id"""
    })

  /** (q369) Wilcoxon signed-rank test of per-user activity drift —
    * each user's event count in the first half of the span vs the
    * second half (Stats.wilcoxonSignedRank scaladoc): paired d per
    * user, distinct-|d| grid mid-ranks, exact tie-corrected 48·Var.
    */
  val q369SignedRank = Q(
    "q369_a_wilcoxon_signed_rank",
    (s, dir) => {
      val e = ev(s, dir)
      val ud = e.filter(col("user_id").isNotNull)
        .withColumn("day", expr("ts_us div 86400000000"))
      val mid = ud.agg(((min(col("day")) + max(col("day")) + 1L) /
        lit(2L)).cast("long").as("__mid"))
      val per = ud.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("__mid"), 1L).otherwise(0L))
          .as("before"),
          sum(when(col("day") >= col("__mid"), 1L).otherwise(0L))
          .as("after"))
      wideStr(operators.Stats.wilcoxonSignedRank(per, "before", "after"),
        "var48_l")
    },
    Some(s"""
      WITH ud AS (SELECT user_id, $EvUs // 86400000000 AS day
             FROM events WHERE user_id IS NOT NULL),
      sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ud),
      per AS (SELECT user_id,
               CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
                 AS b,
               CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END)
                 AS BIGINT) AS a
             FROM ud CROSS JOIN sp GROUP BY 1),
      dd AS (SELECT a - b AS d FROM per WHERE a - b <> 0),
      grid AS (SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS pos
             FROM dd GROUP BY 1),
      ranked AS (SELECT cnt, pos,
               2 * sum(cnt) OVER (ORDER BY ad) - cnt + 1 AS R2
             FROM grid),
      one AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_used,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
               CAST(sum(pos * R2) AS BIGINT) AS w2_l,
               CAST(2::HUGEINT * sum(cnt) * (sum(cnt) + 1)
                 * (2 * sum(cnt) + 1)
                 - sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                 AS HUGEINT) AS var48_l
             FROM ranked)
      SELECT n_used, n_pos, n_neg, w2_l,
        CAST(var48_l AS VARCHAR) AS var48_l,
        CASE WHEN n_used >= 1 AND var48_l > 0 THEN
          CAST(floor(1000000.0
            * CAST(2 * w2_l - n_used * (n_used + 1) AS DOUBLE)
            / (4.0 * sqrt(CAST(var48_l AS DOUBLE) / 48.0))) AS BIGINT)
        END AS z_q
      FROM one"""))

  /** (q370) Bowker symmetry test of the lang↔language-ID confusion
    * matrix (Stats.bowker scaladoc): does misclassification flow
    * symmetrically between category pairs — McNemar's k-class
    * generalization on the q167/q358 rater pair.
    */
  val q370Bowker = Q(
    "q370_ml_bowker",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextFns.langId(col("text")).as("pred"))
        .filter(col("pred").isNotNull)
      operators.Stats.bowker(d, "lang", "pred")
    },
    Some("""
      WITH d AS (SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT lang AS a,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END AS b
             FROM h WHERE lang IS NOT NULL),
      cm AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
             FROM pr GROUP BY 1, 2),
      up AS (SELECT a, b, n FROM cm WHERE a < b),
      lo AS (SELECT b AS a, a AS b, n AS m FROM cm WHERE a > b),
      pairs AS (SELECT coalesce(up.n, 0) AS n, coalesce(lo.m, 0) AS m
                FROM up FULL JOIN lo USING (a, b)
                WHERE coalesce(up.n, 0) + coalesce(lo.m, 0) > 0),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM cm)
      SELECT n_rows, CAST(count(*) AS BIGINT) AS df,
        CAST(sum(CAST(floor(1000000000.0
          * CAST((n - m) * (n - m) AS DOUBLE)
          / CAST(n + m AS DOUBLE)) AS BIGINT)) AS BIGINT) AS chi2_q
      FROM pairs CROSS JOIN tt GROUP BY n_rows"""))

  /** (q371) One-sample KS distance of the md5 doc_id shard assignment
    * against the discrete uniform over 64 buckets (Stats.ksUniform
    * scaladoc) — the ordered-lean shard-balance audit; bucket =
    * md5-fold of the id mod 64 (the engine-portable q29 hash family).
    */
  val q371KsUniform = Q(
    "q371_a_ks_uniform",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select((operators.Dedup.md5Hash60(col("doc_id").cast("string")) %
          64L).as("bucket"))
      operators.Stats.ksUniform(d, "bucket", k = 64)
    },
    Some("""
      WITH b AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
               % 64 AS bucket
             FROM documents WHERE doc_id IS NOT NULL),
      counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c
                 FROM b WHERE bucket >= 0 AND bucket < 64 GROUP BY 1),
      grid AS (SELECT CAST(g.g AS BIGINT) AS bucket, coalesce(c, 0) AS c
               FROM (SELECT unnest(range(0, 64)) AS g) g
               LEFT JOIN counts ON counts.bucket = g.g),
      cums AS (SELECT bucket,
                 sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                   AS cum
               FROM grid),
      tt AS (SELECT max(cum) AS n FROM cums)
      SELECT CAST(n AS BIGINT) AS n, CAST(64 AS BIGINT) AS k,
        CAST(max(abs(64 * cum - (bucket + 1) * n)) AS BIGINT)
          AS maxnum_l,
        CASE WHEN n > 0 THEN
          CAST(floor(1000000.0
            * CAST(max(abs(64 * cum - (bucket + 1) * n)) AS DOUBLE)
            / (64.0 * CAST(n AS DOUBLE))) AS BIGINT)
        END AS d_q
      FROM cums CROSS JOIN tt GROUP BY n"""))

  /** (q372) Pettitt changepoint test on the dense daily event-count
    * series (Stats.pettitt scaladoc): rank-based level-shift detection
    * with the shift day; doubled mid-ranks, one prefix-sum window.
    */
  val q372Pettitt = Q(
    "q372_a_pettitt",
    (s, dir) => {
      val e = ev(s, dir)
      val daily = e
        .withColumn("bucket", TimeAgg.timeBucketSec(col("ts_us"), 86400))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
      val span = daily.agg(min(col("bucket")).as("__lo"),
        max(col("bucket")).as("__hi"))
      val dense = span
        .select(explode(sequence(col("__lo"), col("__hi"), lit(86400L)))
          .as("bucket"))
        .join(daily, Seq("bucket"), "left")
        .na.fill(0L, Seq("x"))
      operators.Stats.pettitt(dense, "bucket", "x")
    },
    Some(s"""
      WITH e AS (SELECT ($EvUs // 86400000000) * 86400 AS bucket
             FROM events),
      h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS x
            FROM e GROUP BY 1),
      span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM h),
      dense0 AS (SELECT CAST(g.g AS BIGINT) AS bucket
             FROM span, LATERAL unnest(range(lo, hi + 1, 86400)) g(g)),
      dense AS (SELECT d.bucket, coalesce(h.x, 0) AS x
             FROM dense0 d LEFT JOIN h USING (bucket)),
      g AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM dense GROUP BY x),
      gg AS (SELECT x, c,
               coalesce(sum(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS lt
             FROM g),
      rk AS (SELECT d.bucket, 2 * gg.lt + gg.c + 1 AS R2
             FROM dense d JOIN gg ON gg.x = d.x),
      pre AS (SELECT bucket,
               CAST(sum(R2) OVER (ORDER BY bucket) AS BIGINT) AS S,
               row_number() OVER (ORDER BY bucket) AS t
             FROM rk),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dense),
      u AS (SELECT bucket, abs(S - t * (n + 1)) AS U
            FROM pre CROSS JOIN tot WHERE t < n),
      kk AS (SELECT CAST(max(U) AS BIGINT) AS k_stat FROM u)
      SELECT n, k_stat,
        (SELECT min(bucket) FROM u WHERE U = k_stat) AS t_star,
        CASE WHEN n >= 2 THEN
          CAST(floor(1000000.0 * 2.0 * exp(-6.0
            * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT)
        END AS p_q
      FROM tot CROSS JOIN kk"""))

  /** (q373) Kuiper's V of the md5 shard assignment against the
    * discrete uniform (Stats.kuiper scaladoc): D⁺ + D⁻ on the q371
    * grid — the rotation-sensitive shard-balance audit.
    */
  val q373Kuiper = Q(
    "q373_a_kuiper",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select((operators.Dedup.md5Hash60(col("doc_id").cast("string")) %
          64L).as("bucket"))
      operators.Stats.kuiper(d, "bucket", k = 64)
    },
    Some("""
      WITH b AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
               % 64 AS bucket
             FROM documents WHERE doc_id IS NOT NULL),
      counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c
                 FROM b WHERE bucket >= 0 AND bucket < 64 GROUP BY 1),
      grid AS (SELECT CAST(g.g AS BIGINT) AS bucket, coalesce(c, 0) AS c
               FROM (SELECT unnest(range(0, 64)) AS g) g
               LEFT JOIN counts ON counts.bucket = g.g),
      cums AS (SELECT bucket,
                 sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                   AS cum
               FROM grid),
      tt AS (SELECT max(cum) AS n FROM cums),
      fold AS (SELECT CAST(n AS BIGINT) AS n,
               CAST(greatest(max(64 * cum - (bucket + 1) * n), 0)
                 AS BIGINT) AS dplus_l,
               CAST(greatest(max((bucket + 1) * n - 64 * cum), 0)
                 AS BIGINT) AS dminus_l
             FROM cums CROSS JOIN tt GROUP BY n)
      SELECT n, CAST(64 AS BIGINT) AS k, dplus_l, dminus_l,
        CASE WHEN n > 0 THEN
          CAST(floor(1000000.0 * CAST(dplus_l + dminus_l AS DOUBLE)
            / (64.0 * CAST(n AS DOUBLE))) AS BIGINT)
        END AS v_q
      FROM fold"""))

  /** (q374) Link-prediction battery over the mutual 5-NN graph
    * (Graph.linkPredictionScores scaladoc): common neighbors,
    * resource allocation, Jaccard, preferential attachment from one
    * wedge pass — the q241 Adamic–Adar scaffold, three more scores.
    */
  val q374LinkPrediction = Q(
    "q374_g_link_prediction",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.linkPredictionScores(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))), topK = 40)
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS dg
              FROM sym GROUP BY 1),
      adj AS (SELECT a AS z, b AS x FROM sym),
      wed AS (SELECT w1.x AS x, w2.x AS y, w1.z
              FROM adj w1 JOIN adj w2 ON w2.z = w1.z AND w1.x < w2.x),
      cand AS (SELECT x, y, z FROM wed
               WHERE NOT EXISTS (SELECT 1 FROM mut
                   WHERE mut.a = wed.x AND mut.b = wed.y)),
      pp AS (SELECT x, y, CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(1000000000 // dg) AS BIGINT) AS ra_q
             FROM cand JOIN deg USING (z) GROUP BY 1, 2)
      SELECT pp.x, pp.y, pp.common_neighbors, pp.ra_q,
        (1000000 * pp.common_neighbors)
          // (dx.dg + dy.dg - pp.common_neighbors) AS jaccard_q,
        dx.dg * dy.dg AS pa_l
      FROM pp JOIN deg dx ON dx.z = pp.x JOIN deg dy ON dy.z = pp.y
      ORDER BY pp.ra_q DESC, pp.x, pp.y LIMIT 40"""))

  /** (q375) Yuen's trimmed-mean test of n_chars, src0 vs src1
    * (Robust.yuenTrimmed scaladoc): 20 % trimmed means over winsorized
    * variance — the outlier-proof Welch t on the q362 sample pair.
    */
  val q375Yuen = Q(
    "q375_a_yuen_trimmed",
    (s, dir) =>
      operators.Robust.yuenTrimmed(t(s, dir, "documents"), "source",
        "n_chars", "src0", "src1"),
    Some("""
      WITH b AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
             FROM documents
             WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
      p AS (SELECT g, v,
              row_number() OVER (PARTITION BY g ORDER BY v) AS i,
              CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
            FROM b),
      p2 AS (SELECT g, v, i, n, (n * 1) // 5 AS tr FROM p),
      bd AS (SELECT g, max(CASE WHEN i = tr + 1 THEN v END) AS lo,
               max(CASE WHEN i = n - tr THEN v END) AS hi
             FROM p2 GROUP BY g),
      st AS (SELECT p2.g, max(n) AS nn, max(tr) AS gg,
               CAST(sum(CASE WHEN i > tr AND i <= n - tr THEN v END)
                 AS BIGINT) AS tsum,
               sum(CAST(least(greatest(v, lo), hi) AS HUGEINT)) AS wsum,
               sum(CAST(least(greatest(v, lo), hi) AS HUGEINT)
                 * least(greatest(v, lo), hi)) AS wsq
             FROM p2 JOIN bd USING (g) GROUP BY p2.g),
      st2 AS (SELECT g, nn, gg, tsum, nn - 2 * gg AS h,
               CAST(nn AS HUGEINT) * wsq - wsum * wsum AS ssn
             FROM st)
      SELECT a.nn AS n_a, b2.nn AS n_b, a.h AS h_a, b2.h AS h_b,
        a.tsum AS tsum_a, b2.tsum AS tsum_b,
        CASE WHEN a.h >= 2 AND b2.h >= 2 THEN
          CAST(floor(1000000.0
            * (CAST(a.tsum AS DOUBLE) / CAST(a.h AS DOUBLE)
              - CAST(b2.tsum AS DOUBLE) / CAST(b2.h AS DOUBLE))
            / sqrt(CAST(a.ssn AS DOUBLE)
                / (CAST(a.nn AS DOUBLE) * CAST(a.h AS DOUBLE)
                  * CAST(a.h - 1 AS DOUBLE))
              + CAST(b2.ssn AS DOUBLE)
                / (CAST(b2.nn AS DOUBLE) * CAST(b2.h AS DOUBLE)
                  * CAST(b2.h - 1 AS DOUBLE)))) AS BIGINT)
        END AS t_q
      FROM (SELECT * FROM st2 WHERE g = 'src0') a
      CROSS JOIN (SELECT * FROM st2 WHERE g = 'src1') b2"""))

  /** (q376) Seasonal/trend strength of the q247 decomposition
    * (TimeAgg.decompositionStrength scaladoc): Hyndman's F_S/F_T from
    * exact n-cleared variance numerators, one division + clamp each.
    */
  val q376DecompStrength = Q(
    "q376_a_decomp_strength",
    (s, dir) =>
      operators.TimeAgg.decompositionStrength(
        ev(s, dir).filter(col("event_type").isNotNull),
        "event_type", "ts_us"),
    Some(s"""
      WITH c AS (SELECT event_type, $EvUs // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS x
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      sp AS (SELECT event_type, min(d) AS lo, max(d) AS hi
             FROM c GROUP BY 1),
      grid AS (SELECT sp.event_type, u.day
               FROM sp, LATERAL unnest(range(lo, hi + 1)) u(day)),
      dn AS (SELECT g.event_type, g.day, coalesce(c.x, 0) AS x
             FROM grid g LEFT JOIN c
               ON c.event_type = g.event_type AND c.d = g.day),
      ma AS (SELECT event_type, day, x,
               count(*) OVER w AS wn,
               CAST(sum(x) OVER w AS BIGINT) AS s7
             FROM dn WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      f AS (SELECT event_type, day, x,
              (1000000 * s7) // 7 AS trend_q,
              1000000 * x - (1000000 * s7) // 7 AS detr_q,
              (day + 3) % 7 AS dow
            FROM ma WHERE wn = 7),
      se AS (SELECT event_type, dow,
               CAST(floor(CAST(sum(detr_q) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_q
             FROM f GROUP BY 1, 2),
      j AS (SELECT f.event_type, f.detr_q,
              f.detr_q - se.seasonal_q AS resid_q,
              1000000 * f.x - se.seasonal_q AS tr
            FROM f JOIN se USING (event_type, dow)),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(resid_q AS HUGEINT)) AS sr,
              sum(CAST(resid_q AS HUGEINT) * resid_q) AS sr2,
              sum(CAST(detr_q AS HUGEINT)) AS sd,
              sum(CAST(detr_q AS HUGEINT) * detr_q) AS sd2,
              sum(CAST(tr AS HUGEINT)) AS st,
              sum(CAST(tr AS HUGEINT) * tr) AS st2
            FROM j GROUP BY 1)
      SELECT event_type, n,
        CASE WHEN n * sd2 - sd * sd > 0 THEN
          CAST(floor(1000000.0 * greatest(0.0, 1.0
            - CAST(n * sr2 - sr * sr AS DOUBLE)
            / CAST(n * sd2 - sd * sd AS DOUBLE))) AS BIGINT)
        END AS fs_q,
        CASE WHEN n * st2 - st * st > 0 THEN
          CAST(floor(1000000.0 * greatest(0.0, 1.0
            - CAST(n * sr2 - sr * sr AS DOUBLE)
            / CAST(n * st2 - st * st AS DOUBLE))) AS BIGINT)
        END AS ft_q
      FROM a ORDER BY event_type"""))

  /** (q377) Entropy rate of the user event-type Markov chain
    * (TimeAgg.markovEntropyRate scaladoc): −Σ πᵢ p_ij ln p_ij with π
    * from the q317 integer power rounds — per-cell quantized terms.
    */
  val q377MarkovEntropy = Q(
    "q377_a_markov_entropy_rate",
    (s, dir) =>
      operators.TimeAgg.markovEntropyRate(ev(s, dir), "user_id",
        "ts_us", "event_type", "event_id", rounds = 5),
    Some {
      val iter = (p: String, o: String) => s"""
      $o AS (SELECT p.s,
               (CASE WHEN rt.f IS NOT NULL THEN 0 ELSE p.x END)
                 + coalesce(c.i, 0) AS x
             FROM $p p LEFT JOIN rt ON rt.f = p.s
             LEFT JOIN (
               SELECT tr.t AS s,
                 CAST(sum((CAST(p2.x AS HUGEINT) * tr.n) // rt2.r)
                   AS BIGINT) AS i
               FROM tr JOIN $p p2 ON p2.s = tr.f
               JOIN rt rt2 ON rt2.f = tr.f
               GROUP BY tr.t) c ON c.s = p.s)"""
      s"""
      WITH ev0 AS (SELECT user_id, event_id, event_type,
               CAST($EvUs AS BIGINT) AS us FROM events),
      nx AS (SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS t
             FROM ev0),
      tr AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
             FROM nx WHERE t IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT f, CAST(sum(n) AS BIGINT) AS r FROM tr GROUP BY f),
      st AS (SELECT DISTINCT event_type AS s FROM ev0
             WHERE event_type IS NOT NULL),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
      x0 AS (SELECT s, 1000000000000 // k AS x FROM st CROSS JOIN kk),
      ${iter("x0", "x1")},
      ${iter("x1", "x2")},
      ${iter("x2", "x3")},
      ${iter("x3", "x4")},
      ${iter("x4", "x5")},
      cells AS (SELECT tr.f, tr.t, tr.n, rt.r, p.x AS mass
                FROM tr JOIN rt USING (f) JOIN x5 p ON p.s = tr.f),
      terms AS (SELECT CAST(floor(1000000000.0
                  * ((CAST(mass AS DOUBLE) / 1000000000000.0)
                    * (CAST(n AS DOUBLE) / CAST(r AS DOUBLE)))
                  * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)))
                  AS BIGINT) AS tq
                FROM cells)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_states,
        (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
        (SELECT CAST(sum(tq) AS BIGINT) FROM terms) AS h_q"""
    })

  /** (q378) TwoNN intrinsic dimension of the embedding corpus
    * (Similarity.twoNN scaladoc): top-2 cosine neighbor distance
    * ratios, per-point quantized ln terms, the Facco MLE.
    */
  val q378TwoNN = Q(
    "q378_ann_twonn",
    (s, dir) =>
      Similarity.twoNN(t(s, dir, "embeddings"), "vec_id", "embedding"),
    Some(s"""
      WITH $KnnCte,
      r2 AS (SELECT query_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rn
             FROM knn),
      pv AS (SELECT query_id,
               max(CASE WHEN rn = 1 THEN cos END) AS c1,
               max(CASE WHEN rn = 2 THEN cos END) AS c2
             FROM r2 GROUP BY 1),
      tq AS (SELECT CAST(floor(1000000.0
               * ln((1.0 - c2) / (1.0 - c1))) AS BIGINT) AS term
             FROM pv
             WHERE c1 IS NOT NULL AND c2 IS NOT NULL AND c1 < 1.0),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_valid,
               CAST(sum(term) AS BIGINT) AS sum_logratio_q FROM tq)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
          AS n_points,
        n_valid, sum_logratio_q,
        CASE WHEN sum_logratio_q > 0 THEN
          CAST(floor(1000000.0
            * CAST(2000000 * n_valid AS DOUBLE)
            / CAST(sum_logratio_q AS DOUBLE)) AS BIGINT)
        END AS id_q
      FROM agg"""))

  /** (q379) Hellinger distance between src0 and src1's lang
    * distributions (Stats.hellingerDrift scaladoc): bounded corpus
    * drift, per-cell ⌊10⁹·√(p·q)⌋ terms, empty cells contribute 0.
    */
  val q379Hellinger = Q(
    "q379_a_hellinger_drift",
    (s, dir) =>
      operators.Stats.hellingerDrift(t(s, dir, "documents"), "source",
        "lang", "src0", "src1"),
    Some("""
      WITH cells AS (SELECT lang,
               CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                 AS BIGINT) AS ca,
               CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cb
             FROM documents
             WHERE source IN ('src0', 'src1') AND lang IS NOT NULL
             GROUP BY lang),
      tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM cells),
      terms AS (SELECT na, nb,
               CAST(floor(1000000000.0 * sqrt(
                 CAST(ca * cb AS DOUBLE) / CAST(na * nb AS DOUBLE)))
                 AS BIGINT) AS t
             FROM cells CROSS JOIN tot)
      SELECT na AS n_a, nb AS n_b, CAST(count(*) AS BIGINT) AS n_cells,
        CAST(sum(t) AS BIGINT) AS bc_q,
        CASE WHEN na > 0 AND nb > 0 THEN
          CAST(floor(1000000.0 * sqrt(1.0
            - CAST(sum(t) AS DOUBLE) / 1000000000.0)) AS BIGINT)
        END AS hellinger_q
      FROM terms GROUP BY na, nb"""))

  /** (q380) Blomqvist's β of (n_chars, whitespace token count)
    * (Stats.blomqvistBeta scaladoc): quadrant concordance around the
    * two lower medians; on-median points excluded and counted.
    */
  val q380Blomqvist = Q(
    "q380_a_blomqvist_beta",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val blank = length(trim(col("text"))) === 0
      operators.Stats.blomqvistBeta(
        d.select(col("n_chars"),
          when(blank, lit(0L))
            .otherwise(TextFns.tokenCount(col("text")).cast("long"))
            .as("n_tok")),
        "n_chars", "n_tok")
    },
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) AS x,
               CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(regexp_split_to_array(lower(trim(text)),
                   '\s+')) AS BIGINT) END AS y
             FROM documents
             WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      mx AS (SELECT min(v) AS medx FROM (
               SELECT v, sum(c) OVER (ORDER BY v) AS cum, n FROM (
                 SELECT x AS v, count(*) AS c FROM b GROUP BY x)
               CROSS JOIN (SELECT count(*) AS n FROM b))
             WHERE cum * 2 >= n),
      my AS (SELECT min(v) AS medy FROM (
               SELECT v, sum(c) OVER (ORDER BY v) AS cum, n FROM (
                 SELECT y AS v, count(*) AS c FROM b GROUP BY y)
               CROSS JOIN (SELECT count(*) AS n FROM b))
             WHERE cum * 2 >= n),
      q AS (SELECT CASE WHEN x = medx OR y = medy THEN 'on'
                  WHEN (x > medx) = (y > medy) THEN 'conc'
                  ELSE 'disc' END AS qd
            FROM b CROSS JOIN mx CROSS JOIN my)
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN qd = 'conc' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_conc,
        CAST(sum(CASE WHEN qd = 'disc' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_disc,
        CAST(sum(CASE WHEN qd = 'on' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_on,
        CASE WHEN sum(CASE WHEN qd IN ('conc', 'disc') THEN 1 ELSE 0 END) > 0
          THEN CAST(floor(1000000.0
            * CAST(sum(CASE WHEN qd = 'conc' THEN 1 ELSE 0 END)
              - sum(CASE WHEN qd = 'disc' THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(sum(CASE WHEN qd = 'conc' THEN 1 ELSE 0 END)
              + sum(CASE WHEN qd = 'disc' THEN 1 ELSE 0 END) AS DOUBLE))
            AS BIGINT)
        END AS beta_q
      FROM q"""))

  /** (q381) Lin's concordance of the whitespace token count vs the
    * subword count (Stats.linCcc scaladoc): is the cheap tokenizer
    * interchangeable with the subword-ish one — n²-cleared integer
    * rational, one division (r alone would bless the scale offset).
    */
  val q381LinCcc = Q(
    "q381_ml_lin_ccc",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val blank = length(trim(col("text"))) === 0
      wideStr(operators.Stats.linCcc(
        d.select(
          when(blank, lit(0L))
            .otherwise(TextFns.tokenCount(col("text")).cast("long"))
            .as("n_tok"),
          TextFns.subwordCount(col("text")).cast("long").as("n_sub")),
        "n_tok", "n_sub"), "a2_l", "den_l")
    },
    Some("""
      WITH b AS (SELECT
               CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(regexp_split_to_array(lower(trim(text)),
                   '\s+')) AS BIGINT) END AS x,
               CAST(len(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> len(t) > 0)) AS BIGINT) AS y
             FROM documents WHERE text IS NOT NULL),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n,
              sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy,
              sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM b)
      SELECT n, CAST(2 * (n * sxy - sx * sy) AS VARCHAR) AS a2_l,
        CAST((n * sxx - sx * sx) + (n * syy - sy * sy)
          + (sx - sy) * (sx - sy) AS VARCHAR) AS den_l,
        CASE WHEN (n * sxx - sx * sx) + (n * syy - sy * sy)
            + (sx - sy) * (sx - sy) > 0 THEN
          CAST(floor(1000000.0
            * CAST(2 * (n * sxy - sx * sy) AS DOUBLE)
            / CAST((n * sxx - sx * sx) + (n * syy - sy * sy)
              + (sx - sy) * (sx - sy) AS DOUBLE)) AS BIGINT)
        END AS ccc_q
      FROM s"""))

  /** (q382) Average-neighbor-degree curve of the mutual 5-NN graph
    * (Graph.avgNeighborDegree scaladoc): the per-degree mixing
    * profile behind q312's assortativity scalar.
    */
  val q382AvgNbrDeg = Q(
    "q382_g_avg_neighbor_degree",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.avgNeighborDegree(operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id"))))
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS dg
              FROM sym GROUP BY 1),
      st AS (SELECT sym.a, sym.b, da.dg AS dga, db.dg AS dgb
             FROM sym JOIN deg da ON da.v = sym.a
             JOIN deg db ON db.v = sym.b)
      SELECT dga AS k, CAST(count(DISTINCT a) AS BIGINT) AS n_nodes,
        CAST(sum(dgb) AS BIGINT) AS sum_nbr_deg,
        CAST(floor(1000000.0 * CAST(sum(dgb) AS DOUBLE)
          / CAST(dga * count(DISTINCT a) AS DOUBLE)) AS BIGINT)
          AS knn_q
      FROM st GROUP BY dga ORDER BY k"""))

  /** (q383) Seasonal-residual outlier days: Tukey fences over the
    * q247 decomposition residuals per event type — "which days were
    * anomalous AFTER weekday seasonality is priced out", the
    * composition the raw-count fences (q330) get wrong every Monday.
    */
  val q383SeasonalOutliers = Q(
    "q383_a_seasonal_residual_outliers",
    (s, dir) => {
      val decomp = operators.TimeAgg.seasonalDecompose(
        ev(s, dir).filter(col("event_type").isNotNull),
        "event_type", "ts_us")
      operators.Robust.tukeyFences(decomp, "event_type", "resid_q")
        .orderBy("event_type")
    },
    Some(s"""
      WITH c AS (SELECT event_type, $EvUs // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS x
             FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      sp AS (SELECT event_type, min(d) AS lo, max(d) AS hi
             FROM c GROUP BY 1),
      grid AS (SELECT sp.event_type, u.day
               FROM sp, LATERAL unnest(range(lo, hi + 1)) u(day)),
      dn AS (SELECT g.event_type, g.day, coalesce(c.x, 0) AS x
             FROM grid g LEFT JOIN c
               ON c.event_type = g.event_type AND c.d = g.day),
      ma AS (SELECT event_type, day, x,
               count(*) OVER w AS wn,
               CAST(sum(x) OVER w AS BIGINT) AS s7
             FROM dn WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      f AS (SELECT event_type, day, x,
              1000000 * x - (1000000 * s7) // 7 AS detr_q,
              (day + 3) % 7 AS dow
            FROM ma WHERE wn = 7),
      se AS (SELECT event_type, dow,
               CAST(floor(CAST(sum(detr_q) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_q
             FROM f GROUP BY 1, 2),
      r AS (SELECT f.event_type, f.detr_q - se.seasonal_q AS v
            FROM f JOIN se USING (event_type, dow)),
      gv AS (SELECT event_type AS g, v, CAST(count(*) AS BIGINT) AS c
             FROM r GROUP BY 1, 2),
      cum AS (SELECT g, v, c,
               CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                 AS cum,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
             FROM gv),
      q1 AS (SELECT g, min(v) AS q1, min(n) AS n FROM cum
             WHERE cum * 4 >= n GROUP BY g),
      q2 AS (SELECT g, min(v) AS median FROM cum
             WHERE cum * 2 >= n GROUP BY g),
      q3 AS (SELECT g, min(v) AS q3 FROM cum
             WHERE cum * 4 >= n * 3 GROUP BY g),
      qs AS (SELECT q1.g, q1.n, q1.q1, q2.median, q3.q3
             FROM q1 JOIN q2 ON q2.g = q1.g JOIN q3 ON q3.g = q1.g)
      SELECT gv.g AS event_type, qs.n, qs.q1, qs.median, qs.q3,
        CAST(sum(CASE WHEN 2 * v < 2 * qs.q1 - 3 * (qs.q3 - qs.q1)
          THEN c ELSE 0 END) AS BIGINT) AS n_low,
        CAST(sum(CASE WHEN 2 * v > 2 * qs.q3 + 3 * (qs.q3 - qs.q1)
          THEN c ELSE 0 END) AS BIGINT) AS n_high
      FROM gv JOIN qs ON qs.g = gv.g
      GROUP BY 1, 2, 3, 4, 5 ORDER BY event_type"""))

  /** (q384) Moran's I + Geary's C of the stored label over the mutual
    * 5-NN graph (Graph.spatialAutocorrelation scaladoc): the
    * label-homophily audit — integer mean-clearing, two exact folds,
    * one division each.
    */
  val q384SpatialAutocorr = Q(
    "q384_g_spatial_autocorr",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      wideStr(operators.Graph.spatialAutocorrelation(
        operators.Graph.mutualEdges(
          knn.select(col("query_id"), col("neighbor_id"))),
        emb.select(col("vec_id"), col("label"))),
        "num_i_l", "num_c_l", "den_l")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      v AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS x
            FROM embeddings WHERE label IS NOT NULL),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS HUGEINT)) AS S FROM v),
      z AS (SELECT id, x, n, CAST(n AS HUGEINT) * x - S AS z
            FROM v CROSS JOIN tt),
      folds AS (SELECT CAST(count(*) AS BIGINT) AS w_l,
               sum(za.z * zb.z) AS num_i_l,
               sum(CAST(za.n AS HUGEINT) * za.n
                 * (za.x - zb.x) * (za.x - zb.x)) AS num_c_l
             FROM sym JOIN z za ON za.id = sym.a
             JOIN z zb ON zb.id = sym.b),
      dd AS (SELECT max(n) AS n, sum(z * z) AS den_l FROM z)
      SELECT n, w_l, CAST(num_i_l AS VARCHAR) AS num_i_l,
        CAST(num_c_l AS VARCHAR) AS num_c_l,
        CAST(den_l AS VARCHAR) AS den_l,
        CASE WHEN den_l > 0 AND w_l > 0 THEN
          CAST(floor(1000000.0 * CAST(n * num_i_l AS DOUBLE)
            / CAST(w_l * den_l AS DOUBLE)) AS BIGINT)
        END AS moran_q,
        CASE WHEN den_l > 0 AND w_l > 0 THEN
          CAST(floor(1000000.0 * CAST((n - 1) * num_c_l AS DOUBLE)
            / CAST(2 * w_l * den_l AS DOUBLE)) AS BIGINT)
        END AS geary_q
      FROM dd CROSS JOIN folds"""))

  /** (q385) Quantile–quantile drift profile of n_chars, src2 vs src3
    * (Robust.qqDrift scaladoc): all 19 vigintile gaps — the
    * where-did-it-shift companion to q363/q364's single numbers.
    */
  val q385QqDrift = Q(
    "q385_a_qq_drift",
    (s, dir) =>
      operators.Robust.qqDrift(t(s, dir, "documents"), "source",
        "n_chars", "src2", "src3"),
    Some("""
      WITH b AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
             FROM documents
             WHERE source IN ('src2', 'src3') AND n_chars IS NOT NULL),
      cum AS (SELECT g, v, c,
               CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                 AS cum,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
             FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                   FROM b GROUP BY 1, 2)),
      ps AS (SELECT CAST(p.p AS BIGINT) AS p
             FROM (SELECT unnest(range(1, 20)) AS p) p),
      quant AS (SELECT g, p, min(v) AS q
                FROM cum CROSS JOIN ps
                WHERE cum * 20 >= p * n GROUP BY 1, 2)
      SELECT a.p, a.q AS q_a, b2.q AS q_b, a.q - b2.q AS gap
      FROM (SELECT p, q FROM quant WHERE g = 'src2') a
      JOIN (SELECT p, q FROM quant WHERE g = 'src3') b2 USING (p)
      ORDER BY p"""))

  /** (q386) Van Elteren stratified rank test: src0 vs src1 n_chars
    * within lang strata (Stats.vanElteren scaladoc) — per-stratum
    * doubled-midrank Wilcoxon, locally-best weights, tie-corrected.
    */
  val q386VanElteren = Q(
    "q386_a_van_elteren",
    (s, dir) =>
      operators.Stats.vanElteren(t(s, dir, "documents"), "lang",
        "source", "n_chars", "src0", "src1"),
    Some("""
      WITH grid AS (SELECT lang AS s, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                 AS BIGINT) AS ca
             FROM documents
             WHERE source IN ('src0', 'src1') AND lang IS NOT NULL
               AND n_chars IS NOT NULL
             GROUP BY 1, 2),
      rk AS (SELECT s, v, c, ca,
               coalesce(sum(c) OVER (PARTITION BY s ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS lt
             FROM grid),
      st AS (SELECT s, CAST(sum(c) AS BIGINT) AS nt,
               CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(ca * (2 * lt + c + 1)) AS BIGINT) AS W2,
               sum(CAST(c AS HUGEINT) * c * c - c) AS TS
             FROM rk GROUP BY s),
      terms AS (SELECT
              CAST(floor(1000000000.0
                * CAST(W2 - na * (nt + 1) AS DOUBLE)
                / CAST(nt + 1 AS DOUBLE)) AS BIGINT) AS dq,
              CASE WHEN nt >= 2 THEN
                CAST(floor(1000000000.0
                  * CAST(CAST(na AS HUGEINT) * (nt - na)
                    * (CAST(nt AS HUGEINT) * (nt - 1) * (nt + 1) - TS)
                    AS DOUBLE)
                  / CAST(CAST(3 AS HUGEINT) * nt * (nt - 1) * (nt + 1)
                    * (nt + 1) AS DOUBLE)) AS BIGINT)
              ELSE 0 END AS vq
            FROM st)
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
        CAST(sum(dq) AS BIGINT) AS d_sum_q,
        CAST(sum(vq) AS BIGINT) AS v_sum_q,
        CASE WHEN sum(vq) > 0 THEN
          CAST(floor(1000000.0 * CAST(sum(dq) AS DOUBLE)
            / sqrt(1000000000.0 * CAST(sum(vq) AS DOUBLE))) AS BIGINT)
        END AS z_q
      FROM terms"""))

  /** (q387) Upper-tail dependence of (n_chars, whitespace token
    * count) at the 90th percentile (Stats.tailDependence scaladoc):
    * co-extreme counts, λ_U and the independence-excess ratio.
    */
  val q387TailDependence = Q(
    "q387_a_tail_dependence",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val blank = length(trim(col("text"))) === 0
      operators.Stats.tailDependence(
        d.select(col("n_chars"),
          when(blank, lit(0L))
            .otherwise(TextFns.tokenCount(col("text")).cast("long"))
            .as("n_tok")),
        "n_chars", "n_tok")
    },
    Some("""
      WITH b AS (SELECT CAST(n_chars AS BIGINT) AS x,
               CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(regexp_split_to_array(lower(trim(text)),
                   '\s+')) AS BIGINT) END AS y
             FROM documents
             WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      qx AS (SELECT min(v) AS qx FROM (
               SELECT v, sum(c) OVER (ORDER BY v) AS cum, n FROM (
                 SELECT x AS v, CAST(count(*) AS BIGINT) AS c
                 FROM b GROUP BY x)
               CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM b))
             WHERE cum * 10 >= 9 * n),
      qy AS (SELECT min(v) AS qy FROM (
               SELECT v, sum(c) OVER (ORDER BY v) AS cum, n FROM (
                 SELECT y AS v, CAST(count(*) AS BIGINT) AS c
                 FROM b GROUP BY y)
               CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM b))
             WHERE cum * 10 >= 9 * n),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
               max(qx) AS q_x, max(qy) AS q_y,
               CAST(sum(CASE WHEN x > qx THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_x,
               CAST(sum(CASE WHEN y > qy THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_y,
               CAST(sum(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_joint
             FROM b CROSS JOIN qx CROSS JOIN qy)
      SELECT n, q_x, q_y, n_x, n_y, n_joint,
        CASE WHEN n > 0 THEN
          CAST(floor(1000000.0 * CAST(10 * n_joint AS DOUBLE)
            / CAST(n * 1 AS DOUBLE)) AS BIGINT)
        END AS lambda_q,
        CASE WHEN n_x > 0 AND n_y > 0 THEN
          CAST(floor(1000000.0 * CAST(n_joint * n AS DOUBLE)
            / CAST(n_x * n_y AS DOUBLE)) AS BIGINT)
        END AS ratio_q
      FROM ag"""))

  /** (q388) Kaplan–Meier with Greenwood standard errors over the
    * inter-event durations (TimeAgg.kmGreenwood scaladoc): the q238
    * curve plus the cumulative Greenwood sum and per-step se.
    */
  val q388KmGreenwood = Q(
    "q388_a_km_greenwood",
    (s, dir) =>
      operators.TimeAgg.kmGreenwood(
        operators.TimeAgg.interEventDurations(ev(s, dir), "user_id",
          "event_id", "ts_us"), "__t", "__obs")
        .orderBy("t_days"),
    Some(s"""
      WITH ev0 AS (SELECT user_id, event_id,
               CAST($EvUs AS BIGINT) AS us FROM events),
      mx AS (SELECT max(us) AS mx FROM ev0),
      su AS (SELECT us, lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC, event_id ASC) AS nxt
             FROM ev0),
      du AS (SELECT CASE WHEN nxt IS NOT NULL
                 THEN (nxt - us) // 86400000000
                 ELSE (mx - us) // 86400000000 END AS t_days,
               nxt IS NOT NULL AS obs
             FROM su CROSS JOIN mx),
      g AS (SELECT t_days,
              CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                AS d_events,
              CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
            FROM du GROUP BY 1),
      r AS (SELECT *,
              CAST(sum(d_events + n_censored) OVER () AS BIGINT)
                - coalesce(CAST(sum(d_events + n_censored) OVER (
                    ORDER BY t_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n_risk
            FROM g),
      q AS (SELECT *,
              CASE WHEN d_events = 0 THEN 0
                   WHEN d_events < n_risk THEN
                CAST(floor(1000000000000.0
                  * ln(CAST(n_risk - d_events AS DOUBLE)
                    / CAST(n_risk AS DOUBLE))) AS BIGINT)
              END AS lnq,
              CASE WHEN d_events = 0 THEN 0
                   WHEN d_events < n_risk THEN
                CAST(floor(1000000000000.0
                  * CAST(d_events AS DOUBLE)
                  / CAST(n_risk * (n_risk - d_events) AS DOUBLE))
                  AS BIGINT)
              END AS gterm,
              max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) OVER (
                ORDER BY t_days ASC) AS dead
            FROM r),
      f AS (SELECT t_days, n_risk, d_events, n_censored,
              CASE WHEN dead = 1 THEN 0
                ELSE CAST(floor(1000000.0 * exp(
                  CAST(sum(lnq) OVER (ORDER BY t_days ASC) AS DOUBLE)
                    / 1000000000000.0)) AS BIGINT)
              END AS surv_q,
              CAST(sum(gterm) OVER (ORDER BY t_days ASC) AS BIGINT)
                AS g_cum_l
            FROM q)
      SELECT t_days, n_risk, d_events, n_censored, surv_q, g_cum_l,
        CASE WHEN surv_q = 0 THEN 0
          ELSE CAST(floor(CAST(surv_q AS DOUBLE)
            * sqrt(CAST(g_cum_l AS DOUBLE) / 1000000000000.0))
            AS BIGINT)
        END AS se_q
      FROM f ORDER BY t_days"""))

  /** (q389) Degree-inequality audit of the mutual 5-NN graph: Gini
    * of the degree distribution (Stats.gini over Graph degrees) —
    * high inequality flags hub-dominated similarity structure.
    */
  val q389DegreeGini = Q(
    "q389_g_degree_gini",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      val e = operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id")))
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val deg = sym.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("degree"))
        .select(lit("knn").as("g"), col("id"), col("degree"))
      operators.Stats.gini(deg, "g", "id", "degree")
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS w
              FROM sym GROUP BY 1),
      rk AS (SELECT w,
               CAST(row_number() OVER (ORDER BY w ASC, id ASC)
                 AS BIGINT) AS i
             FROM deg),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(w) AS BIGINT) AS total,
               CAST(sum(CAST(i AS HUGEINT) * w) AS HUGEINT) AS sw
             FROM rk)
      SELECT 'knn' AS g, n, total,
        CASE WHEN total > 0 THEN
          CAST(floor(1000000.0 *
            CAST(2 * sw - (CAST(n AS HUGEINT) + 1) * total AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * total AS DOUBLE)) AS BIGINT)
        END AS gini_q
      FROM ag"""))

  /** (q390) IPF raking weights toward uniform source × lang marginals
    * (Packing.ipfWeights scaladoc): 3 integer-grid rounds, the oracle
    * unrolls every half-step.
    */
  val q390IpfWeights = Q(
    "q390_s_ipf_weights",
    (s, dir) =>
      operators.Packing.ipfWeights(t(s, dir, "documents"), "source",
        "lang", rounds = 3),
    Some {
      val rowStep = (p: String, o: String, m: String) => s"""
      $m AS (SELECT r, sum(CAST(cnt AS HUGEINT) * w) AS mass
             FROM $p GROUP BY r),
      $o AS (SELECT p.r, p.c, p.cnt,
               (CAST(w AS HUGEINT) * tot * 1000000)
                 // (CAST(nr AS HUGEINT) * mass) AS w
             FROM $p p JOIN $m USING (r) CROSS JOIN tt)"""
      val colStep = (p: String, o: String, m: String) => s"""
      $m AS (SELECT c, sum(CAST(cnt AS HUGEINT) * w) AS mass
             FROM $p GROUP BY c),
      $o AS (SELECT p.r, p.c, p.cnt,
               (CAST(w AS HUGEINT) * tot * 1000000)
                 // (CAST(nc AS HUGEINT) * mass) AS w
             FROM $p p JOIN $m USING (c) CROSS JOIN tt)"""
      s"""
      WITH cells AS (SELECT source AS r, lang AS c,
               CAST(count(*) AS BIGINT) AS cnt
             FROM documents
             WHERE source IS NOT NULL AND lang IS NOT NULL
             GROUP BY 1, 2),
      tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
               CAST(count(DISTINCT r) AS BIGINT) AS nr,
               CAST(count(DISTINCT c) AS BIGINT) AS nc FROM cells),
      w0 AS (SELECT r, c, cnt, CAST(1000000 AS HUGEINT) AS w
             FROM cells),
      ${rowStep("w0", "w1", "m1")},
      ${colStep("w1", "w2", "m2")},
      ${rowStep("w2", "w3", "m3")},
      ${colStep("w3", "w4", "m4")},
      ${rowStep("w4", "w5", "m5")},
      ${colStep("w5", "w6", "m6")}
      SELECT r AS source, c AS lang, cnt AS n, CAST(w AS BIGINT) AS w_q
      FROM w6 ORDER BY source, lang"""
    })

  /** (q391) Join-count statistics of the odd-label flag over the
    * mutual 5-NN graph (Graph.joinCounts scaladoc): BB/BW/WW edge
    * counts vs permutation-null expectations — binary homophily.
    */
  val q391JoinCounts = Q(
    "q391_g_join_counts",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.joinCounts(
        operators.Graph.mutualEdges(
          knn.select(col("query_id"), col("neighbor_id"))),
        emb.select(col("vec_id"), col("label") % 2))
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      v AS (SELECT vec_id AS id,
               CASE WHEN CAST(label AS BIGINT) % 2 <> 0 THEN 1
                 ELSE 0 END AS bflag
             FROM embeddings WHERE label IS NOT NULL),
      ej AS (SELECT va.bflag AS ba, vb.bflag AS b2
             FROM mut JOIN v va ON va.id = mut.a
             JOIN v vb ON vb.id = mut.b),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS vn,
               CAST(sum(bflag) AS BIGINT) AS v1 FROM v),
      f AS (SELECT CAST(count(*) AS BIGINT) AS w_edges,
              CAST(sum(ba * b2) AS BIGINT) AS bb,
              CAST(sum(CASE WHEN ba <> b2 THEN 1 ELSE 0 END) AS BIGINT)
                AS bw,
              CAST(sum((1 - ba) * (1 - b2)) AS BIGINT) AS ww
            FROM ej)
      SELECT vn AS n, v1 AS n1, w_edges, bb, bw, ww,
        CASE WHEN vn >= 2 THEN
          CAST(floor(1000000.0
            * CAST(CAST(w_edges AS HUGEINT) * v1 * (v1 - 1) AS DOUBLE)
            / CAST(CAST(vn AS HUGEINT) * (vn - 1) AS DOUBLE))
            AS BIGINT) END AS e_bb_q,
        CASE WHEN vn >= 2 THEN
          CAST(floor(1000000.0
            * CAST(CAST(2 AS HUGEINT) * w_edges * v1 * (vn - v1)
              AS DOUBLE)
            / CAST(CAST(vn AS HUGEINT) * (vn - 1) AS DOUBLE))
            AS BIGINT) END AS e_bw_q,
        CASE WHEN vn >= 2 THEN
          CAST(floor(1000000.0
            * CAST(CAST(w_edges AS HUGEINT) * (vn - v1) * (vn - v1 - 1)
              AS DOUBLE)
            / CAST(CAST(vn AS HUGEINT) * (vn - 1) AS DOUBLE))
            AS BIGINT) END AS e_ww_q
      FROM f CROSS JOIN tt"""))

  /** (q392) Local Moran's I hotspots of the stored label over the
    * mutual 5-NN graph (Graph.localMoran scaladoc): the per-vertex
    * LISA table behind q384's global number — top 30 by |lisa|.
    */
  val q392LocalMoran = Q(
    "q392_g_local_moran",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.localMoran(
        operators.Graph.mutualEdges(
          knn.select(col("query_id"), col("neighbor_id"))),
        emb.select(col("vec_id"), col("label")), topK = 30)
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      v AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS x
            FROM embeddings WHERE label IS NOT NULL),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS vn,
               sum(CAST(x AS HUGEINT)) AS S FROM v),
      z AS (SELECT id, x, CAST(vn AS HUGEINT) * x - S AS zz
            FROM v CROSS JOIN tt),
      dd AS (SELECT sum(zz * zz) AS den FROM z),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      nbr AS (SELECT sym.a AS id, CAST(count(*) AS BIGINT) AS degree,
               sum(zb.zz) AS zsum
             FROM sym JOIN z zb ON zb.id = sym.b GROUP BY sym.a)
      SELECT z.id, z.x, nbr.degree,
        CAST(floor(1000000.0 * CAST(z.zz * zsum AS DOUBLE)
          / CAST(den AS DOUBLE)) AS BIGINT) AS lisa_q
      FROM z JOIN nbr ON nbr.id = z.id CROSS JOIN dd
      WHERE den > 0
      ORDER BY abs(lisa_q) DESC, z.id LIMIT 30"""))

  /** (q393) Hill tail index of the mutual 5-NN DEGREE distribution
    * (Robust.hillTail on Graph degrees): is the similarity graph
    * hub-dominated — the q224 estimator pointed at graph structure.
    */
  val q393DegreeHill = Q(
    "q393_g_degree_hill",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      val e = operators.Graph.mutualEdges(
        knn.select(col("query_id"), col("neighbor_id")))
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val deg = sym.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("degree"))
        .select(lit("knn").as("g"), col("degree"))
      operators.Robust.hillTail(deg, "g", "degree", k = 20)
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      sym AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
      deg AS (SELECT 'knn' AS g, CAST(count(*) AS BIGINT) AS v
              FROM sym GROUP BY a),
      r2 AS (SELECT g, v, row_number() OVER (PARTITION BY g
               ORDER BY v DESC) AS rn
             FROM deg WHERE v > 0),
      top AS (SELECT * FROM r2 WHERE rn <= 21),
      rf AS (SELECT g, CAST(min(v) AS BIGINT) AS ref,
               CAST(count(*) AS BIGINT) AS n
             FROM top GROUP BY g HAVING count(*) >= 2),
      t AS (SELECT top.g, CAST(count(*) AS BIGINT) AS n_tail,
              any_value(rf.ref) AS x_ref,
              CAST(sum(CAST(floor(1000000000000.0
                * ln(CAST(top.v AS DOUBLE) / CAST(rf.ref AS DOUBLE)))
                AS BIGINT)) AS BIGINT) AS hsum
            FROM top JOIN rf USING (g)
            WHERE top.rn < rf.n GROUP BY top.g)
      SELECT g, n_tail, x_ref, hsum // n_tail AS hill_q,
        CASE WHEN hsum // n_tail > 0 THEN
          CAST(1000000000000000000000000::HUGEINT // (hsum // n_tail)
            AS BIGINT)
        END AS alpha_q
      FROM t"""))

  /** (q394) Reciprocity of the directed 5-NN graph
    * (Graph.reciprocity scaladoc): what share of neighbor claims are
    * returned — the one-number hubness headline for q283.
    */
  val q394Reciprocity = Q(
    "q394_g_reciprocity",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.cosineTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      operators.Graph.reciprocity(
        knn.select(col("query_id"), col("neighbor_id")))
    },
    Some(s"""
      WITH $KnnCte,
      d AS (SELECT DISTINCT query_id AS a, neighbor_id AS b FROM knn),
      mut AS (SELECT d.a, d.b FROM d
              WHERE EXISTS (SELECT 1 FROM d r
                  WHERE r.a = d.b AND r.b = d.a)
                AND d.a < d.b),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_directed FROM d),
      nm AS (SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM mut)
      SELECT n_directed, n_mutual,
        CASE WHEN n_directed > 0 THEN
          CAST(floor(1000000.0 * CAST(2 * n_mutual AS DOUBLE)
            / CAST(n_directed AS DOUBLE)) AS BIGINT)
        END AS reciprocity_q
      FROM nd CROSS JOIN nm"""))

  /** (q395) Training data map: held-out probabilities at iteration 2
    * vs 3 of the q85 quantized trainer — Swayamdipta-style training
    * dynamics ("crossed" = the decision flipped between checkpoints,
    * the ambiguity flag used to triage label noise). The batch
    * trainer's iteration-t state is a pure function of iteration
    * t−1, so train(maxIter=2) IS the 3-iteration run's prefix —
    * the engine trains twice while the oracle reads two rows of the
    * SAME recursive CTE (the checkpoint-extraction contract this
    * gate exists to pin). ORACLE-COST CONTRACT (round 11): checkpoints
    * 2-vs-3 and the doc_id % 8 = 0 training cap replace round 10's
    * 10-vs-30 on the even half, whose DuckDB replay alone exceeded
    * 240 s at sf0.001 and zeroed the driver board; the prefix
    * contract is iteration-count-invariant, so 2-vs-3 pins the same
    * property at ~1/30th the oracle cost (measured ~8 s).
    */
  val q395DataMap = Q(
    "q395_ml_training_data_map",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val kw = array_contains(TextFns.tokens(col("text")), "spark")
      val train = docs.filter(col("doc_id") % 8 === 0)
        .withColumn("label", coalesce(kw, lit(false)).cast("double"))
      def fit(iters: Int) = operators.QualityClassifier.trainQuantized(
        train, "text", "label",
        numFeatures = 1 << 15, maxIter = iters, stepSize = 2.0,
        maskTerms = Set("spark"), portable = true)
      val held = docs.filter(col("doc_id") % 2 === 1)
      val early = operators.QualityClassifier.scoreQuantized(
        held, fit(2), "text", maskTerms = Set("spark"), portable = true)
        .select(col("doc_id"), kw.as("has_kw"),
          round(col("quality_prob"), 9).as("p_early"))
      val late = operators.QualityClassifier.scoreQuantized(
        held, fit(3), "text", maskTerms = Set("spark"), portable = true)
        .select(col("doc_id"), round(col("quality_prob"), 9).as("p_late"))
      early.join(late, Seq("doc_id"))
        .select(col("doc_id"), col("has_kw"), col("p_early"),
          col("p_late"),
          ((col("p_early") >= 0.5) =!= (col("p_late") >= 0.5))
            .as("crossed"),
          (col("has_kw") === (col("p_late") >= 0.5)).as("late_correct"))
        .orderBy("doc_id")
    },
    Some("""
WITH RECURSIVE
      t0 AS (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS rawt,
               list_filter(coalesce(
                   regexp_split_to_array(lower(trim(text)), '\s+'), []),
                 t -> t <> 'spark') AS u,
               doc_id % 8 = 0 AS is_train
             FROM documents),
      tt AS (SELECT doc_id, is_train,
               CASE WHEN len(u) >= 2 THEN u ||
                 list_transform(range(1, len(u)), i -> u[i] || ' ' || u[i+1])
                 ELSE u END AS terms,
               CASE WHEN list_contains(rawt, 'spark') THEN 1.0
                 ELSE 0.0 END AS label,
               list_contains(rawt, 'spark') AS has_kw
             FROM t0),
      tb AS (SELECT doc_id, is_train, label, len(terms) AS n_d,
               ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 32768 AS b
             FROM tt, LATERAL unnest(terms) AS t(term)),
      tokc AS (SELECT doc_id, label, n_d, b,
                 CAST(count(*) AS BIGINT) AS mult
               FROM tb WHERE is_train GROUP BY 1, 2, 3, 4),
      docs0 AS (SELECT doc_id, label, CAST(0 AS BIGINT) AS n_d,
                  CAST(NULL AS BIGINT) AS b, CAST(0 AS BIGINT) AS mult
                FROM tt WHERE is_train AND len(terms) = 0),
      tok AS (SELECT * FROM tokc UNION ALL SELECT * FROM docs0),
      slots AS (SELECT b, CAST(row_number() OVER (ORDER BY b) AS INT) AS s
                FROM (SELECT DISTINCT b FROM tokc)),
      toks AS (SELECT tok.doc_id, CAST(tok.label AS DOUBLE) AS label,
                 tok.n_d, slots.s, tok.mult
               FROM tok LEFT JOIN slots USING (b)),
      ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n
              FROM tt WHERE is_train),
      st AS (
        SELECT 0 AS it,
          list_transform(range(1, (SELECT count(*) FROM slots) + 1),
            i -> CAST(0.0 AS DOUBLE)) AS cs,
          CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS wl
        UNION ALL
        SELECT st.it + 1, g.ncs,
          st.b0 - 2.0 * ((CAST(g.g0 AS DOUBLE) / 1048576.0) / g.n),
          st.wl - 2.0 * ((CAST(g.g1 AS DOUBLE) / 1048576.0) / g.n)
        FROM st, LATERAL (
          WITH cw AS (
            SELECT CAST(generate_subscripts(st.cs, 1) AS INT) AS s,
              unnest(st.cs) AS c),
          m AS (
            SELECT t.doc_id, t.label, t.n_d, t.s, t.mult,
              CASE WHEN t.s IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(cw.c * 1073741824.0) AS BIGINT)
              END AS cq
            FROM toks t LEFT JOIN cw ON cw.s = t.s),
          d AS (
            SELECT *,
              SUM(cq * mult) OVER (PARTITION BY doc_id) AS sqd,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY s NULLS FIRST) AS rn
            FROM m),
          rr AS (
            SELECT *,
              1.0 / (1.0 + exp(-(CASE WHEN n_d = 0 THEN st.b0
                ELSE (st.b0 + st.wl * ln(1.0 + CAST(n_d AS DOUBLE)))
                  + (CAST(sqd AS DOUBLE) / 1073741824.0)
                    / CAST(n_d AS DOUBLE) END))) - label AS res
            FROM d),
          gg AS (
            SELECT
              CAST(sum(CASE WHEN rn = 1
                THEN CAST(floor(res * 1048576.0) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS g0,
              CAST(sum(CASE WHEN rn = 1 AND n_d > 0
                THEN CAST(floor(res * ln(1.0 + CAST(n_d AS DOUBLE))
                  * 1048576.0) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS g1
            FROM rr),
          gs AS (
            SELECT s, CAST(sum(CAST(floor(res / CAST(n_d AS DOUBLE)
                * 16777216.0) AS BIGINT) * mult) AS BIGINT) AS gj
            FROM rr WHERE s IS NOT NULL GROUP BY s),
          nc AS (
            SELECT cw.s,
              cw.c - 2.0 * ((CAST(coalesce(gs.gj, 0) AS DOUBLE)
                / 16777216.0) / (SELECT n FROM ntr)
                + 0.001 * cw.c) AS cnew
            FROM cw LEFT JOIN gs ON gs.s = cw.s)
          SELECT (SELECT list(cnew ORDER BY s) FROM nc) AS ncs,
            (SELECT g0 FROM gg) AS g0, (SELECT g1 FROM gg) AS g1,
            (SELECT n FROM ntr) AS n
        ) AS g
        WHERE st.it < 3),
      fEarly AS (SELECT cs, b0, wl FROM st WHERE it = 2),
      fLate AS (SELECT cs, b0, wl FROM st WHERE it = 3),
      sb AS (SELECT tt.doc_id, tt.has_kw, len(tt.terms) AS n_d,
               slots.s
             FROM tt, LATERAL unnest(tt.terms) AS t(term)
             LEFT JOIN slots
               ON slots.b = ('0x' || substr(md5(t.term), 1, 15))::BIGINT
                 % 32768
             WHERE tt.doc_id % 2 = 1),
      cwEarly AS (SELECT CAST(generate_subscripts(cs, 1) AS INT) AS s,
                unnest(cs) AS c
              FROM fEarly),
      cwLate AS (SELECT CAST(generate_subscripts(cs, 1) AS INT) AS s,
                unnest(cs) AS c
              FROM fLate),
      sq2 AS (SELECT sb.doc_id, sb.has_kw, sb.n_d,
               CAST(sum(CASE WHEN sb.s IS NULL THEN 0
                 ELSE CAST(floor(cwEarly.c * 1073741824.0)
                   AS BIGINT) END) AS BIGINT) AS sqd10,
               CAST(sum(CASE WHEN sb.s IS NULL THEN 0
                 ELSE CAST(floor(cwLate.c * 1073741824.0)
                   AS BIGINT) END) AS BIGINT) AS sqd30
             FROM sb LEFT JOIN cwEarly ON cwEarly.s = sb.s
             LEFT JOIN cwLate ON cwLate.s = sb.s
             GROUP BY 1, 2, 3),
      sall AS (SELECT doc_id, has_kw, n_d, sqd10, sqd30 FROM sq2
               UNION ALL
               SELECT doc_id, has_kw, 0, CAST(0 AS BIGINT),
                 CAST(0 AS BIGINT) FROM tt
               WHERE doc_id % 2 = 1 AND len(terms) = 0),
      scored AS (SELECT doc_id, has_kw,
        round(1.0 / (1.0 + exp(-(CASE WHEN n_d = 0
          THEN (SELECT b0 FROM fEarly)
          ELSE ((SELECT b0 FROM fEarly) + (SELECT wl FROM fEarly)
              * ln(1.0 + CAST(n_d AS DOUBLE)))
            + (CAST(sqd10 AS DOUBLE) / 1073741824.0)
              / CAST(n_d AS DOUBLE)
          END))), 9) AS p_early,
        round(1.0 / (1.0 + exp(-(CASE WHEN n_d = 0
          THEN (SELECT b0 FROM fLate)
          ELSE ((SELECT b0 FROM fLate) + (SELECT wl FROM fLate)
              * ln(1.0 + CAST(n_d AS DOUBLE)))
            + (CAST(sqd30 AS DOUBLE) / 1073741824.0)
              / CAST(n_d AS DOUBLE)
          END))), 9) AS p_late
        FROM sall)
      SELECT doc_id, has_kw, p_early, p_late,
        (p_early >= 0.5) <> (p_late >= 0.5) AS crossed,
        has_kw = (p_late >= 0.5) AS late_correct
      FROM scored ORDER BY doc_id"""))

  /** (q396) Group-fairness audit of the marker-heuristic en-classifier
    * across sources (Eval.fairnessAudit scaladoc): per-source
    * selection rate, TPR/FPR, and the disparate-impact ratio against
    * the pooled rate — exact counts, one division per rate.
    */
  val q396Fairness = Q(
    "q396_ml_fairness_audit",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextFns.langId(col("text")).as("pred"))
      operators.Eval.fairnessAudit(d, "source",
        col("pred") === "en", col("lang") === "en")
    },
    Some("""
      WITH d AS (SELECT source, lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL),
      h AS (SELECT source, lang,
          len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','las','que','y'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','la','les','des','et','est'))) AS fr
        FROM d),
      pr AS (SELECT source,
               (CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    ELSE 'fr' END) = 'en' AS p,
               lang = 'en' AS y
             FROM h WHERE source IS NOT NULL AND lang IS NOT NULL),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sel,
               CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT)
                 AS tp,
               CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)
                 AS BIGINT) AS fp
             FROM pr GROUP BY source),
      pool AS (SELECT CAST(sum(n) AS BIGINT) AS np,
               CAST(sum(n_sel) AS BIGINT) AS nsp FROM per)
      SELECT source, n, n_pos, n_sel,
        CAST(floor(1000000.0 * CAST(n_sel AS DOUBLE)
          / CAST(n AS DOUBLE)) AS BIGINT) AS sel_q,
        CASE WHEN n_pos > 0 THEN
          CAST(floor(1000000.0 * CAST(tp AS DOUBLE)
            / CAST(n_pos AS DOUBLE)) AS BIGINT) END AS tpr_q,
        CASE WHEN n - n_pos > 0 THEN
          CAST(floor(1000000.0 * CAST(fp AS DOUBLE)
            / CAST(n - n_pos AS DOUBLE)) AS BIGINT) END AS fpr_q,
        CASE WHEN nsp > 0 THEN
          CAST(floor(1000000.0 * CAST(n_sel * np AS DOUBLE)
            / CAST(n * nsp AS DOUBLE)) AS BIGINT) END AS dp_q
      FROM per CROSS JOIN pool ORDER BY source"""))

  /** All queries, in gate order. */
  val all: Seq[Q] = Seq(
    q01PricingAgg, q02RoutesJoin, q03LeftEnrich, q04DualDim,
    q05Lpm, q06Covering, q07EnrichOverwrite, q08Anti,
    q09Latest, q10First, q11MergeRetain, q12Cdc, q13Purge,
    q14ChgStats, q15ChgStats2m, q16GlobalState, q17Hourly, q18AggOfAgg,
    q19TopN, q20Scalars, q21Tsv,
    q22ExactDedup, q23NgramJaccard, q24TextStats, q25Quality, q26LangId,
    q27Fingerprint, q28CosineTopK, q29MinHash, q30SimHash, q31LshAnn,
    q32ChgByAsn, q33Incremental, q34RibCounts, q35LogJoin, q36Arrays,
    q37AsnFilter, q38Retention, q39DedupTtl, q40GeoLpm, q41IvfAnn, q42MmFeatures,
    q43AsOf, q44SemiIntersect, q45RunningSum, q46PropsExtract,
    q47InfoAsnMerge, q48RouterCascade, q49EmbedNearDup, q50DetSample,
    q51PeerInherit, q52LpmV6, q53PdbIxPeers, q54L3vpnByRd,
    q55PeerEventLog, q56CollectorCascade, q57LsScalars, q58IpBits,
    q59SaltedAgg, q60AsOfStrict, q61FrameSample,
    q62DupClusters, q63PiiRedact, q64GeoIpOverwrite, q65StatReports,
    q66Intervals, q67SeqPacking, q68ProfileStats, q69Decontam,
    q70SourceCap, q71SourceMix, q72QuantizeInt8, q73LpmV6Expansion,
    q74CoveringExpansion,
    q75GopherRepetition, q76StratSplit, q77Chunking, q78CentroidOutlier,
    q79IncrementalDedup, q80TfIdfTerms, q81Sessionize,
    q82Boilerplate, q83UnigramLp, q84DuplicateSpans, q85QualityModel,
    q86SourceOverlap, q87BpeTokenize,
    q88ParagraphDedup, q89SemDedup, q90Blocklist, q91KeepBest,
    q92FuzzyDedup, q93PerplexityBuckets, q94SourceQuality, q95Kmeans,
    q96SparseCosine, q97Bm25, q98GopherRules, q99CurationFunnel,
    q100DsirWeights, q101BudgetSample, q102BpeFertility,
    q103TemperatureMix, q104BigramLp, q105HardNegatives,
    q106HybridRrf, q107IvfRecall, q108ClusterCoreset, q109PqAdc,
    q110IvfPq, q111TruncRecall, q112CurriculumBins, q113EpochPlan,
    q114CmsFreq, q115HllDistinct, q116JlRecall, q117ExactQuantiles,
    q118ContamSpans, q119FeistelShuffle, q120WinnowFps,
    q121StrideInterleave, q122RendezvousShard, q123ContainmentQuotes,
    q124VocabStats, q125KnBigramLp, q126MinHashAudit, q127CorpusDiff,
    q128ExportManifest, q129LengthBatches, q130KCenterSeeds,
    q131WeightedSample, q132KAnon, q133EmbedDecontam, q134DimStats,
    q135TimeSplit, q136Readability, q137ClassWeights, q138QlTopK,
    q139RollupProfile, q140PmiPairs, q141SourceZScores, q142Winsorize,
    q143UserFeatures, q144LabelNoise, q145RankNormalize, q146Keyness,
    q147MlmMask, q148VocabCoverage, q149Burstiness, q150HealthCard,
    q151HeavyHitters, q152CodeSwitch, q153PreferencePairs,
    q154SpanCorrupt, q155Auc, q156RateAnomaly, q157Funnel,
    q158CohortRetention, q159Mrr, q160Ndcg, q161Ece, q162LangReport,
    q163Markov, q164Pareto, q165SessionPaths, q166TokenEntropy,
    q167CohenKappa, q168NgramNovelty, q169AbZTest, q170MadOutliers,
    q171JwLinkage,
    q172IntervalOverlap, q173VocabGrowth, q174MaxTokenRun, q175KsDrift,
    q176MarginPairs, q177Rbo, q178LooInfluence,
    q179GridResample, q180Cusum, q181ZOrder,
    q182PrefixJoin, q183Scd2, q184Mmr,
    q185LabelProp, q186Triangles,
    q187DimCov, q188Pearson, q189Ewma, q190Simpson,
    q191Expectations, q192EquiDepth, q193Attribution, q194VocabCurve,
    q195PageRank, q196ChiSquare, q197Spearman, q198Gini, q199Tvd,
    q200LangPivot, q201MannWhitney, q202Benford, q203NfcNormalize,
    q204TheilSen, q205AssocRules, q206MutualInfo, q207CharTrigrams,
    q208StripAccents, q209ZipfSlope,
    q210Hits, q211JsDivergence, q212AvgPrecision, q213Brier,
    q214FleissKappa, q215DistinctNgrams, q216SentenceStats,
    q217NeymanAlloc, q218SoftDedup, q219Acf, q220EncodingAudit,
    q221PcaPower, q222SortedNeighborhood, q223GoodTuring,
    q224HillTail, q225Mcc, q226BinsegSplit, q227PhashNearDup,
    q228LDiversity, q229RfmSegments,
    q230Err, q231WeekdayProfile, q232DupMass,
    q233AdjustedRand, q234GarbageRatio,
    q235TCloseness, q236KCore, q237Kendall, q238KaplanMeier,
    q239Silhouette, q240SystematicPps,
    q241AdamicAdar, q242WelchT, q243CramersV, q244McNemar,
    q245LiftTable, q246Rake, q247SeasonalDecompose,
    q248Hilbert, q249Friedman, q250DpLaplace, q251WinnowOverlap,
    q252IsotonicFit, q253KruskalWallis, q254KsTwoSample, q255CochranQ,
    q256TextRank, q257ClusterSplit, q258TemperatureMix, q259Chao1,
    q260AucCi, q261PoissonBootstrap, q262AnovaF, q263BrownForsythe,
    q264NegSampling, q265Psi, q266Conformal, q267EventFunnel,
    q268Burstiness, q269KmvOverlap, q270MantelHaenszel,
    q271Sprt, q272Cuped, q273DiD, q274CochranArmitage,
    q275BootstrapMedian, q276Ccf, q277Jonckheere, q278SprtTotals,
    q279DedupSavings,
    q280Krippendorff, q281Assortativity, q282Rm3, q283Hubness,
    q284PageHinkley, q285MaseBacktest, q286BradleyTerry,
    q287Unimax, q288NelsonAalen, q289LogRank, q290StupidBackoff,
    q291Ppr, q292Pinball, q293EffectSizes, q294TheilsU, q295Ols,
    q296PartialCorr, q297DurbinWatson,
    q298OrdinalAssoc, q299FdrBattery, q300JarqueBera,
    q301CronbachAlpha, q302VocabSpectrum, q303Msttr,
    q304DecisionStump, q305NaiveBayes, q306DistanceCorr,
    q307RandomizationTest, q308FellegiSunter, q309Periodogram,
    q310HodgesLehmann, q311IccOneWay, q312Katz,
    q313GpdTail, q314Anisotropy, q315SourceWjaccard, q316VMeasure,
    q317MarkovStationary, q318Rbp, q319Rmst,
    q320KendallW, q321Pacf, q322BurrowsDelta, q323GriesDp,
    q324MutualReach, q325MoodMedian, q326RunsTest, q327SiegelSlope,
    q328DensityClusters, q329WilsonCi, q330TukeyFences, q331EbShrinkage,
    q332Overdispersion, q333Chapman, q334JackknifeRatio,
    q335MarginPairsIvf, q336Modularity, q337Harmonic,
    q338SpectralEntropy, q339RocPoints, q340Ewma, q341KFold,
    q342Luhn, q343VocabIds, q344Secrets, q345IvfMarginRecall,
    q346Bartlett, q347GTest, q348CoxStuart, q349RichClub, q350TheilU2,
    q351KTruss, q352BrunnerMunzel, q353AnsariBradley, q354PageTrend,
    q355LjungBox, q356VarianceRatio, q357HurstRS,
    q358GwetAc1, q359MannKendall, q360TurningPoints, q361BartelsRank,
    q362Wasserstein, q363CramerVonMises, q364EnergyDistance,
    q365SeasonalMK, q366Grubbs, q367Quade, q368Eigenvector,
    q369SignedRank, q370Bowker, q371KsUniform,
    q372Pettitt, q373Kuiper, q374LinkPrediction, q375Yuen,
    q376DecompStrength, q377MarkovEntropy, q378TwoNN,
    q379Hellinger, q380Blomqvist, q381LinCcc, q382AvgNbrDeg,
    q383SeasonalOutliers, q384SpatialAutocorr, q385QqDrift,
    q386VanElteren, q387TailDependence, q388KmGreenwood,
    q389DegreeGini, q390IpfWeights, q391JoinCounts, q392LocalMoran,
    q393DegreeHill, q394Reciprocity, q395DataMap, q396Fairness)
}
