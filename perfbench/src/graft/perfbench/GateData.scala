package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic gate tables with the schemas and value domains of the
  * gate inventory's parquet fixtures (a TPC-H-like star, an `events`
  * stream, a small text corpus and 64-d embeddings), generated in Spark
  * from hashes of (seed, table, row, column). Every value is a pure
  * function of its row id and every table is written as four files, so
  * the tables are identical for any session parallelism.
  */
object GateData {

  /** The fixed data seed: the recorded gate digests belong to it. */
  val Seed = 42L

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
  private val Nouns = Seq("anvil", "bolt", "gear", "plate", "ring", "spring", "valve", "widget")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "de", "es", "fr", "zh")
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Uniform long in [0, n) for (table, column, row). */
  private def u(table: String, c: String, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(Seed), lit(table), lit(c), id), lit(n))
  /** Uniform double in [0, 1). */
  private def f(table: String, c: String, id: Column = col("id")): Column =
    shiftrightunsigned(xxhash64(lit(Seed), lit(table), lit(c), id), 11).cast("double") / lit(9007199254740992.0)
  private def pick(xs: Seq[String], idx: Column): Column = element_at(array(xs.map(lit): _*), idx.cast("int") + 1)
  private def money(c: Column): Column = round(c, 2)
  private def day(base: String, days: Column): Column =
    (unix_micros(to_timestamp(lit(base))) + days * lit(86400000000L)).cast("long")

  /** Write every table under `dir`, `threads` tables at a time. */
  def write(spark: SparkSession, dir: String, threads: Int): Unit = {
    val tables = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def out(name: String, df: DataFrame): Unit = tables += name -> df
    // a fixed split count, so the files are the same on any machine
    def ids(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF("id")

    out("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
      pick(Regions, col("id")).as("r_name")))
    out("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    out("customer", ids(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c", "nation", 25).cast("int").as("c_nationkey"),
      money(f("c", "bal") * 10999.65 - 999.85).as("c_acctbal"),
      pick(Segments, u("c", "seg", 5)).as("c_mktsegment")))
    out("supplier", ids(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s", "nation", 25).cast("int").as("s_nationkey"),
      money(f("s", "bal") * 10964.05 - 976.02).as("s_acctbal")))
    out("part", ids(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Adjectives, u("p", "adj", 8)), pick(Nouns, u("p", "noun", 8))).as("p_name"),
      concat(lit("Brand#"), (u("p", "brand", 25) + 1).cast("string")).as("p_brand"),
      pick(PartTypes, u("p", "type", 6)).as("p_type"),
      (u("p", "size", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    out("orders", ids(150000).select(col("id").as("o_orderkey"),
      u("o", "cust", 15000).as("o_custkey"),
      pick(Seq("F", "O", "P"), u("o", "status", 3)).as("o_orderstatus"),
      money(f("o", "price") * 498991.27 + 1001.91).as("o_totalprice"),
      timestamp_micros(day("1995-01-01", u("o", "date", 2405))).as("o_orderdate"),
      pick(Priorities, u("o", "prio", 5)).as("o_orderpriority")))
    out("lineitem", ids(600000).select(u("l", "order", 150000).as("l_orderkey"),
      u("l", "part", 20000).as("l_partkey"),
      u("l", "supp", 1000).as("l_suppkey"),
      (u("l", "line", 7) + 1).cast("int").as("l_linenumber"),
      (u("l", "qty", 50) + 1).cast("double").as("l_quantity"),
      money(f("l", "price") * 104099.23 + 900.68).as("l_extendedprice"),
      (u("l", "disc", 11) / 100.0).as("l_discount"),
      (u("l", "tax", 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u("l", "flag", 3)).as("l_returnflag"),
      pick(Seq("F", "O"), u("l", "status", 2)).as("l_linestatus"),
      timestamp_micros(day("1995-01-02", u("l", "ship", 2499))).as("l_shipdate")))
    out("events", ids(100000).select(col("id").as("event_id"),
      timestamp_micros(unix_micros(to_timestamp(lit("2024-01-01"))) +
        u("e", "ts", 30L * 86400L * 1000000L)).as("ts"),
      u("e", "user", 1500).as("user_id"),
      pick(EventTypes, u("e", "type", 5)).as("event_type"),
      money(f("e", "v1") * f("e", "v2") * 560.21).as("value"),
      format_string("{\"k\": %d}", u("e", "props", 100)).as("props")))

    // documents: ~3 % are near-copies of an earlier document (same word
    // stream, one extra word), so the dedup gates find real candidates
    val words = (n: Column, src: Column) => array_join(transform(sequence(lit(1), n.cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(Seed), lit("d"), src, i), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
    val src = when(f("d", "copy") < 0.03, greatest(lit(0L), col("id") - 1 - u("d", "back", 20))).otherwise(col("id"))
    val docs = ids(5000).withColumn("src", src)
      .withColumn("text", concat_ws(" ", words(lit(10) + u("d", "len", 90, col("src")), col("src")),
        when(col("src") =!= col("id"), lit("dup"))))
    out("documents", docs.select(col("id").as("doc_id"), col("text"),
      pick(Langs, u("d", "lang", Langs.size)).as("lang"),
      concat(lit("src"), u("d", "source", 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")))

    // embeddings: ten label centroids plus per-vector noise, unit length
    val gauss = (tag: String, key: Column, i: Column) =>
      (0 until 3).map(k => shiftrightunsigned(xxhash64(lit(Seed), lit(s"$tag$k"), key, i), 11)
        .cast("double") / lit(9007199254740992.0)).reduce(_ + _) - lit(1.5)
    val raw = ids(2000).withColumn("label", u("v", "label", 10).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)),
        i => gauss("c", col("label"), i) + gauss("n", col("id"), i) * lit(0.8)))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
    out("embeddings", raw.select(col("id").as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label")))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      tables.map { case (name, df) =>
        pool.submit[Unit](() => df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
