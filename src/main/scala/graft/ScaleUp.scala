package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off generator for suite-level scale evidence: replicates the
  * driver's sf0.1 testdata `mult`× (default 10× ≈ sf1) with
  * join-integrity-preserving key offsets, so the full Bench inventory
  * can be re-run at 10× volume and growth ratios recorded in
  * COVERAGE.md (probe-based → suite-based scaling argument).
  *
  * Scaling rules, mirroring TPC-H's sf semantics:
  *  - `region`/`nation` are fixed dimensions — copied as-is.
  *  - Fact/scaling tables are replicated via `explode(sequence(0,m-1))`
  *    with every key column offset by `copy · 2²⁴` — all intra-copy
  *    joins (l_orderkey=o_orderkey, o_custkey=c_custkey,
  *    user_id+1=c_custkey, …) keep exactly their sf0.1 match rates,
  *    and modulo-derived BMP entities (prefix spaces, `event_id % 7`
  *    peers) land in the same value spaces with 10× density — the
  *    "same prefixes seen by more peers over a longer horizon" shape
  *    real BGP growth has.
  *  - `documents.text` gets a per-copy token salt (every token suffixed
  *    `·c<i>`), so within-copy duplicate/near-duplicate structure is
  *    bit-identical to sf0.1 while cross-copy shingles are disjoint —
  *    without this, every doc would gain 9 exact twins and the dedup
  *    queries would measure an artificial 100× candidate blow-up
  *    instead of data-growth.
  *  - `embeddings.embedding` is circularly rotated by `6·copy` dims per
  *    copy: cosine is permutation-invariant when both vectors rotate,
  *    so within-copy geometry (and every ANN/near-dup result) is
  *    preserved exactly, while cross-copy cosine of iid-ish synthetic
  *    vectors is ≈ the random baseline — again avoiding an artificial
  *    all-pairs-duplicate regime.
  *
  * Timestamps are intentionally NOT shifted: a 10× message rate into
  * the same windows is the stress the time-bucketed aggregations
  * (A1–A9) would see on a large deployment.
  */
object ScaleUp {
  val Stride = 1L << 24 // far above every sf0.1 key (max 149,999)

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def replicate(df: DataFrame, table: String, mult: Int): DataFrame = {
    val keyed = df.withColumn("__i", explode(sequence(lit(0), lit(mult - 1))))
    val offset = keyCols(table).foldLeft(keyed) { (d, k) =>
      d.withColumn(k, col(k) + col("__i").cast("long") * Stride)
    }
    val perturbed = table match {
      case "documents" =>
        offset.withColumn("text",
          regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1c"), col("__i"))))
      case "embeddings" =>
        val dim = 64
        val s = (col("__i") * 6) % dim
        offset.withColumn("embedding",
          when(s === 0, col("embedding")).otherwise(concat(
            slice(col("embedding"), s + 1, lit(dim) - s),
            slice(col("embedding"), lit(1), s))))
      case _ => offset
    }
    perturbed.drop("__i")
  }

  def main(args: Array[String]): Unit = {
    val src  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out  = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_sf1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // optional table subset (e.g. "documents,embeddings" for the 100×
    // corpus point — full-suite 100× would be ~20 GB of lineitem no
    // query in the subset reads)
    val tables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String) = tables.forall(_.contains(t))
    for (t <- Seq("region", "nation") if wanted(t)) // fixed dims
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    for (t <- keyCols.keys.toSeq.sorted if wanted(t)) {
      val scaled = replicate(spark.read.parquet(s"$src/$t.parquet"), t, mult)
      // repartition before write so downstream scans see multi-file
      // tables (realistic split planning), not one fat file per table
      scaled.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[scaleup] $t x$mult -> $out/$t.parquet")
    }
    spark.stop()
  }
}
