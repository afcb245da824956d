package graft.operators

import graft.operators.Mat._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — the scale path for similarity dedup / retrieval in
  * a training-data pipeline.
  *
  * Baseline: brute-force cosine top-k with a broadcast query side — the
  * corpus (100 TB side) streams through one fused scoring operator
  * ([[graft.plans.GraftCosineTopK]]) that keeps a bounded top-k per
  * query per partition, never shuffling the scored pairs. Scale path:
  * LSH bucketing by random-hyperplane signs cuts the candidate set per
  * query to one bucket (equi-join on the signature), trading recall for
  * a ~2^planes fan-in reduction.
  *
  * All dot products are [[dot]]'s left-to-right double fold; the fused
  * kNN operator repeats it bit for bit (no UDF, no Python).
  */
object Similarity {

  /** Σ a·b in double precision (left-to-right fold — deterministic).
    * Native codegen'd loop ([[graft.plans.ArrayDotProduct]]) — the
    * interpreted `aggregate(zip_with(...))` lambda form it replaces is
    * ~10× slower per pair and breaks whole-stage codegen in the ANN
    * scoring joins. Identical result semantics (incl. null/length
    * behavior), so the DuckDB oracles are unaffected.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.ArrayDotProduct(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm guard: a zero vector has no direction, so cosine is
    * undefined → null (NOT NaN: Spark sorts NaN ABOVE every double, so a
    * single zero-norm corpus row would rank #1 in every top-k; nulls
    * sort last under desc).
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest
    * corpus rows (excluding self-id matches; a null id matches nothing).
    * Queries must be small (broadcast); corpus arbitrarily large.
    *
    * Plan: [[graft.plans.GraftCosineTopK]] scores every pair inside one
    * operator — the query side broadcast, each corpus vector decoded
    * once — and forwards at most k candidates per query per corpus
    * partition to [[topKPerQuery]]. `cos` is bit-identical to
    * `when(|q|·|c| > 0, dot(q, c) / (|q|·|c|))`: a zero, null or
    * null-element vector and a length mismatch give a null cos, which
    * ranks last. Building the frame runs no Spark job.
    *
    * @return (query_id, rank, neighbor_id, cos)
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame =
    bruteTopK(queries, corpus, idCol, vecCol, k, excludeSelf = true, band = None)

  /** The brute kNN shared by [[cosineTopK]], [[hardNegatives]] and
    * [[crossTopK]]: the fused scoring node under [[topKPerQuery]].
    */
  private def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, excludeSelf: Boolean,
                        band: Option[(Double, Double)]): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = balanced(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    topKPerQuery(graft.plans.GraftCosineTopK.frame(q, c, k, excludeSelf, band), k)
  }

  /** cosine() with BOTH norms precomputed as row columns (`__qn`,
    * `__cn`): the LSH and fused-cross scans score many pairs, and inlining
    * `cosine()` would evaluate three dot products per pair — hoisting
    * the norms to one per ROW cuts the kernel to a third. The value is
    * bit-identical: same `sqrt(dot(v,v))` subexpressions, same
    * `when(denom > 0, dot/denom)` null semantics, just evaluated once.
    */
  private def hoistedCosine: Column = {
    val denom = col("__qn") * col("__cn")
    when(denom > 0, dot(col("qv"), col("cv")) / denom)
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus items whose cosine falls in
    * [minCos, maxCos) — similar enough to be informative negatives,
    * below the near-duplicate band that would make them false
    * negatives. The canonical retrieval-training data op (DPR/ANCE
    * family: negatives mined near the decision boundary).
    *
    * Plan: [[cosineTopK]]'s fused scoring node with the band applied
    * inside it, before a pair can enter a query's bounded top-k — the
    * corpus is scanned once, non-band pairs never leave the task. The
    * band compare (`minCos <= cos < maxCos` in Spark's double order,
    * so null and NaN cosines drop) runs on the same double `cosine`
    * both engines compute identically (q28's contract), so the cut is
    * oracle-exact.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, minCos: Double,
                    maxCos: Double): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    require(minCos < maxCos, s"minCos ($minCos) must be < maxCos ($maxCos)")
    bruteTopK(queries, corpus, idCol, vecCol, k, excludeSelf = true,
      band = Some((minCos, maxCos)))
  }

  /** Global top-k per query over a `(query_id, neighbor_id, cos)` frame
    * — the shared rank stage of every *TopK variant. The 10⁹-row
    * failure mode of a bare "partitionBy(query_id)" window (every
    * scored row of a hot query gathered into ONE task) is prevented
    * below the exchange: the brute kNN's fused node emits at most k
    * candidates per query per task, and over any other scored frame
    * Spark plans a PARTIAL WindowGroupLimit that forwards at most k
    * rows per query per map task. Ranks are always this window's.
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    // ONE row_number window + rank filter. Spark's InferWindowGroupLimit
    // rewrites this into a map-side PARTIAL WindowGroupLimit (≤ k rows
    // per query emitted per task, before the exchange) + a Final one —
    // so the shuffle ships ≤ tasks·k rows per query, and a hot query
    // can never gather corpus-sized input on one partition. That
    // subsumes the hash-salt pre-reduction this used to do by hand
    // (and the salted collect_list + interpreted array_sort(cmp) before
    // it, which cost 12.5 s of a 14.3 s full-corpus kNN at sf0.1 —
    // higher-order comparators evaluate per COMPARISON, interpreted).
    // Projection to (query_id, cos, neighbor_id) precedes the sort so
    // the embedding arrays never enter the exchange. Ordering is
    // (cos DESC NULLS LAST — Spark's desc default, zero-norm nulls
    // rank past every real cosine — neighbor_id ASC), a total order
    // because neighbor_id is unique.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .select(col("query_id"), col("cos"), col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Rebalance a brute-scan corpus side whose scan has FEWER partitions
    * than the session's parallelism (a small parquet fixture reads as
    * 1–2 splits, and the scoring node inherits the streamed side's
    * partitioning — leaving the 4M-pair scoring loop on one or two
    * threads; measured 3–4× on the sf0.1 full-corpus kNN). A scanned
    * corpus already wider than the session (the 100 TB case) is left
    * untouched — repartitioning it would be a full shuffle of the big
    * side.
    *
    * Nothing executes here. A corpus plan without an exchange reports
    * its split count from its RDD, which runs no job. A shuffled
    * corpus's partition count is AQE's to decide at run time (it
    * coalesces a small result to one partition), and nothing short of
    * running it tells how small the result is — the optimizer's size
    * estimate ignores filter and join selectivity — so a shuffled
    * corpus is always rebalanced: one more shuffle of the corpus rows,
    * small beside scoring each of them against every query.
    */
  private def balanced(c: DataFrame): DataFrame = {
    val want = c.sparkSession.sparkContext.defaultParallelism
    val plan = c.queryExecution.executedPlan
    val shuffled = plan.isInstanceOf[AdaptiveSparkPlanExec] ||
      plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty)
    if (shuffled || plan.execute().getNumPartitions < want) c.repartition(want) else c
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d weight =
    * a fixed LCG-ish hash mapped to [-0.5, 0.5). Generated as literals
    * on the driver — identical on every executor, no shuffle of planes.
    * The arithmetic is overflow-free in 64-bit (≤ 3.3e17), so any
    * engine with BIGINT arithmetic reproduces the weights bit-exactly —
    * the DuckDB oracle recomputes them inline.
    */
  private[graft] def planeWeight(p: Int, d: Int): Double =
    ((p * 1103515L + d * 12347L + 42L) * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5

  /** Random-hyperplane LSH signature: bit p = sign(v · plane_{p+offset}).
    * `planeOffset` selects an independent plane set — table t of a
    * multi-table LSH uses offset t·planes, so every table hashes with
    * disjoint hyperplanes.
    */
  def lshSignature(vec: Column, dim: Int, planes: Int, planeOffset: Int = 0): Column = {
    // the overflow-free claim of planeWeight holds only while
    // p·1103515·2654435761 stays under 2⁶³, i.e. p ≲ 3100 — beyond it
    // the product wraps negative and weights leave [-0.5, 0.5), which
    // both biases the hyperplanes and breaks oracle reproducibility
    require(planeOffset + planes <= 3000,
      s"plane index ${planeOffset + planes} exceeds the 64-bit overflow-free bound " +
        "of planeWeight (~3000 total planes across all tables)")
    (0 until planes).map { p =>
      val weights = array((0 until dim).map(d => lit(planeWeight(p + planeOffset, d))): _*)
      when(dot(vec, weights) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Plane count that keeps the EXPECTED bucket size ≈ `targetBucket`
    * under a uniform sign distribution: 2^planes ≈ n / targetBucket.
    * The scale rule for [[cosineNearDup]]: planes grows with log₂(n),
    * so within-bucket all-pairs work stays ~n·targetBucket instead of
    * n²/2^(fixed planes).
    */
  def planesFor(corpusSize: Long, targetBucket: Int = 64): Int =
    math.max(1, math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** LSH-bucketed ANN: join queries to corpus on equal signature bucket,
    * then exact cosine top-k within the bucket. Recall < 1 by design;
    * at scale the bucket join is a plain shuffled equi-join on the
    * signature (skew-safe via AQE).
    */
  def lshCosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, dim: Int, planes: Int = 8): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshSignature(col(vecCol), dim, planes).as("sig"),
      norm(col(vecCol)).as("__qn")))
    val c = balanced(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      lshSignature(col(vecCol), dim, planes).as("sig"),
      norm(col(vecCol)).as("__cn"))
    val scored = q.join(c, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", hoistedCosine)
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) ANN — the scale path beyond LSH: partition the
    * corpus into k clusters once (index build), then search only the
    * nprobe closest clusters per query. Query cost drops to ~nprobe/k of
    * the corpus; the cluster column doubles as the parquet partition key
    * so cluster pruning happens at the scan.
    *
    * Centroid selection is deterministic (k lowest-id vectors) so
    * results are reproducible; [[ivfRefineCentroids]] runs k-means
    * iterations over the same assignment primitive for recall quality.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("cid"), col(vecCol).as("centroid"))

  /** Collect a SMALL frame (centroid-table sized) and rebuild it as a
    * driver-local DataFrame: truncates lineage with no persist() — the
    * leak-free alternative to caching a plan that a lazily-returned
    * result could never unpersist.
    */
  private[operators] def materializeSmall(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** k-means refinement of an IVF centroid set: `iters` rounds of
    * assign (one broadcast pass over the corpus, [[ivfAssign]]) →
    * per-cluster component mean (posexplode + hash aggregate — the
    * corpus shuffles only (cluster, pos, x) triples). Deterministic
    * given the deterministic first-k init; a cluster that empties out
    * keeps its previous centroid. An offline index-build job — cost is
    * iters × (N·k dot products), never on the query path.
    *
    * Each iteration's centroid table (k rows × dim floats) is collected
    * to the driver and rebuilt as a local frame: the lazy chain would
    * otherwise reference the previous cents TWICE per round (join left +
    * inside means), doubling the corpus-assign work per iteration —
    * exponential in iters. Materializing keeps it exactly linear and
    * leaves nothing cached behind.
    */
  def ivfRefineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, iters: Int): DataFrame = {
    var cents = centroids
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(corpus, cents, idCol, vecCol)
      val means = assigned
        .select(col("cluster").as("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("__mean"))
      cents = materializeSmall(
        cents.join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("__mean"), col("centroid")).as("centroid")))
    }
    cents
  }

  /** Distributed Lloyd k-means with ORACLE-GRADE determinism — the
    * trainable face of [[ivfRefineCentroids]]: first-k-by-id init,
    * `iters` rounds of assign → QUANTIZED exact centroid update
    * (each component is `floor(x·10⁶)` summed as longs, divided once —
    * partition-order-free, the centroidOutliers contract), then a final
    * assignment pass under the converged centroids. Returns one row per
    * vector: (id, cluster, cos) where cos is the cosine to its centroid.
    * A cluster that empties keeps its previous centroid (standard Lloyd
    * degenerate-case handling; deterministic because everything before
    * it is).
    *
    * Plan shape per iteration: one broadcast N·k assignment pass (no
    * corpus shuffle) + one posexplode → map-side-combined hash aggregate
    * down to k·dim rows. Centroids are collected and rebuilt driver-local
    * each round ([[materializeSmall]]) so the lineage stays LINEAR in
    * iters — the lazy chain would re-run every prior assignment twice
    * per round. Cost is iters × (N·k) dot products — the canonical
    * distributed k-means cost; k and dim bound driver state (k·dim
    * doubles), never N.
    */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters)
    corpus
      .crossJoin(broadcast(cents))
      .withColumn("__cos", cosine(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(
        max_by(col("cid"), struct(col("__cos"), -col("cid"))).as("cluster"),
        max(col("__cos")).as("cos"))
  }

  /** The centroid loop of [[kmeansAssign]], exposed for operators that
    * need the CONVERGED centroid table itself (silhouette, coreset
    * scoring): first-k-by-id init, `iters` quantized assign→mean
    * rounds, driver-materialized per round (linear lineage).
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"k ($k) must be positive, iters ($iters) >= 0")
    var cents = materializeSmall(
      ivfCentroids(corpus, idCol, vecCol, k)
        .select(col("cid"),
          transform(col("centroid"), x => x.cast("double")).as("centroid")))
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(corpus, cents, idCol, vecCol)
      val means = assigned
        .select(col("cluster").as("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(floor(col("x").cast("double") * 1000000.0).cast("long")).cast("double") /
          (lit(1000000.0) * count(lit(1)))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("__mean"))
      cents = materializeSmall(
        cents.join(means, Seq("cid"), "left")
          .select(col("cid"),
            coalesce(col("__mean"), col("centroid")).as("centroid")))
    }
    cents
  }

  /** Simplified silhouette under the [[kmeansAssign]] clustering, in
    * COSINE dissimilarity (d = 1 − cos, the metric the assignment
    * itself optimizes): per vector, a = dissimilarity to its own
    * centroid, b = best dissimilarity among the OTHER k−1 centroids,
    * sil = (b − a)/max(a, b) ∈ [−1, 1], quantized ⌊10⁶·⌋. The
    * classical silhouette's O(N²) point-to-point distances are
    * replaced by point-to-centroid (the "simplified silhouette" of
    * Hruschka et al. 2004) — the only formulation that scales: one
    * broadcast N·k scoring pass, no pairwise join.
    *
    * Both a and b derive from the SAME per-(vector, centroid) cosine
    * values the assignment pass computes, ranked in one bounded window
    * (k rows per vector): rn = 1 is the assigned centroid (ties by
    * ascending cid — identical to [[ivfAssign]]'s max_by tie-break),
    * rn = 2 the runner-up. sil_q is 0 when both dissimilarities are 0.
    *
    * @return (id, cluster, cos, sil_q) one row per vector
    */
  def silhouetteSimplified(corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int): DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2 for a silhouette")
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__cos").desc_nulls_last, col("cid").asc)
    corpus
      .crossJoin(broadcast(cents))
      .withColumn("__cos", cosine(col(vecCol), col("centroid")))
      .select(col(idCol), col("cid"), col("__cos"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col(idCol))
      .agg(max_by(col("cid"), -col("__rn")).as("cluster"),
        max_by(col("__cos"), -col("__rn")).as("cos"),
        max(col("__rn")).as("__have"),
        max_by(col("__cos"), col("__rn")).as("__cos2"))
      .filter(col("__have") === 2) // k >= 2 guarantees this
      .withColumn("__a", lit(1.0) - col("cos"))
      .withColumn("__b", lit(1.0) - col("__cos2"))
      .withColumn("sil_q",
        when(greatest(col("__a"), col("__b")) > 0,
          floor(lit(1000000.0) * (col("__b") - col("__a")) /
            greatest(col("__a"), col("__b"))).cast("long"))
          .otherwise(lit(0L)))
      .select(col(idCol), col("cluster"), col("cos"), col("sil_q"))
  }

  /** Cluster-balanced coreset: the `m` most central vectors of each
    * k-means cluster (highest cosine to their centroid, ties by
    * ascending id) — the diverse-sampling primitive behind
    * prototype/coreset selection: cover every region of embedding
    * space with its most representative members instead of sampling
    * the head of the density. Composes [[kmeansAssign]] (same
    * quantized, order-free centroids — oracle-exact), then ranks
    * within clusters.
    *
    * Plan shape: the rank stage is the salted two-phase top-k
    * ([[topKPerQuery]] keyed by cluster) — a bare
    * `Window.partitionBy(cluster)` would sort one N/k-row partition
    * per cluster in a single task at corpus scale; the salted
    * pre-aggregate bounds every window partition to salts·m rows.
    */
  def clusterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int, m: Int): DataFrame = {
    require(m > 0, s"m ($m) must be positive")
    val scored = kmeansAssign(corpus, idCol, vecCol, k, iters)
      .select(col("cluster").as("query_id"), col(idCol).as("neighbor_id"),
        col("cos"))
    topKPerQuery(scored, m)
      .select(col("query_id").as("cluster"), col("rank"),
        col("neighbor_id").as(idCol), col("cos"))
  }

  /** Assign every corpus row to its nearest centroid (one broadcast
    * cross-product pass; N·k dot products, no shuffle of the corpus...
    * of anything BUT the corpus: the groupBy ships each row once).
    *
    * A shuffle-free projection form (argmax inlined as `array_max`
    * over per-centroid structs) was tried and REVERTED: without the
    * aggregate acting as an expression barrier, Catalyst duplicates
    * the k-cosine argmax into the `isnotnull(cluster)` filter pushed
    * below the downstream cluster join and into the join exchange's
    * partitioning — 3× the dot products (measured q41 0.48 → 1.48 s,
    * q110 0.96 → 2.12 s warm). The aggregate materializes `cluster`
    * as a concrete attribute exactly once.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String): DataFrame =
    corpus
      .crossJoin(broadcast(centroids))
      .withColumn("__cos", cosine(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(
        max_by(col("cid"), struct(col("__cos"), -col("cid"))).as("cluster"),
        first(col(vecCol)).as(vecCol))

  /** IVF top-k: probe the `nprobe` nearest clusters per query, exact
    * cosine within them. Recall < 1 by design (vectors near cluster
    * borders); raise nprobe to trade cost for recall.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nClusters: Int, nprobe: Int, kmeansIters: Int = 0): DataFrame = {
    val cents0 = ivfCentroids(corpus, idCol, vecCol, nClusters)
    // materialized, not persisted: cents is read by both the assignment
    // pass and the probe routing below, and a lazily-returned plan could
    // never release a cache — a driver-local copy of k centroid rows is
    // free and leak-free
    val cents = materializeSmall(
      if (kmeansIters > 0) ivfRefineCentroids(corpus, idCol, vecCol, cents0, kmeansIters)
      else cents0)
    val indexed = ivfAssign(corpus, cents, idCol, vecCol)
      .withColumn("__cn", norm(col(vecCol)))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("__qcos").desc, col("cid").asc)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("__qcos", cosine(col("qv"), col("centroid")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cluster"),
        norm(col("qv")).as("__qn"))
    val scored = probes
      .join(indexed, Seq("cluster"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos",
        when(col("__qn") * col("__cn") > 0,
          dot(col("qv"), col(vecCol)) / (col("__qn") * col("__cn"))))
      .withColumn("neighbor_id", col(idCol))
    topKPerQuery(scored, k)
  }

  /** Materialize an IVF index: k-means-refined centroids beside the
    * corpus written `partitionBy(cluster)` — the physical layout the
    * [[ivfTopK]] Scaladoc promises. Probe-time cluster selection then
    * prunes at the parquet DIRECTORY listing ([[ivfTopKIndexed]]), so a
    * query touches nprobe/k of the corpus files instead of filtering
    * after a full scan. Index build is offline: one assignment pass +
    * kmeansIters refinement rounds.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                    nClusters: Int, kmeansIters: Int = 2): Unit = {
    val cents = materializeSmall(ivfRefineCentroids(corpus, idCol, vecCol,
      ivfCentroids(corpus, idCol, vecCol, nClusters), kmeansIters))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(corpus, cents, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/index")
  }

  /** IVF top-k over a materialized index: probe routing against the
    * stored centroids, then an exact-cosine scan restricted to the
    * probed clusters. The probed-cluster set is plan-time metadata
    * (≤ |queries|·nprobe ints) pushed as a LITERAL partition filter, so
    * pruning happens at the directory listing — the scan never lists,
    * let alone reads, unprobed clusters.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$path/centroids"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("__qcos").desc, col("cid").asc)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("__qcos", cosine(col("qv"), col("centroid")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cluster"))
    // probes is computed twice (the eager collect below + the lazy join
    // plan) but NOT persisted: it's a |queries| × broadcast(centroids)
    // pass — recomputing it is cheaper than leaking a session-lifetime
    // cached block per call (queries are small by contract here)
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.get(0)) // id-typed (long/int/string cluster keys all work)
    val indexed = spark.read.parquet(s"$path/index")
      .filter(col("cluster").isin(probedClusters: _*)) // directory-level pruning
    val scored = probes
      .join(indexed, Seq("cluster"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos", cosine(col("qv"), col(vecCol)))
      .withColumn("neighbor_id", col(idCol))
    topKPerQuery(scored, k)
  }

  // ---- quantization ---------------------------------------------------

  /** Symmetric per-vector int8 quantization: scale = 127 / max|x|,
    * q_i = round(x_i · scale) ∈ [-127, 127] — 4× memory reduction for a
    * 100 TB embedding store; scan-inline, codegen'd, no shuffle. The
    * all-zero vector gets scale 0 and zero codes (guard: 127/0 would
    * make 0 · ∞ = NaN). Arithmetic is float→double promoted exactly the
    * way SQL engines do it, so codes are engine-portable.
    *
    * @return struct(scale double, q array<int>)
    */
  def quantizeInt8(vec: Column): Column = {
    val mx    = array_max(transform(vec, x => abs(x))).cast("double")
    val scale = when(mx > 0, lit(127.0) / mx).otherwise(lit(0.0))
    struct(
      scale.as("scale"),
      transform(vec, x => round(x.cast("double") * scale).cast("int")).as("q"))
  }

  /** Reconstruct doubles from int8 codes (q_i / scale; zeros when the
    * vector quantized with scale 0).
    */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, v => when(scale > 0, v.cast("double") / scale).otherwise(lit(0.0)))

  /** Johnson–Lindenstrauss sign projection: reduce `dim`-d vectors to
    * `outDim` components y_p = Σ_j r(p,j)·x_j with r ∈ {−1, +1} drawn
    * deterministically from md5("p:j:jl") — the database-friendly JL
    * family (Achlioptas 2003: ±1 entries preserve pairwise distances
    * like Gaussians do). No 1/√outDim scaling: cosine is
    * scale-invariant, and downstream use here is cosine ranking.
    *
    * ORACLE-GRADE determinism: each component is the exact long
    * Σ r·⌊x·10⁶⌋ (sign flips are exact; the sum is integer —
    * partition-order free), divided by 10⁶ once at the end. The
    * projection matrix is outDim·dim rows — broadcast; the corpus cost
    * is one explode + one hash aggregate, scan-shaped at 100 TB.
    */
  def signProject(df: DataFrame, idCol: String, vecCol: String,
                  dim: Int, outDim: Int): DataFrame = {
    require(dim > 0 && outDim > 0 && outDim <= dim,
      s"need 0 < outDim ($outDim) <= dim ($dim)")
    val spark = df.sparkSession
    val proj = spark.range(outDim.toLong).select(col("id").cast("int").as("p"))
      .crossJoin(spark.range(dim.toLong).select(col("id").cast("int").as("j")))
      .select(col("p"), col("j"),
        (pmod(Dedup.md5Hash60(concat_ws(":", col("p"), col("j"), lit("jl"))),
          lit(2L)) * lit(2L) - lit(1L)).as("r"))
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("j", "x")))
      .join(broadcast(proj), Seq("j"))
      .groupBy(col(idCol), col("p"))
      .agg(sum(col("r") *
        floor(col("x").cast("double") * lit(1000000.0)).cast("long")).as("yq"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("p"), col("yq")))).as("pm"))
      .select(col(idCol),
        transform(col("pm"), e =>
          e.getField("yq").cast("double") / lit(1000000.0)).as(vecCol))
  }

  /** Embedding-cosine near-duplicate pairs via LSH blocking: per-table
    * corpus self-join on signature, union of candidates across
    * independent tables, exact cosine ≥ threshold verification.
    *
    * Scale shape: a single fixed-plane table has ≤ 2^planes buckets, so
    * within-bucket all-pairs is O(n²/2^planes) — quadratic at corpus
    * scale. The two knobs restore linearity:
    *  - `planes`: size with [[planesFor]] (planes ~ log₂(n/targetBucket))
    *    so expected bucket size stays constant as n grows;
    *  - `maxBucket`: hard guard dropping degenerate buckets (mass
    *    near-identical embeddings all hash together regardless of plane
    *    count) from candidate generation — the same skip-or-split rule
    *    as [[Dedup.minHashLsh]]'s band cap, with the same bounded
    *    recall loss (only pairs whose EVERY table lands in a
    *    mega-bucket are lost).
    * Raising `tables` (disjoint hyperplane sets per table, see
    * [[lshSignature]] planeOffset) buys back the recall that sharper
    * bucketing costs: candidates are the UNION over tables, so a pair
    * is kept if ANY table buckets it together.
    *
    * Candidate rows carry only (sig, id) — vectors join back for
    * verification, so multi-table unions never shuffle embeddings.
    */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int, planes: Int = 8,
                    tables: Int = 1, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(tables >= 1, s"tables ($tables) must be >= 1")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cosineCandidates(base, dim, planes, tables, maxBucket)
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic outlier scoring: cosine of every vector to
    * its group centroid, ranked within the group (ascending — least
    * central first), with the bottom `outlierFrac` flagged. The
    * pruning/quality-audit primitive for embedding-clustered corpora:
    * drop (or human-review) the rows least representative of their
    * cluster.
    *
    * Centroids use QUANTIZED exact arithmetic — each component is
    * `floor(x·10⁶)` summed as integers, divided once at the end — so the
    * centroid is identical regardless of partition/summation order
    * (float addition is non-associative; a naive distributed mean
    * changes per run, which silently reshuffles the outlier set between
    * identical jobs). 10⁻⁶ quantization error is far below embedding
    * noise.
    *
    * Plan shape: centroid build is one posexplode + two map-side-
    * combined hash aggregates down to (#groups) rows, broadcast back;
    * the rank window partitions by group — groups are clusters
    * (bounded), never the full corpus in one partition.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, outlierFrac: Double = 0.1): DataFrame = {
    require(outlierFrac > 0 && outlierFrac < 1,
      s"outlierFrac ($outlierFrac) must be in (0, 1)")
    val cents = df
      .select(col(labelCol).as("__lbl"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("__lbl"), col("pos"))
      .agg((sum(floor(col("x").cast("double") * 1000000.0).cast("long")).cast("double") /
        (lit(1000000.0) * count(lit(1)))).as("c"))
      .groupBy(col("__lbl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("__lbl"), transform(col("pc"), p => p.getField("c")).as("centroid"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol)).orderBy(col("cos").asc_nulls_first, col(idCol).asc)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col(labelCol))
    // null-safe equality: a null label is its own group (it got a
    // centroid from the groupBy above); plain === would silently drop
    // every unlabeled vector from the output
    df.join(broadcast(cents), col(labelCol) <=> col("__lbl"))
      .withColumn("cos", cosine(col(vecCol), col("centroid")))
      .withColumn("rank", row_number().over(w))
      .withColumn("is_outlier",
        col("rank") <= ceil(lit(outlierFrac) * count(lit(1)).over(wc)))
      .drop("__lbl", "centroid")
  }

  /** Candidate stage of [[cosineNearDup]], exposed for scale probing:
    * per-table bucket self-join over a `(id, v)` frame, capped and
    * unioned — returns distinct (id_a, id_b) before exact verification.
    */
  def cosineCandidates(base: DataFrame, dim: Int, planes: Int,
                       tables: Int, maxBucket: Int): DataFrame =
    (0 until tables).map { t =>
      // snapshot: the dim×planes signature projection (the per-table
      // dominant cost) feeds the bucket-count branch AND both join
      // sides — compute it once per table, not 2-3×
      val sigs = base.select(col("id"),
        lshSignature(col("v"), dim, planes, t * planes).as("sig"))
        .mat
      val capped = Dedup.capByKey(sigs, sigs, Seq("sig"), maxBucket)
      val a = capped.select(col("sig"), col("id").as("id_a"))
      val b = capped.select(col("sig"), col("id").as("id_b"))
      a.join(b, Seq("sig"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into clusters, compare
    * vectors only WITHIN a cluster, and inside every group of mutual
    * near-duplicates keep the example LEAST similar to the cluster
    * centroid — the paper's keep rule (the most atypical member carries
    * the most marginal information; the ones nearest the centroid are
    * redundant with the cluster itself).
    *
    * Clusters here are deterministic random-hyperplane buckets
    * ([[lshSignature]] — the same planes the oracle reproduces), the
    * scalable stand-in for the paper's k-means: at 100 TB you'd swap in
    * [[ivfAssign]] against trained centroids and keep everything
    * downstream unchanged (the keep rule only needs SOME cluster id).
    *
    * Keep rule, made exact and order-free: within a cluster, x is
    * dropped iff ∃ y in the cluster with cos(x, y) ≥ `threshold` and
    * (centroid_cos(y), y.id) < (centroid_cos(x), x.id). On a clique of
    * mutual duplicates exactly the (centroid-cos, id)-minimal member
    * survives; on a chain a≺b≺c with cos(a,b), cos(b,c) ≥ τ but
    * cos(a,c) < τ, both b and c drop (the pairwise-exists form — each
    * has a smaller near-duplicate, whether or not that one survives).
    * Deterministic: the centroid is the same quantized exact mean as
    * [[centroidOutliers]] (integer sums of floor(x·10⁶) — identical on
    * every partition order), ties broken by id.
    *
    * Plan shape: one signature projection (snapshot — feeds the
    * centroid agg, both pair sides, and the output), centroid = two
    * map-side-combined hash aggregates down to (#clusters) rows joined
    * back on sig, pairs = capped bucket self-join (never corpus²; the
    * `maxBucket` guard is the same degenerate-bucket cap as
    * [[cosineNearDup]]), dropped = one distinct on the loser id,
    * verdict = one left join. Shuffles carry ids + 8-byte sigs.
    *
    * Returns one row per input vector: (id, cluster, cos_centroid
    * rounded to 6, keep). LLM-pipeline surface — the reference engine's
    * only dedup is hash-exact (`ConsumerRunnable.java:489-498`); this
    * is the embedding-space analogue it has no counterpart for.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, dim: Int, planes: Int = 6,
               maxBucket: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold ($threshold) must be in (0, 1]")
    val sigs = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        lshSignature(col(vecCol), dim, planes).as("cluster"))
      .mat
    // quantized exact per-cluster centroid (partition-order-free):
    // integer sums of floor(x·1e6), one division at the end
    val cents = sigs
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg((sum(floor(col("x").cast("double") * 1000000.0).cast("long")).cast("double") /
        (lit(1000000.0) * count(lit(1)))).as("c"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cluster"), transform(col("pc"), p => p.getField("c")).as("centroid"))
    val scored = sigs.join(cents, Seq("cluster"))
      .withColumn("ccos", cosine(col("v"), col("centroid")))
      .select(col("cluster"), col("id"), col("v"), col("ccos"))
      .mat
    // within-cluster candidate pairs, degenerate buckets capped — the
    // loser of each pair (larger (ccos, id)) is dropped; distinct on
    // the loser id is the whole "exists" quantifier
    val capped = Dedup.capByKey(scored, scored, Seq("cluster"), maxBucket)
    val a = capped.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"), col("ccos").as("ca"))
    val b = capped.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"), col("ccos").as("cb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(when(struct(col("ca"), col("id_a")) > struct(col("cb"), col("id_b")),
        col("id_a")).otherwise(col("id_b")).as("id"))
      .distinct()
      .withColumn("__drop", lit(true))
    scored.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        round(col("ccos"), 6).as("cos_centroid"),
        not(coalesce(col("__drop"), lit(false))).as("keep"))
  }

  /** Sparse lexical cosine similarity — the term-vector complement to
    * the dense ANN family: pair similarity = cosine of exact
    * term-frequency vectors over a DF-CAPPED vocabulary (terms with
    * document frequency > `maxTermDf` are dropped from the feature
    * space — the stop-term removal every sparse retrieval system does,
    * which is also what carries the idf flavor here). Candidates are
    * doc pairs sharing ≥ 1 surviving term; each is emitted with its
    * dot, cosine, and `is_sim` verdict (≥ `minCosine`) — the audit
    * shape of fuzzyDedupPairs.
    *
    * Exactness: tf and the pair dot product are INTEGER sums
    * (partition-order free); norms are `sqrt(Σtf²)` of integer sums;
    * cosine is one division of exactly-rounded doubles — bit-identical
    * on any engine. (A float tf·idf weighting would make the dot a
    * partition-order-dependent double sum; production ranking can use
    * it, the oracle-gated configuration cannot.)
    *
    * Plan shape: explode → tf hash aggregate (map-side combined,
    * snapshotted — feeds df, norms, and both join sides) → df filter →
    * term equi-join → per-pair hash aggregate → two norm joins. The
    * term join's fan-out is Σ_term df² ≤ maxTermDf · Σ_term df — the
    * same cap algebra as ngramJaccard's `maxShingleDf` (measured
    * N²→linear there); at 100 TB the cap is the difference between a
    * skew-safe equi-join and "the" joining every doc to every doc.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxTermDf: Int, minCosine: Double): DataFrame = {
    require(maxTermDf > 0, s"maxTermDf ($maxTermDf) must be positive — " +
      "0 empties the vocabulary; no cap degenerates to all-pairs on stop terms")
    require(minCosine > 0 && minCosine <= 1,
      s"minCosine ($minCosine) must be in (0, 1]")
    val tf = docs
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .mat
    val kept = tf.join(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxTermDf)
        .select("term"),
      Seq("term"))
      .mat
    val norms = kept.groupBy(col("id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = kept.select(col("term"), col("id").as("id_a"), col("tf").as("tfa"))
      .join(kept.select(col("term"), col("id").as("id_b"), col("tf").as("tfb")),
        Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2b")), Seq("id_b"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
      .withColumn("is_sim", col("cos") >= minCosine)
      .select("id_a", "id_b", "dot", "cos", "is_sim")
  }

  /** Farthest-point (k-center) seed selection — Gonzalez 1985's
    * 2-approximation: start from the smallest id, then k−1 times pick
    * the point maximizing the min squared-L2 distance to everything
    * chosen (ties → smallest id). The diversity sampler behind eval
    * anchor sets, annotation batches, and k-means++-style inits —
    * coverage-maximizing where [[clusterCoreset]] is density-following.
    *
    * k driver rounds by contract (k is small — single digits to low
    * hundreds): each round is ONE distributed scan computing
    * `least(dist to each chosen seed)` (the chosen side rides in the
    * plan as literals — nothing shuffles, the argmax is a TakeOrdered
    * of 1), exactly the bounded-driver-loop shape of [[graft.operators.
    * Bpe.train]]. On a 100 TB corpus you seed from a sample, which is
    * what a k-center 2-approximation is for.
    *
    * Distances are the oracle-portable double form: sequential
    * left-fold of (aᵢ−bᵢ)² in double — the same arithmetic DuckDB's
    * `list_sum(list_transform(...))` performs (the q28 cosine
    * precedent), so the per-round argmax replays exactly in SQL.
    */
  def kCenterSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = base.orderBy(col("__id").asc).head()
      var chosen = Vector((first.getLong(0), first.getSeq[Float](1)))
      while (chosen.size < k) {
        val dists = chosen.map { case (_, cv) =>
          aggregate(zip_with(col("__v"), typedLit(cv), (x, y) =>
            (x.cast("double") - y.cast("double")) *
              (x.cast("double") - y.cast("double"))),
            lit(0.0), (acc, d) => acc + d)
        }
        val md = if (dists.size == 1) dists.head else least(dists: _*)
        val next = base
          .filter(!col("__id").isin(chosen.map(x => x._1: Any): _*))
          .select(col("__id"), col("__v"), md.as("__md"))
          .orderBy(col("__md").desc, col("__id").asc)
          .limit(1).head()
        chosen = chosen :+ ((next.getLong(0), next.getSeq[Float](1)))
      }
      chosen.zipWithIndex
        .map { case ((id, _), i) => (i + 1, id) }
        .toDF("rank", "seed_id")
    } finally { base.unpersist(); () }
  }

  /** Semantic decontamination: flag every corpus vector whose cosine
    * to ANY benchmark vector reaches `tau` — the embedding-space
    * complement of the lexical benchmark filters (q69 exact grams,
    * q118 spans): paraphrased eval items that share no n-gram with
    * the benchmark still collide in embedding space.
    *
    * Plan shape: the benchmark side is small by contract (an eval
    * suite) and broadcasts; the corpus scans ONCE through a broadcast
    * nested-loop scoring pass, then one map-side-combined max per
    * corpus id. Nothing shuffles corpus vectors. The cosine is the
    * q28 double contract, so the max and the tau cut replay exactly
    * in SQL. Returns (id, max_cos, contaminated) for every corpus
    * row with a defined cosine; callers anti-join `contaminated`.
    */
  def embedDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, vecCol: String,
                         tau: Double): DataFrame = {
    val b = broadcast(benchmark.select(col(vecCol).as("__bv")))
    corpus.select(col(idCol), col(vecCol).as("__cv"))
      .join(b)
      .withColumn("__cos", cosine(col("__cv"), col("__bv")))
      .filter(col("__cos").isNotNull)
      .groupBy(col(idCol))
      .agg(max(col("__cos")).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= lit(tau))
  }

  /** Per-dimension corpus statistics over an embedding column — the
    * normalization/whitening pre-pass (mean-centering, min-max
    * scaling, dead-dimension detection) a feature pipeline runs
    * before indexing. Means are integer-quantized (⌊10⁶·x⌋ summed as
    * longs — the centroidOutliers contract) so the aggregate is
    * partition-order-free and engine-exact; min/max compare floats
    * exactly.
    *
    * Plan shape: one posexplode + one hash aggregate keyed by
    * dimension index (map-side combined: d partial rows per task, not
    * per vector). The shuffle carries d × tasks rows at any corpus
    * size.
    */
  /** Label-noise scores via k-NN disagreement (confident-learning
    * lite): for each labeled vector, the fraction of its k nearest
    * neighbors carrying a DIFFERENT label — high disagreement flags
    * probable mislabels for relabeling or down-weighting before
    * classifier training.
    *
    * Takes ANY ranked-neighbor frame `(query_id, rank, neighbor_id)` —
    * exact [[cosineTopK]] for audit scale, [[ivfTopK]]/[[lshCosineTopK]]
    * for corpus scale — so the disagreement aggregate never dictates
    * the ANN strategy. The fraction is one exact division of longs.
    *
    * Plan shape: two broadcast label lookups (labels are (id, label) —
    * tiny next to vectors) + one hash aggregate over ≤ |queries|·k
    * rows.
    */
  def labelDisagreement(knn: DataFrame, labels: DataFrame, idCol: String,
                        labelCol: String, k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val own = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("__own"))
    val nbr = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nbr"))
    knn.filter(col("rank") <= k)
      .join(broadcast(own), Seq("query_id"))
      .join(broadcast(nbr), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__own"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("__nbr") =!= col("__own"), 1L).otherwise(0L))
          .as("n_diff"))
      .select(col("query_id").as(idCol), col("__own").as(labelCol),
        col("n_nbrs"), col("n_diff"),
        (col("n_diff").cast("double") / col("n_nbrs").cast("double"))
          .as("noise_frac"))
  }

  def dimStats(corpus: DataFrame, vecCol: String): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("__x").cast("double") * lit(1000000.0))
          .cast("long")).as("sum_q"),
        min(col("__x").cast("double")).as("min_x"),
        max(col("__x").cast("double")).as("max_x"))
      .select((col("__d") + 1).cast("int").as("dim"), col("n"),
        col("sum_q"), col("min_x"), col("max_x"))

  /** Blocked record linkage: candidate pairs share a blocking key
    * (`blockOf` — e.g. a name's leading tokens), verified by
    * codegen'd Jaro–Winkler ([[graft.plans.JaroWinklerSim]]) at
    * threshold `simQMin` on the quantized ⌊10⁶·sim⌋ scale. The
    * entity-resolution primitive for name-like columns, where
    * Levenshtein over-penalizes transpositions.
    *
    * Scale shape: the self-join is an equi-join on the block key —
    * shuffle-partitioned, never a cross product — and candidate count
    * is Σ_b |b|² over block sizes, so the blocking key chooses the
    * cost: tighten it (more leading tokens, or phonetic+length
    * compound) before loosening the threshold. The verify expression
    * runs inside the join's WholeStageCodegen span (no UDF boundary).
    * A corpus-scale skewed block (one giant key) is the salting case —
    * same remedy as any skewed equi-join.
    *
    * @return (id_a, id_b, sim_q) with id_a < id_b, one row per
    *         accepted pair
    */
  def blockedLinkage(df: DataFrame, idCol: String, nameCol: String,
                     blockOf: Column => Column, simQMin: Long): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(nameCol).as("__na"),
      blockOf(col(nameCol)).as("__blk"))
    val b = df.select(col(idCol).as("id_b"), col(nameCol).as("__nb"),
      blockOf(col(nameCol)).as("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // O(n) upper-bound prune before the O(n·window) kernel
      // ([[graft.plans.JaroWinklerUpperBound]]): bound ≥ true sim, so
      // dropping bound-below-threshold pairs is output-identical (the
      // q222 bag-bound recipe; equivalence pinned in JaroWinklerSpec)
      .filter(floor(lit(1000000.0) *
        graft.functions.TextFns.jaroWinklerBound(col("__na"), col("__nb")))
        .cast("long") >= simQMin)
      .withColumn("sim_q",
        floor(lit(1000000.0) *
          graft.functions.TextFns.jaroWinkler(col("__na"), col("__nb")))
          .cast("long"))
      .filter(col("sim_q") >= simQMin)
      .select(col("id_a"), col("id_b"), col("sim_q"))
  }

  /** Margin-based cross-corpus pair mining (the CCMatrix/LASER bitext
    * rule, applied corpus-to-corpus): for each item x of side A, its
    * best candidate y in side B by the RATIO margin
    *
    *   margin(x,y) = cos(x,y) / (avgK(x→B)/2 + avgK(y→A)/2)
    *
    * — raw cosine normalized by both endpoints' local similarity
    * density, which kills hub vectors (high cosine to everything)
    * that a plain threshold would pair promiscuously.
    *
    * Exactness: cos is the shared q28 contract; each avgK is the sum
    * of the k neighbor cosines added IN RANK ORDER (explicit k-term
    * left-to-right chain, not an unordered SUM) divided by 2k, and the
    * final margin is one further division — every fp op has a fixed
    * operand order, so ⌊10⁶·margin⌋ is engine-identical. Pairs whose
    * normalizer is 0 (all-zero neighborhoods) are dropped.
    *
    * Plan shape: two broadcast-query brute scans (A→B, B→A) through
    * the salted [[topKPerQuery]] — at retrieval scale swap those for
    * [[ivfTopK]]; the margin algebra only ever touches the bounded
    * (|A|·k) candidate frame. Output: best pair per A item with
    * `margin_q >= minMarginQ`, ranked deterministically
    * (margin desc, b_id asc).
    */
  def marginPairs(sideA: DataFrame, sideB: DataFrame, idCol: String,
                  vecCol: String, k: Int, minMarginQ: Long,
                  topK: (DataFrame, DataFrame, String, String, Int) => DataFrame =
                    crossTopKFn): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    // rank-ordered k-sum per query: float-exact only if every engine
    // adds in the same order, hence the explicit element chain
    def kSum(knn: DataFrame): DataFrame = {
      val ordered = knn.groupBy(col("query_id"))
        .agg(array_sort(collect_list(struct(col("rank"), col("cos"))))
          .as("__byrank"))
      // get() (0-based) returns null past the end — unlike element_at,
      // which throws under ANSI mode when a query has < k neighbors
      val chain = (1 to k).map(i =>
        coalesce(get(col("__byrank"), lit(i - 1)).getField("cos"), lit(0.0)))
        .reduceLeft(_ + _)
      ordered.select(col("query_id"), chain.as("__ksum"))
    }
    // abKnn feeds TWO consumers (the aDen k-sum and the scored pair
    // frame) and its upstream is the expensive ANN scan; without a
    // materialization Catalyst plans the whole topK subtree twice —
    // the r12-baseline q335 plan had 12 parquet scans of the corpus
    // and zero ReusedExchange nodes (guide §2.4: remove duplicate
    // work feeding exchanges). Both knn frames are bounded (|side|·k
    // rows), so the lazy localCheckpoint is cheap at any corpus scale.
    //
    // With the default brute topK the A→B and B→A scans score the SAME
    // |A|·|B| pair set twice (cosine is bit-symmetric); the fused path
    // scores each pair once and ranks both orientations out of one
    // two-element explode — half the dot products, one materialized
    // (|A|+|B|)·k frame instead of two scans. A caller-supplied topK
    // (the IVF arms) keeps the two scans.
    val (abKnn, baKnn) =
      if (topK eq crossTopKFn) {
        val fused = fusedCrossTopK(sideA, sideB, idCol, vecCol, k).mat
        (fused.filter(col("__o") === 0).drop("__o"),
          fused.filter(col("__o") === 1).drop("__o"))
      } else {
        (topK(sideA, sideB, idCol, vecCol, k).mat,
          topK(sideB, sideA, idCol, vecCol, k))
      }
    val aDen = kSum(abKnn).withColumnRenamed("query_id", "a_id")
      .withColumnRenamed("__ksum", "__sa")
    val bDen = kSum(baKnn).withColumnRenamed("query_id", "b_id")
      .withColumnRenamed("__ksum", "__sb")
    val scored = abKnn
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("cos"))
      .join(broadcast(aDen), Seq("a_id"))
      .join(broadcast(bDen), Seq("b_id"))
      .withColumn("__den",
        col("__sa") / lit(2.0 * k) + col("__sb") / lit(2.0 * k))
      .filter(col("__den") > 0.0 && col("cos").isNotNull)
      .withColumn("margin_q",
        floor(lit(1000000.0) * (col("cos") / col("__den"))).cast("long"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_q").desc, col("b_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("margin_q") >= minMarginQ)
      .select(col("a_id"), col("b_id"), col("margin_q"))
  }

  /** Brute-force top-k of each `queries` row against a DISJOINT corpus
    * (no self-id exclusion — sides are different corpora; null ids
    * rank). [[cosineTopK]]'s fused scoring node, then [[topKPerQuery]].
    */
  private[graft] def crossTopK(queries: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String, k: Int): DataFrame =
    bruteTopK(queries, corpus, idCol, vecCol, k, excludeSelf = false, band = None)

  /** [[crossTopK]] as a stable value, so [[marginPairs]] can recognize
    * the default by reference (a method default arg eta-expands to a
    * fresh lambda per call).
    */
  private val crossTopKFn: (DataFrame, DataFrame, String, String, Int) => DataFrame =
    crossTopK

  /** Both directions of [[crossTopK]] out of ONE scoring pass: score
    * each (a, b) pair once — cosine is bit-symmetric: IEEE multiply
    * commutes per element and [[dot]]'s fold is positional — and rank
    * a 2-element explode of the two
    * orientations, partitioned by (orientation, query). Per
    * orientation, the ranked rows are exactly
    * `topKPerQuery(crossTopK(...), k)`'s: same pair set, same cosine
    * bits, same (cos desc, neighbor_id asc) order.
    *
    * @return (__o ∈ {0: A→B, 1: B→A}, query_id, rank, neighbor_id, cos)
    */
  private def fusedCrossTopK(sideA: DataFrame, sideB: DataFrame,
                             idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(
      sideA.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("__qn")))
    val c = balanced(sideB).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), norm(col(vecCol)).as("__cn"))
    val both = q.crossJoin(c)
      .withColumn("cos", hoistedCosine)
      .select(explode(array(
        struct(lit(0).as("o"), col("query_id"), col("neighbor_id"), col("cos")),
        struct(lit(1).as("o"), col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("cos")))).as("__p"))
      .select(col("__p.o").as("__o"), col("__p.query_id").as("query_id"),
        col("__p.neighbor_id").as("neighbor_id"), col("__p.cos").as("cos"))
    val w = Window.partitionBy(col("__o"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    both.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("__o", "query_id", "rank", "neighbor_id", "cos")
  }

  /** MMR (maximal marginal relevance) diversity re-ranking: from each
    * query's top-`m` candidates, greedily select `k` maximizing
    *
    *   λ·cos(q, c) − (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * — the standard fix for retrieval/coreset selection returning k
    * near-copies of the same best match. λ defaults to 1/2 (exact in
    * binary, so the score arithmetic is engine-identical: one halving
    * of each term and one subtract).
    *
    * The greedy recursion unrolls to `k − 1` DataFrame rounds composed
    * on the driver — each round is a per-query window over ≤ m rows,
    * never a corpus-sized sort, and the candidate/pair frames are
    * localCheckpointed once (m² pair sims per query, computed a single
    * time). Ties break (score desc, id asc); zero-vector candidates
    * (null cosine) never enter the candidate set by [[topKPerQuery]]'s
    * ordering when m < corpus, and a null pair-sim penalizes as 0.
    *
    * @return (query_id, step ∈ 1..k, neighbor_id, score_q = ⌊10⁶·score⌋)
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, m: Int, k: Int): DataFrame = {
    require(k >= 1 && m >= k, s"need m ($m) >= k ($k) >= 1")
    val cvec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val cand = crossTopK(queries, corpus, idCol, vecCol, m)
      .join(cvec, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("__cv"))
      .mat
    val pairSim = cand.select(col("query_id"), col("neighbor_id").as("__ia"),
        col("__cv").as("__va"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("__ib"),
        col("__cv").as("__vb")), Seq("query_id"))
      .filter(col("__ia") =!= col("__ib"))
      .select(col("query_id"), col("__ia"), col("__ib"),
        cosine(col("__va"), col("__vb")).as("__sim"))
      .mat
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__score").desc, col("neighbor_id").asc)
    def pick(scored: DataFrame, step: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), lit(step).as("step"), col("neighbor_id"),
        floor(lit(1000000.0) * col("__score")).cast("long").as("score_q"))
    val first = pick(cand.withColumn("__score", lit(0.5) * col("cos")), 1)
    (2 to k).foldLeft(first) { (selected, step) =>
      val remaining = cand.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val penalty = pairSim
        .join(selected.select(col("query_id"),
          col("neighbor_id").as("__ib")), Seq("query_id", "__ib"))
        .groupBy(col("query_id"), col("__ia").as("neighbor_id"))
        .agg(max(col("__sim")).as("__maxsim"))
      val scored = remaining.join(penalty, Seq("query_id", "neighbor_id"),
          "left")
        .withColumn("__score", lit(0.5) * col("cos") -
          lit(0.5) * coalesce(col("__maxsim"), lit(0.0)))
      selected.unionByName(pick(scored, step))
    }
  }

  /** Core distances and mutual-reachability edges over the k-NN graph
    * — the HDBSCAN-style density primitive, in SIMILARITY space: a
    * point's core similarity is its k-th-neighbor cosine (low core =
    * sparse region), and an edge's mutual-reachability similarity is
    *
    *   mr(a,b) = min(core_a, core_b, cos(a,b))
    *
    * (the mirror of max-of-distances): single-linkage over mr edges
    * is exactly HDBSCAN's mutual-reachability MST step. Cosines
    * quantize ⌊10⁶·cos⌋ BEFORE the min-folds, so every output is an
    * exact integer comparison chain. When a point has fewer than k
    * neighbors (corpus ≤ k) its k-th-neighbor core is UNDEFINED: the
    * core — and every mr edge touching the point — is NULL rather
    * than silently degrading to the last available neighbor. Plan:
    * one brute/ANN top-k, one per-point min, canonicalized edge
    * dedup, two keyed core joins.
    */
  def mutualReachability(df: DataFrame, idCol: String, vecCol: String,
                         k: Int): DataFrame = {
    val knn = cosineTopK(df, df, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * col("cos")).cast("long").as("__cq"))
      .mat
    val core = knn.groupBy(col("query_id").as("__id"))
      .agg(when(count(lit(1)) >= k, min(col("__cq"))).as("__core"))
    val edges = knn.select(
        least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"),
        col("__cq"))
      .groupBy(col("id_a"), col("id_b")).agg(max(col("__cq")).as("cos_q"))
    edges
      .join(core.select(col("__id").as("id_a"), col("__core").as("__ca")),
        Seq("id_a"))
      .join(core.select(col("__id").as("id_b"), col("__core").as("__cb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cos_q"),
        // least() skips NULLs, which would silently drop an undefined
        // core from the min-fold — gate it explicitly instead.
        when(col("__ca").isNotNull && col("__cb").isNotNull,
          least(col("__ca"), col("__cb"), col("cos_q"))).as("mr_sim_q"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Random-pair cosine profile of an embedding space — the
    * anisotropy audit ("is every pair ~0.4 similar?") that predicts
    * whether cosine thresholds and ANN recall will behave before any
    * index is built. All C(cap,2) pairs of a deterministic
    * md5-ordered `cap`-row sample are scored with [[cosine]],
    * quantized ⌊10⁶·cos⌋ and histogrammed into 21 width-0.1 buckets
    * (shift-then-div so negative cosines floor correctly — bare
    * integer div truncates toward zero and would double-width the
    * zero bucket). Zero-norm vectors drop (cosine null).
    *
    * Fixed cap ⇒ corpus-size-independent cost (the bootstrap-gate
    * stance); the corpus feeds only a TakeOrdered sample.
    */
  def anisotropyProfile(df: DataFrame, idCol: String, vecCol: String,
                        cap: Int): DataFrame = {
    require(cap >= 2 && cap <= 4096, s"cap ($cap) must be in [2, 4096]")
    val s = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy(Dedup.md5Hash60(col("__id").cast("string")), col("__id"))
      .limit(cap)
      .mat
    val b = s.select(col("__id").as("__jb"), col("__v").as("__vb"))
    s.crossJoin(broadcast(b)).filter(col("__jb") > col("__id"))
      .select(floor(lit(1000000.0) * cosine(col("__v"), col("__vb")))
        .cast("long").as("__cq"))
      .na.drop()
      .select(expr("((__cq + 1000000) div 100000) - 10").as("bucket"),
        col("__cq"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__cq")).as("sum_cos_q"))
      .orderBy(col("bucket"))
  }

  /** TwoNN intrinsic-dimension estimate of an embedding column
    * (Facco et al. 2017) — the embedding-quality audit that catches
    * collapse a variance profile can't: vectors living on a
    * d-dimensional manifold inside a 64-d ambient space have
    * first-to-second-neighbor distance ratios μ = d₂/d₁ distributed
    * Pareto(d), so d̂ = n / Σ ln μ (the MLE).
    *
    * Cosine geometry: d² = 2(1 − cos), so ln μᵢ = ½·ln((1 − c₂)/(1 − c₁))
    * from the top-2 cosines — each point contributes the DOUBLED term
    *
    *   term_q = ⌊10⁶ · ln((1−c₂)/(1−c₁))⌋      (= 2·ln μ, quantized)
    *
    * and d̂ = 2·n_valid / (Σterm/10⁶), quantized once:
    * id_q = ⌊10⁶ · (2·n_valid·10⁶) / s_l⌋. Points with c₁ = 1 (exact
    * duplicates — d₁ = 0 breaks the ratio; dedup is a different
    * operator) or fewer than two neighbors are excluded and REPORTED
    * via n_valid vs n_points.
    *
    * Plan shape: one brute top-2 kNN ([[cosineTopK]] — map-side
    * partial WindowGroupLimit, broadcast query side) + one pivot agg
    * per query + one fold; at scale the kNN stage swaps for
    * [[ivfTopKIndexed]] unchanged downstream.
    *
    * @return one row (n_points, n_valid, sum_logratio_q, id_q)
    */
  def twoNN(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val knn = cosineTopK(emb, emb, idCol, vecCol, k = 2)
    val piv = knn.groupBy(col("query_id"))
      .agg(max(when(col("rank") === 1, col("cos"))).as("__c1"),
        max(when(col("rank") === 2, col("cos"))).as("__c2"))
      .filter(col("__c1").isNotNull && col("__c2").isNotNull &&
        col("__c1") < 1.0)
      .select(floor(lit(1.0e6) *
        log((lit(1.0) - col("__c2")) / (lit(1.0) - col("__c1"))))
        .cast("long").as("__term"))
    val nPoints = emb.agg(count(lit(1)).as("n_points"))
    piv.agg(count(lit(1)).as("n_valid"),
        sum(col("__term")).as("sum_logratio_q"))
      .crossJoin(nPoints)
      .select(col("n_points"), col("n_valid"), col("sum_logratio_q"),
        when(col("sum_logratio_q") > 0,
          floor(lit(1.0e6) *
            (lit(2000000L) * col("n_valid")).cast("double") /
            col("sum_logratio_q").cast("double")).cast("long"))
          .as("id_q"))
  }
}
