package graft.operators

import graft.operators.Mat._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.annotation.tailrec
import scala.collection.mutable

/** Similarity-graph analytics over kNN frames — the graph layer a
  * curation pipeline builds ON TOP of ANN results: mutual-edge
  * extraction, triangle counting, local clustering coefficients
  * (community density of each item's neighborhood), and bounded-round
  * label propagation for semi-supervised labeling from a small seed
  * set.
  *
  * Everything is expressed over edge frames with degree bounded by the
  * kNN's k, which is what makes the classically-scary ops (triangle
  * join) linear-ish: wedge count is Σ deg² ≤ n·k², never corpus².
  */
object Graph {

  /** Undirected mutual-kNN edges from a directed knn frame
    * `(query_id, neighbor_id)`: an edge survives iff BOTH directions
    * are present (the standard symmetrization that kills hub-induced
    * one-way edges), emitted once with `a < b`.
    */
  def mutualEdges(knn: DataFrame): DataFrame = {
    // d is referenced twice (probe side + reversed build side) and its
    // upstream is typically the full kNN pipeline; the result is
    // referenced 2–5× by every downstream graph op (symmetrization
    // unions, degree aggs, wedge self-joins). Without materialization
    // Catalyst re-plans the kNN once per reference — the r12-baseline
    // q241 plan held 56 parquet scans and zero ReusedExchange (guide
    // §2.4). Both frames are ≤ |knn| rows; lazy localCheckpoints keep
    // the kNN single-pass at any scale.
    val d = knn.select(col("query_id").as("a"), col("neighbor_id").as("b"))
      .distinct()
      .mat
    val rev = d.select(col("b").as("a"), col("a").as("b"))
    d.join(rev, Seq("a", "b"), "left_semi")
      .filter(col("a") < col("b"))
      .mat
  }

  /** Per-vertex triangle counts and local clustering coefficients over
    * an undirected edge frame (`a < b` canonical form, deduplicated).
    *
    * Triangles enumerate once each as ordered (x < y < z): wedges
    * (x,y)+(x,z) with y < z close on edge (y,z). Per-vertex count =
    * triangles touching the vertex; local clustering coefficient =
    * 2·T_v / (deg_v·(deg_v−1)), quantized ⌊10⁶·⌋, 0 when deg < 2.
    *
    * Scale shape: the wedge build is a self-equi-join on the lower
    * endpoint (Σ deg² rows — bounded by n·k² on a kNN graph), the
    * closing check one more equi-join; per-vertex aggregation is a
    * hash agg over exploded triangle corners. A power-law hub in a
    * GENERAL graph makes Σ deg² quadratic — on symmetrized kNN input
    * degrees are capped at k by construction, which is the documented
    * contract.
    *
    * @return (id, degree, triangles, clustering_q)
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // four references (degree agg, two wedge sides, the closing join)
    val e = edges.select(col("a"), col("b")).mat
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x"))
      .filter(col("y") < col("z"))
    val tri = wedges.join(e.select(col("a").as("y"), col("b").as("z")),
      Seq("y", "z"))
    val perVertex = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(perVertex, Seq("id"), "left")
      .na.fill(0L, Seq("triangles"))
      .withColumn("clustering_q",
        when(col("degree") >= 2,
          floor(lit(1000000.0) * (lit(2L) * col("triangles")).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
            .cast("long"))
          .otherwise(lit(0L)))
  }

  /** Rich-club coefficient curve over an undirected edge frame
    * (`a < b` canonical form): for each degree threshold k in
    * 1..maxK, restrict to the "club" of nodes with degree > k and
    * measure how densely they interconnect —
    *
    *   φ(k) = 2·E_k / (N_k·(N_k−1)),
    *
    * quantized ⌊10⁶·⌋ (NULL when N_k < 2). φ(k) → 1 means the
    * high-degree nodes form a near-clique (hub oligarchy — in a kNN
    * graph over embeddings, a hubness symptom the q283 k-occurrence
    * profile sees from the other side); φ(k) near the global density
    * means degree carries no club structure.
    *
    * Plan: one degree hash agg, degrees joined back to each edge
    * endpoint (two broadcast-able id joins), then ONE explode of the
    * bounded 1..maxK threshold range on the edge/node frames feeding
    * two hash aggs — no per-k rescan of the graph, no join wider than
    * the edge list. maxK is a small constant (degree cap = k on
    * symmetrized kNN input), so the explode multiplies bounded frames
    * by a constant.
    *
    * @return (k, n_nodes, n_edges, phi_q) ordered by k
    */
  def richClub(edges: DataFrame, maxK: Int): DataFrame = {
    require(maxK >= 1 && maxK <= 64, s"maxK ($maxK) must be in [1, 64]")
    val e = edges.select(col("a"), col("b")).mat
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
      .mat
    val ks = explode(sequence(lit(1), lit(maxK))).as("k")
    val nodesPerK = deg.select(col("__d"), ks)
      .filter(col("__d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ed = e
      .join(deg.select(col("id").as("a"), col("__d").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("__d").as("__db")), Seq("b"))
    val edgesPerK = ed.select(least(col("__da"), col("__db")).as("__m"), ks)
      .filter(col("__m") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    nodesPerK.join(edgesPerK, Seq("k"), "left")
      .na.fill(0L, Seq("n_edges"))
      .select(col("k").cast("int").as("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") >= 2,
          floor(lit(1000000.0) * (lit(2L) * col("n_edges")).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
            .cast("long")).as("phi_q"))
  }

  /** Bounded-round label propagation from a seed set: each round,
    * every still-unlabeled vertex adopts the MAJORITY label among its
    * already-labeled kNN neighbors (ties → smallest label); seeds and
    * previously-assigned labels are clamped. Returns one row per
    * labeled vertex with the round it was assigned (0 = seed).
    * Vertices unreached within `rounds` are absent — the caller
    * decides their fate (human review, default bucket).
    *
    * Plan: `rounds` driver-composed iterations, each = one equi-join
    * of the edge frame against the current label table + one hash
    * aggregate + one bounded per-vertex window (≤ distinct labels
    * rows per vertex). Label table grows monotonically; the join is
    * label-table-sized, not corpus-sized, on early rounds.
    */
  def labelPropagate(knn: DataFrame, seeds: DataFrame, idCol: String,
                     labelCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    // edges is referenced once per round (often an expensive kNN
    // pipeline upstream) and each round's label frame is referenced
    // THREE times by the next round (vote join, anti-join, union) —
    // without materialization the plan tree grows ~3× per round and
    // the kNN subtree is planned `rounds` times (the r12-baseline q185
    // cold pass re-planned the full corpus scan per round). Lazy
    // localCheckpoints linearize both (guide §2.4 / §3.3 plan
    // truncation); results are unchanged.
    val edges = knn.select(col("query_id").as("__v"),
      col("neighbor_id").as("__n"))
      .mat
    val seed = seeds.select(col(idCol).as("__v"),
      col(labelCol).as("label"), lit(0).as("round_assigned"))
    (1 to rounds).foldLeft(seed) { (labels, round) =>
      val votes = edges
        .join(labels.select(col("__v").as("__n"), col("label")), Seq("__n"))
        .join(labels.select(col("__v")), Seq("__v"), "left_anti")
        .groupBy(col("__v"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__v"))
        .orderBy(col("__c").desc, col("label").asc)
      val newly = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__v"), col("label"), lit(round).as("round_assigned"))
      labels.unionByName(newly).mat
    }.withColumnRenamed("__v", idCol)
  }

  /** Bounded-round INTEGER PageRank over an undirected edge frame
    * (`a < b` canonical form, e.g. [[mutualEdges]] output) — the
    * centrality score a curation pipeline uses to pick authoritative
    * representatives inside near-duplicate neighborhoods.
    *
    * Every quantity lives on a fixed integer grid so the result is
    * bit-identical on any engine and any partition order:
    *
    *   r⁰_v  = ⌊Q/N⌋                                (Q = 10¹²)
    *   rᵗ⁺¹_v = ⌊3·Q/(20·N)⌋ + Σ_{u∈adj(v)} ⌊17·rᵗ_u/(20·deg_u)⌋
    *
    * i.e. damping d = 17/20 with the floor applied per CONTRIBUTION
    * (so each edge ships one exact long and the per-vertex sum is
    * order-free; 17·r ≤ 17·10¹² never overflows). Isolated vertices
    * don't exist by construction (every vertex is an edge endpoint),
    * so there is no dangling-mass term.
    *
    * Plan: `rounds` driver-composed iterations, each ONE equi-join of
    * the (symmetrized) edge frame with the current rank table + one
    * hash aggregate — the classic Pregel step as two shuffles on the
    * vertex id. Degrees are computed once and carried in the rank
    * table so iterations never re-join the degree frame.
    *
    * @return (id, degree, rank_q) — rank on the Q = 10¹² grid
    */
  def pageRank(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds ($rounds) must be in [1, 20]")
    val Q = 1000000000000L
    // compute-once: the edge frame (often an expensive kNN pipeline)
    // is touched per round, and each round's rank table feeds the
    // next twice — without materialization lineage re-executes the
    // whole upstream once per round (and grows exponentially in the
    // fold). localCheckpoint keeps every iteration ONE join + one agg.
    // materialize the input once BEFORE the symmetrizing union — both
    // union arms otherwise execute the upstream edge pipeline (kNN,
    // co-occurrence aggregation, ...) independently (guide §2.4)
    val e0 = edges.select(col("a"), col("b")).mat
    val sym = e0.select(col("a").as("__u"), col("b").as("__v"))
      .unionByName(e0.select(col("b").as("__u"), col("a").as("__v")))
      .mat
    val deg = sym.groupBy(col("__u")).agg(count(lit(1)).as("__deg"))
    val n = deg.select(lit(1).as("__one"),
      count(lit(1)).cast("long").as("__n"))
    val r0 = deg.crossJoin(broadcast(n).drop("__one"))
      .select(col("__u"), col("__deg"), col("__n"),
        expr(s"${Q}L div __n").as("__r"))
      .mat
    val ranks = (1 to rounds).foldLeft(r0) { (r, _) =>
      val contrib = sym
        .join(r.select(col("__u"), col("__deg"), col("__r")), Seq("__u"))
        .select(col("__v").as("__u"),
          expr("(17L * __r) div (20L * __deg)").as("__c"))
        .groupBy(col("__u")).agg(sum(col("__c")).as("__in"))
      r.select(col("__u"), col("__deg"), col("__n"))
        .join(contrib, Seq("__u"))
        .select(col("__u"), col("__deg"), col("__n"),
          (expr(s"(3L * ${Q}L) div (20L * __n)") + col("__in"))
            .cast("long").as("__r"))
        .mat
      // inner join is lossless: every vertex has degree >= 1, so every
      // vertex receives at least its own neighbors' contributions
    }
    ranks.select(col("__u").as("id"), col("__deg").as("degree"),
      col("__r").as("rank_q"))
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * restricted to a SEED set — the "relevance to these examples"
    * ranking (seed = a benchmark, a curated batch, a topic exemplar
    * set) that spreads proximity over the similarity graph instead of
    * global centrality. Same integer-exact iteration at scale
    * Q = 10¹² with damping 17/20; the teleport term
    * (3Q) div (20·|S|) lands ONLY on seed vertices (seeds absent from
    * the graph are ignored; |S| counts present seeds). Vertices
    * unreachable from the seed set decay to rank 0 — the signal, not
    * an error.
    *
    * Plan: pageRank's shape plus one broadcast-able seed-flag join at
    * init — per round still one edge join + one hash agg, rank table
    * localCheckpoint'd.
    *
    * @param seeds one column `id`
    * @return (id, degree, seed, rank_q)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds ($rounds) must be in [1, 20]")
    val Q = 1000000000000L
    // materialize the input once BEFORE the symmetrizing union — both
    // union arms otherwise execute the upstream edge pipeline (kNN,
    // co-occurrence aggregation, ...) independently (guide §2.4)
    val e0 = edges.select(col("a"), col("b")).mat
    val sym = e0.select(col("a").as("__u"), col("b").as("__v"))
      .unionByName(e0.select(col("b").as("__u"), col("a").as("__v")))
      .mat
    val deg = sym.groupBy(col("__u")).agg(count(lit(1)).as("__deg"))
      .join(seeds.select(col("id").as("__u"), lit(1L).as("__seed")),
        Seq("__u"), "left")
      .select(col("__u"), col("__deg"),
        coalesce(col("__seed"), lit(0L)).as("__seed"))
    val s = deg.select(lit(1).as("__one"),
      sum(col("__seed")).cast("long").as("__s"))
    val r0 = deg.crossJoin(broadcast(s).drop("__one"))
      .select(col("__u"), col("__deg"), col("__seed"), col("__s"),
        when(col("__seed") === 1, expr(s"${Q}L div __s")).otherwise(lit(0L))
          .as("__r"))
      .mat
    val ranks = (1 to rounds).foldLeft(r0) { (r, _) =>
      val contrib = sym
        .join(r.select(col("__u"), col("__deg"), col("__r")), Seq("__u"))
        .select(col("__v").as("__u"),
          expr("(17L * __r) div (20L * __deg)").as("__c"))
        .groupBy(col("__u")).agg(sum(col("__c")).as("__in"))
      r.select(col("__u"), col("__deg"), col("__seed"), col("__s"))
        .join(contrib, Seq("__u"))
        .select(col("__u"), col("__deg"), col("__seed"), col("__s"),
          (when(col("__seed") === 1,
            expr(s"(3L * ${Q}L) div (20L * __s)")).otherwise(lit(0L)) +
            col("__in")).cast("long").as("__r"))
        .mat
    }
    ranks.select(col("__u").as("id"), col("__deg").as("degree"),
      col("__seed").as("seed"), col("__r").as("rank_q"))
  }

  /** Bounded-round k-core peel over an undirected edge frame (`a < b`
    * canonical form, e.g. [[mutualEdges]] output): repeatedly drop
    * vertices of degree < k until none remain (or `rounds` is
    * exhausted — the GATE semantics are the bounded-round peel, which
    * is deterministic whether or not the fixpoint was reached; the
    * spec separately proves small graphs converge well inside the
    * bound). The surviving subgraph is the k-core — the density
    * skeleton curation uses to separate genuinely clustered near-dup
    * regions from stray mutual edges (degree-1/2 tendrils peel away,
    * cliques survive).
    *
    * Plan: each round is ONE hash aggregate (degrees over the current
    * edge frame) + two anti-joins of the edge frame against the dead
    * vertices — all shuffles keyed on vertex id, nothing wider than
    * (id, long). Each round's frame is localCheckpoint'd so lineage
    * stays linear in rounds and early rounds' full-corpus upstream
    * (often a kNN pipeline) is never re-executed. A round that removes
    * nothing short-circuits the loop (one cheap count per round —
    * driver-side but O(rounds), never O(N)).
    *
    * Once the surviving edges fit under [[LocalPeelMaxEdges]] (2²⁰
    * edges, ≤ 48 B each in the task), the remaining rounds and the
    * final degrees run in ONE task over primitive arrays (see [[peel]])
    * — the same algebra, so the output is identical to the distributed
    * rounds'. LongType ids only; other id types stay distributed.
    *
    * Worst case rounds-to-fixpoint is O(diameter) (a path with k=2
    * peels from the ends inward); on the bounded-degree kNN graphs
    * this operator targets, depth in practice is small — pass `rounds`
    * generously and read `converged` in the companion spec.
    *
    * @return (id, core_degree) for vertices of the k-core, with their
    *         degree INSIDE the core
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kCore(edges, k, rounds, LocalPeelMaxEdges)

  /** [[kCore]] with the one-task cap given: specs pass -1 to force the
    * distributed rounds, or a cap between two rounds' counts to switch
    * mid-loop. */
  private[graft] def kCore(edges: DataFrame, k: Int, rounds: Int,
      localMaxEdges: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(rounds >= 1 && rounds <= 64, s"rounds ($rounds) must be in [1, 64]")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("id"))
        .unionByName(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("core_degree"))
    // the anti-join peel below is equivalent to the alive-set semi-join
    // only for NON-NULL endpoints (a null endpoint never matches the
    // dead set, so its edge would survive every round) — enforce the
    // precondition here instead of assuming it of callers; a no-op for
    // mutualEdges-shaped input, whose a < b filter already drops nulls
    val start = edges.select(col("a"), col("b")).na.drop()
    val schema = StructType(Seq(
      StructField("id", LongType, start.schema.exists(_.nullable)),
      StructField("core_degree", LongType, nullable = false)))
    peel(start, rounds, localMaxEdges)(
      // peel by ANTI-joining the DEAD set (degree < k) instead of
      // semi-joining the alive set: after round one the dead set is
      // the handful of vertices that just dropped below k, so the
      // join's build side is small enough for a broadcast hash join
      // (guide §3.1) — the alive-side semi-join build was always
      // ~|V|. Identical semantics: an edge survives iff neither
      // endpoint is dead.
      round = cur => {
        val dead = degrees(cur).filter(col("core_degree") < k)
        cur
          .join(dead.select(col("id").as("a")), Seq("a"), "left_anti")
          .join(dead.select(col("id").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b"))
      },
      finish = cur => degrees(cur).filter(col("core_degree") >= k),
      localSchema = schema,
      localFinish = (g, left) => {
        g.peelRounds(left) { () =>
          val deg = g.degrees()
          g.retain(c => deg(g.src(c)) >= k && deg(g.dst(c)) >= k)
        }
        val deg = g.degrees()
        Iterator.range(0, g.vertices).filter(v => deg(v) >= k)
          .map(v => Row(g.ids(v), deg(v)))
      })
  }

  /** Edge count at or under which [[kCore]] and [[kTruss]] finish in one
    * task. The task's arrays hold at most 48 B per edge: 16 for the
    * sorted vertex ids (up to two per edge), 8 for the packed edge key,
    * 4 for its multiplicity, 1 for its alive flag, and 16 for one
    * round's counts (kCore: a long degree per vertex; kTruss: a long
    * support per edge plus an int row start per vertex). The 16 B per
    * edge of rows as read are garbage before the counts exist. So
    * ≤ 48 MiB at the cap.
    */
  private[graft] val LocalPeelMaxEdges: Int = 1 << 20

  /** The peel loop [[kCore]] and [[kTruss]] share: materialize and count
    * `start`, then either finish in one task — once the count is
    * ≤ `localMaxEdges` and both ids are LongType — or run one
    * distributed `round` and count again. A round that removes nothing
    * or empties the frame ends the loop, as does the `rounds` budget,
    * and `finish` builds the output from the last frame.
    *
    * The one-task finish is `repartition(1).mapPartitions`: it runs the
    * rounds left of the budget (with the same early exit) and builds
    * the output rows (`localSchema`) in memory. Nothing is collected to
    * the driver and the result stays lazy, so every round after the
    * switch costs no Spark job.
    */
  private def peel(start: DataFrame, rounds: Int, localMaxEdges: Int)(
      round: DataFrame => DataFrame, finish: DataFrame => DataFrame,
      localSchema: StructType,
      localFinish: (PeelGraph, Int) => Iterator[Row]): DataFrame = {
    val longIds = start.schema.forall(_.dataType == LongType)
    @tailrec def loop(cur: DataFrame, curCount: Long, r: Int,
        done: Boolean): DataFrame =
      if (longIds && curCount <= localMaxEdges) {
        val (n, left) = (curCount.toInt, rounds - r)
        cur.repartition(1).mapPartitions(rows =>
          localFinish(PeelGraph(rows, n), left))(Encoders.row(localSchema))
      } else if (done || r == rounds) finish(cur)
      else {
        val next = round(cur).mat
        val nextCount = next.count()
        loop(next, nextCount, r + 1,
          nextCount == curCount || nextCount == 0L)
      }
    val cur = start.mat
    val n = cur.count()
    loop(cur, n, 0, n == 0L)
  }

  /** Adamic–Adar link prediction over an undirected edge frame
    * (`a < b` canonical form, e.g. [[mutualEdges]] output): for every
    * NON-adjacent pair sharing at least one common neighbor,
    *
    *   score(x,y) = Σ_{z ∈ CN(x,y)} ⌊10⁹ / ln(deg_z)⌋
    *
    * — the inverse-log common-neighbor weight, quantized per NEIGHBOR
    * before the integer sum so the score is order-free and
    * engine-exact (the q166 ln contract). deg_z ≥ 2 always holds for
    * a common neighbor (z touches both x and y), so ln never sees 1.
    * The top `topK` predicted links are returned, ranked
    * (score DESC, x ASC, y ASC).
    *
    * Scale shape: candidate pairs come from the wedge self-join on the
    * common neighbor (Σ deg² rows — n·k² on a kNN graph, never
    * corpus²); adjacency removal is one anti-join; the global top-k is
    * `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject
    * — each task forwards at most k rows, no global sort ever
    * materializes.
    *
    * `maxDegree` (opt-in, 0 = off) removes the kNN-input contract: on
    * an ARBITRARY skewed graph one hub of degree d contributes d²
    * wedges — quadratic in the hub's reach — so with the cap set,
    * vertices with symmetric degree > maxDegree are excluded as wedge
    * INTERMEDIARIES (they keep their x/y endpoint roles and their true
    * degree in every weight). Wedge volume is then ≤ n·maxDegree² for
    * any input. The semantics mirror the q29 `maxBandBucket` pattern —
    * a deterministic documented drop, not a sample — and the dropped
    * terms are exactly the ones the 1/ln(deg) weight already sends
    * toward zero: a hub past the cap contributes ≤ ⌊10⁹/ln(cap)⌋ per
    * pair, the smallest weight class in the sum.
    *
    * @return (x, y, common_neighbors, aa_q) — top `topK` candidate links
    */
  def adamicAdar(edges: DataFrame, topK: Int, maxDegree: Int = 0): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    // e anchors five references (degree agg, both wedge sides, the
    // adjacency anti-join) — materialize once so the upstream edge
    // pipeline is planned and executed a single time (guide §2.4).
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("__deg"))
    val adjAll = sym.select(col("a").as("z"), col("b").as("x"))
    val adj =
      if (maxDegree <= 0) adjAll
      else adjAll.join(
        deg.filter(col("__deg") <= maxDegree).select(col("z")), Seq("z"))
    val wedges = adj
      .join(adj.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val cand = wedges.join(
      e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_anti")
    cand
      .join(deg, Seq("z"))
      .withColumn("__wq",
        floor(lit(1.0e9) / log(col("__deg").cast("double"))).cast("long"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("__wq")).as("aa_q"))
      .orderBy(col("aa_q").desc, col("x").asc, col("y").asc)
      .limit(topK)
  }

  /** Bounded-round INTEGER HITS over a DIRECTED edge frame
    * `(src, dst)` (e.g. a raw kNN frame before symmetrization) — the
    * hub/authority split PageRank can't see: on a kNN graph a high
    * AUTHORITY is a vector many queries agree on (a density mode worth
    * keeping); a high HUB is a vector whose neighborhood spans many
    * authorities (a boundary/bridge point). Curation uses the pair to
    * pick cluster representatives (authority) and flag outlier bridges
    * (hub ≫ authority).
    *
    * Integer grid (Q = 10¹²), L1-normalized per half-step so every
    * engine and partition order agrees bit-for-bit:
    *
    *   h⁰_v = Q
    *   aᵗ_v = ⌊Q · Σ_{u→v} hᵗ⁻¹_u / Σ_w in_raw_w⌋
    *   hᵗ_v = ⌊Q · Σ_{v→u} aᵗ_u  / Σ_w out_raw_w⌋
    *
    * Raw sums accumulate as decimal(38,0): Σ over E edges of values
    * ≤ Q reaches E·10¹², past long at corpus scale; the normalized
    * scores are ≤ Q and land back in long. The classic L2
    * normalization is replaced by L1 deliberately — it's the one norm
    * whose normalizer is an exact integer sum (no sqrt on the grid),
    * and HITS rankings are norm-invariant.
    *
    * Plan: per round TWO equi-join + hash-agg steps (edge ⋈ score on
    * one endpoint, group by the other) plus one single-row total
    * broadcast back — the Pregel shape; no shuffle touches anything
    * wider than (id, long). Vertices missing a side (no in-edges / no
    * out-edges) carry 0 for that score and stay in the output.
    *
    * @return (id, out_degree, in_degree, hub_q, auth_q)
    */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds ($rounds) must be in [1, 10]")
    val Q = 1000000000000L
    val e = edges.select(col("src").as("__s"), col("dst").as("__d"))
      .distinct()
      .mat
    val verts = e.select(col("__s").as("__v"))
      .unionByName(e.select(col("__d").as("__v")))
      .distinct()
      .mat
    // one L1-normalized half-step: raw_v = Σ joinSide score, then
    // scale to the Q grid by the exact integer total
    def halfStep(score: DataFrame, scoreCol: String,
                 joinKey: String, groupKey: String, outCol: String): DataFrame = {
      val raw = e.join(score.select(col("__v").as(joinKey), col(scoreCol)),
          Seq(joinKey))
        .groupBy(col(groupKey).as("__v"))
        .agg(sum(col(scoreCol).cast("decimal(38,0)")).as("__raw"))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      // Sparse carrier: a vertex absent from `raw` holds score 0, and
      // 0-score rows contribute 0 to the next half-step's sums — so
      // skipping the per-half-step full-vertex rejoin (one shuffle
      // join per half-step, two per round — guide §2.4) is
      // output-identical once zeros are coalesced back in the final
      // projection below.
      raw.crossJoin(broadcast(tot))
        .select(col("__v"),
          expr(s"CAST((CAST(${Q}L AS DECIMAL(38,0)) * __raw) div __tot AS LONG)")
            .as(outCol))
        .mat
    }
    val h0 = verts.select(col("__v"), lit(Q).as("__h"))
    val (hubs, auths) = (1 to rounds).foldLeft((h0, h0.select(col("__v"), lit(0L).as("__a")))) {
      case ((h, _), _) =>
        val a = halfStep(h, "__h", "__s", "__d", "__a")
        val h2 = halfStep(a, "__a", "__d", "__s", "__h")
        (h2, a)
    }
    val outDeg = e.groupBy(col("__s").as("__v")).agg(count(lit(1)).as("out_degree"))
    val inDeg = e.groupBy(col("__d").as("__v")).agg(count(lit(1)).as("in_degree"))
    verts
      .join(outDeg, Seq("__v"), "left")
      .join(inDeg, Seq("__v"), "left")
      .join(hubs, Seq("__v"), "left")
      .join(auths, Seq("__v"), "left")
      .select(col("__v").as("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("__h"), lit(0L)).as("hub_q"),
        coalesce(col("__a"), lit(0L)).as("auth_q"))
  }

  /** Degree assortativity of an undirected edge frame (`a < b`
    * canonical form): the Pearson correlation of endpoint degrees over
    * the symmetrized edge list — positive when high-degree vertices
    * attach to each other (a social-network shape), negative when hubs
    * attach to leaves (a star/hub shape). On a similarity graph a
    * strongly negative r flags hub domination: a few "generic" items
    * near everything, the same pathology [[kOccurrenceProfile]]
    * measures from the directed side.
    *
    * With M = 2|E| directed edges and exact integer sums
    * Sx = Σ deg_u, Sxy = Σ deg_u·deg_v, Sxx = Σ deg_u² (symmetry makes
    * Sx = Sy, Sxx = Syy):
    *
    *   r = (M·Sxy − Sx²) / (M·Sxx − Sx²)
    *
    * — all integer until ONE final quantized division (⌊10¹²·r⌋).
    * Plan: one degree hash agg, two broadcast-able joins of the degree
    * table onto the edge list, one scalar agg. Never materializes
    * anything bigger than the edge list.
    *
    * @return one row: (m_edges, sx, sxy, sxx, assortativity_q)
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("__v"))
      .agg(count(lit(1)).as("__deg"))
    val joined = sym
      .join(deg.select(col("__v").as("a"), col("__deg").as("__da")), Seq("a"))
      .join(deg.select(col("__v").as("b"), col("__deg").as("__db")), Seq("b"))
    joined.agg(
        count(lit(1)).as("m_edges"),
        sum(col("__da").cast("decimal(38,0)")).as("sx"),
        sum((col("__da") * col("__db")).cast("decimal(38,0)")).as("sxy"),
        sum((col("__da") * col("__da")).cast("decimal(38,0)")).as("sxx"))
      .select(col("m_edges"),
        col("sx").cast("long").as("sx"),
        col("sxy").cast("long").as("sxy"),
        col("sxx").cast("long").as("sxx"),
        when(col("m_edges") * col("sxx") - col("sx") * col("sx") =!= lit(0),
          floor(lit(1000000000000.0) *
            (col("m_edges") * col("sxy") - col("sx") * col("sx"))
              .cast("double") /
            (col("m_edges") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).cast("long"))
          .as("assortativity_q"))
  }

  /** Hubness audit of a directed kNN frame: the k-occurrence N_k(x) =
    * how many queries list x among their top-k. In high dimensions the
    * N_k distribution grows a heavy right tail ("hubs" that appear in
    * everyone's neighbor list while "anti-hubs" appear in none) — a
    * standard intrinsic-dimensionality red flag for an embedding space
    * (Radovanović et al., JMLR 2010): hub-dominated neighborhoods make
    * every kNN-based downstream op (dedup, label propagation, retrieval)
    * quietly worse.
    *
    * Returns the full k-occurrence histogram over `ids` (anti-hubs
    * included via a left join, k_occ = 0) with the distribution's
    * skewness repeated on each row:
    *
    *   skew = S3·√n / (S2·√S2),   Sm = Σ (n·N_i − ΣN)^m
    *
    * — exact decimal sums, then two IEEE-exact sqrts and three
    * correctly-rounded fp ops, quantized ⌊10⁶·⌋ (NULL when S2 = 0).
    *
    * Plan: one hash agg over the kNN edge list, one broadcast-able
    * left join onto the id frame, two scalar aggs — never more than
    * n·k rows in flight.
    *
    * @param knn directed frame with `neighbor_id`
    * @param ids one row per corpus point, column `id`
    * @return (k_occ, n_points, skew_q) ordered by k_occ
    */
  def kOccurrenceProfile(knn: DataFrame, ids: DataFrame): DataFrame = {
    val occ = knn.groupBy(col("neighbor_id").as("id"))
      .agg(count(lit(1)).as("__occ"))
    val perPoint = ids.select(col("id"))
      .join(occ, Seq("id"), "left")
      .select(coalesce(col("__occ"), lit(0L)).as("__occ"))
    val tot = perPoint.agg(count(lit(1)).as("__n"),
      sum(col("__occ")).as("__e"))
    val moments = perPoint.crossJoin(broadcast(tot))
      .select((col("__n") * col("__occ") - col("__e")).as("__c"),
        col("__n"))
      .select(col("__n"), col("__c"),
        col("__c").cast("decimal(38,0)").as("__cd"))
      .agg(max(col("__n")).as("__n"),
        sum((col("__c") * col("__c")).cast("decimal(38,0)")).as("__s2"),
        sum(col("__cd") * col("__cd") * col("__cd")).as("__s3"))
      .select(col("__n"),
        when(col("__s2") > 0,
          floor(lit(1000000.0) *
            col("__s3").cast("double") * sqrt(col("__n").cast("double")) /
            (col("__s2").cast("double") * sqrt(col("__s2").cast("double"))))
            .cast("long"))
          .as("skew_q"))
    perPoint.groupBy(col("__occ").as("k_occ"))
      .agg(count(lit(1)).as("n_points"))
      .crossJoin(broadcast(moments.select(col("skew_q"))))
      .select(col("k_occ"), col("n_points"), col("skew_q"))
  }

  /** Truncated Katz centrality: `rounds` terms of Σ_r α^r·(Aᵀ)^r·1 —
    * the walk-counting centrality that (unlike [[pageRank]]) rewards
    * being NEAR well-connected nodes without degree-normalizing away
    * hub adjacency. α = 1/alphaDen with a power-friendly integer
    * denominator, so each round is ONE exact integral division:
    *
    *   x'_u = β_q + (Σ_{v∈N(u)} x_v) div alphaDen
    *
    * (β_q = 10⁶; for the mutual-kNN graphs here max degree ≤ k, so
    * any alphaDen > k keeps even the untruncated series convergent —
    * the fixed-round truncation never diverges regardless). Same
    * materialize-per-round discipline as [[pageRank]]: each iteration
    * is one join + one agg over the checkpointed edge list, rounds
    * are bounded — no lineage blow-up, no driver data.
    */
  def katz(edges: DataFrame, rounds: Int, alphaDen: Long = 8L): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds ($rounds) must be in [1, 20]")
    require(alphaDen >= 2L, s"alphaDen ($alphaDen) must be >= 2")
    val betaQ = 1000000L
    // materialize the input once BEFORE the symmetrizing union — both
    // union arms otherwise execute the upstream edge pipeline (kNN,
    // co-occurrence aggregation, ...) independently (guide §2.4)
    val e0 = edges.select(col("a"), col("b")).mat
    val sym = e0.select(col("a").as("__u"), col("b").as("__v"))
      .unionByName(e0.select(col("b").as("__u"), col("a").as("__v")))
      .mat
    val deg = sym.groupBy(col("__u")).agg(count(lit(1)).as("__deg"))
    val x0 = deg.withColumn("__x", lit(betaQ))
      .mat
    val ranks = (1 to rounds).foldLeft(x0) { (x, _) =>
      val inc = sym.join(x.select(col("__u"), col("__x")), Seq("__u"))
        .groupBy(col("__v").as("__u")).agg(sum(col("__x")).as("__in"))
      x.select(col("__u"), col("__deg"))
        .join(inc, Seq("__u"))
        .select(col("__u"), col("__deg"),
          (lit(betaQ) + expr(s"__in div ${alphaDen}L")).as("__x"))
        .mat
    }
    ranks.select(col("__u").as("id"), col("__deg").as("degree"),
      col("__x").as("katz_q"))
  }

  /** Newman modularity of a GIVEN vertex partition over a canonical
    * undirected edge frame (`a < b`, deduplicated) — "how much more
    * intra-community edge mass than a degree-preserving random graph
    * would have": the standard objective every community detection
    * (label propagation q185, density clusters q328) is scored by.
    *
    *   Q = Σ_c ( e_c/m − (d_c / 2m)² )
    *
    * evaluated on the DIRECTED-symmetric counts m2 = 2m, e2_c (both
    * directions of intra-c edges), d_c (degree mass in c), so every
    * per-community contribution is ONE exact decimal(38,0) integer
    * division: contrib_q = ⌊10⁹·(e2_c·m2 − d_c²) / m2²⌋ — no float
    * anywhere, partition-order free. Unlabeled endpoints drop with
    * their edges (documented; mirror the label frame's coverage).
    *
    * Plan: symmetrize → two broadcast-able label joins → one hash agg
    * to the community grid → one bounded agg for the total; never
    * more than 2·|E| rows in flight.
    *
    * @param edges  canonical undirected edges (a, b), a < b
    * @param labels (id, community) — one row per labeled vertex
    * @return per-community (community, n_nodes, e2_in, d_c, contrib_q)
    *         with the partition total modularity_q repeated, ordered
    *         by community
    */
  def modularity(edges: DataFrame, labels: DataFrame, idCol: String,
                 communityCol: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val lab = labels.select(col(idCol).as("__id"),
      col(communityCol).as("__c")).na.drop()
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .join(lab.select(col("__id").as("a"), col("__c").as("__ca")), Seq("a"))
      .join(lab.select(col("__id").as("b"), col("__c").as("__cb")), Seq("b"))
      .mat
    val m2 = sym.agg(count(lit(1)).as("__m2"))
    val byC = sym.groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("__ca") === col("__cb"), 1L).otherwise(0L))
          .as("e2_in"))
    val nodes = lab.join(
        sym.select(col("a").as("__id")).distinct(), Seq("__id"), "left_semi")
      .groupBy(col("__c").as("community")).agg(count(lit(1)).as("n_nodes"))
    // exact FLOOR division on decimals (a negative contribution must
    // floor, and decimal `/`+cast rounds HALF_UP while `div` truncates
    // toward zero): subtract the nonnegative pmod first, then the
    // division is an exact multiple and every engine agrees
    val perC = byC.join(nodes, Seq("community"))
      .crossJoin(broadcast(m2))
      .withColumn("__num",
        dec(lit(1000000000L)) * (dec(col("e2_in")) * dec(col("__m2")) -
          dec(col("d_c")) * dec(col("d_c"))))
      .withColumn("__den", dec(col("__m2")) * dec(col("__m2")))
      .withColumn("contrib_q",
        expr("(__num - pmod(__num, __den)) div __den"))
    val tot = perC.agg(sum(col("contrib_q")).as("modularity_q"))
    perC.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("e2_in"), col("d_c"),
        col("contrib_q"), col("modularity_q"))
      .orderBy(col("community"))
  }

  /** Truncated harmonic centrality over a canonical undirected edge
    * frame: H_h(v) = Σ_{u ≠ v, d(v,u) ≤ h} 1/d(v,u) with the sum cut
    * at `hops` — the bounded-radius closeness variant that actually
    * terminates on a 100 TB graph (full closeness needs the full
    * APSP). Per-hop contributions are exact integers
    * (⌊10⁶/h⌋ per vertex at exact distance h), so the score is an
    * exact long sum.
    *
    * Plan: `hops` rounds of frontier expansion — each an equi-join of
    * the previous frontier with the symmetric edge list followed by an
    * anti-join against the already-reached set (min-distance
    * semantics), localCheckpointed per round. On a kNN graph the
    * reached set is bounded by n·k^h rows; `hops` ≤ 4 enforced.
    *
    * @return (id, n_reached, harmonic_q) ordered by id
    */
  def harmonicCentrality(edges: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 4, s"hops ($hops) must be in [1, 4]")
    val e = edges.select(col("a"), col("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .mat
    val d1 = sym.select(col("a").as("__v"), col("b").as("__u"),
      lit(1).as("__d"))
    val reached = (2 to hops).foldLeft(d1) { (acc, h) =>
      val frontier = acc.filter(col("__d") === h - 1)
      val next = frontier
        .join(sym.select(col("b").as("__u"), col("a").as("__w")), Seq("__u"))
        .filter(col("__w") =!= col("__v"))
        .select(col("__v"), col("__w").as("__u")).distinct()
        .join(acc.select(col("__v"), col("__u")), Seq("__v", "__u"),
          "left_anti")
        .withColumn("__d", lit(h))
      acc.unionByName(next).mat
    }
    reached.groupBy(col("__v").as("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div __d")).as("harmonic_q"))
      .orderBy(col("id"))
  }

  /** k-truss decomposition restricted to one k: the maximal subgraph
    * in which every EDGE sits in at least k−2 triangles — the
    * edge-level cousin of [[kCore]] (a k-truss is always inside a
    * (k−1)-core, but is much stricter: it keeps only edges whose
    * endpoints share enough neighborhood, which is exactly the
    * "dense duplicate cluster vs incidental bridge" distinction the
    * dedup pair graphs need). Input is the canonical undirected
    * `a < b` frame.
    *
    * Peel loop (bounded rounds, fixpoint-detected): per round compute
    * each surviving edge's SUPPORT (triangles through it) via the
    * [[triangleStats]] wedge join — triangles enumerate once as
    * x < y < z and credit all three edges — then drop edges with
    * support < k−2. Dropping an edge can break other triangles, so
    * iterate; support is monotone decreasing, so the loop converges.
    *
    * Scale shape: each round is the wedge self-equi-join (Σ deg²
    * rows, deg ≤ k on symmetrized kNN input), one closing equi-join,
    * one explode×3 + hash agg, one semi-join — the kCore round plan
    * plus a triangle count; localCheckpoint per round caps lineage.
    *
    * Once the surviving edges fit under [[LocalPeelMaxEdges]] (2²⁰
    * edges, ≤ 48 B each in the task; LongType ids only), the remaining
    * rounds and the final support run in ONE task over primitive
    * arrays (see [[peel]]): wedges over a sorted adjacency,
    * each closed by binary search — the same algebra as the joins
    * (every copy of a closing edge counts, null endpoints never join),
    * so the output is identical to the distributed rounds'.
    *
    * @return surviving edges (a, b, support) — support from the last
    *         round run, which may stop at the `rounds` budget before
    *         the fixpoint
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kTruss(edges, k, rounds, LocalPeelMaxEdges)

  /** [[kTruss]] with the one-task cap given: specs pass -1 to force the
    * distributed rounds, or a cap between two rounds' counts to switch
    * mid-loop. */
  private[graft] def kTruss(edges: DataFrame, k: Int, rounds: Int,
      localMaxEdges: Int): DataFrame = {
    require(k >= 3, s"k ($k) must be >= 3")
    require(rounds >= 1 && rounds <= 64, s"rounds ($rounds) must be in [1, 64]")
    def support(e: DataFrame): DataFrame = {
      val wedges = e.select(col("a").as("x"), col("b").as("y"))
        .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x"))
        .filter(col("y") < col("z"))
      val tri = wedges.join(e.select(col("a").as("y"), col("b").as("z")),
        Seq("y", "z"))
      tri.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("x").as("a"), col("z").as("b")),
          struct(col("y").as("a"), col("z").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    val start = edges.select(col("a"), col("b"))
    val schema = StructType(start.schema.fields :+
      StructField("support", LongType, nullable = false))
    peel(start, rounds, localMaxEdges)(
      round = cur => cur.join(support(cur).filter(col("support") >= k - 2)
        .select(col("a"), col("b")), Seq("a", "b"), "left_semi"),
      // an inner join: an edge without support has 0 < k−2
      finish = cur => cur.join(support(cur), Seq("a", "b"))
        .filter(col("support") >= k - 2),
      localSchema = schema,
      localFinish = (g, left) => {
        g.peelRounds(left) { () =>
          val sup = g.support()
          g.retain(c => sup(c) >= k - 2)
        }
        val sup = g.support()
        g.alive.filter(c => sup(c) >= k - 2).flatMap { c =>
          val row = Row(g.ids(g.src(c)), g.ids(g.dst(c)), sup(c))
          Iterator.fill(g.mult(c))(row)
        }
      })
  }

  /** Bounded-round integer eigenvector centrality over a canonical
    * undirected `a < b` edge frame — the prestige score [[katz]]
    * approximates with damping and [[hits]] splits into hub/authority:
    * here the single symmetric fixed point x ∝ A·x, by power
    * iteration on the [[hits]] integer grid (x⁰ = Q, one
    * neighbor-sum + exact-integer L1 renormalization per round —
    * rankings are norm-invariant, and L1 is the one norm whose
    * normalizer is an exact integer sum).
    *
    * Plan per round: one edge equi-join + hash agg (the Pregel shape)
    * plus a broadcast one-row total; lazy localCheckpoint caps
    * lineage. Isolated vertices keep score 0 and stay in the output.
    *
    * @return (id, degree, eig_q) — eig_q on the 10¹² L1 grid
    */
  def eigenvectorCentrality(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds ($rounds) must be in [1, 10]")
    val Q = 1000000000000L
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .mat
    val verts = sym.select(col("a").as("__v")).distinct()
      .mat
    def step(score: DataFrame): DataFrame = {
      val raw = sym.join(score.select(col("__v").as("a"), col("__x")),
          Seq("a"))
        .groupBy(col("b").as("__v"))
        .agg(sum(col("__x").cast("decimal(38,0)")).as("__raw"))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      // A vertex absent from `raw` (no scored in-neighbor) is exactly
      // a score of 0 — and a 0-score row contributes 0 to every
      // downstream sum — so the sparse frame IS the dense one; zeros
      // are re-attached once at the end (left join + coalesce) instead
      // of re-joining the full vertex table every round (guide §2.4:
      // one full-vertex-set shuffle join per round removed; r12
      // measured plan 4 → 3 exchanges per round, same rows out).
      raw.crossJoin(broadcast(tot))
        .select(col("__v"),
          expr(s"CAST((CAST(${Q}L AS DECIMAL(38,0)) * __raw) div __tot AS LONG)")
            .as("__x"))
        .mat
    }
    val x0 = verts.select(col("__v"), lit(Q).as("__x"))
    val xf = (1 to rounds).foldLeft(x0)((s, _) => step(s))
    val deg = sym.groupBy(col("a").as("__v")).agg(count(lit(1)).as("degree"))
    verts.join(deg, Seq("__v"), "left")
      .join(xf, Seq("__v"), "left")
      .select(col("__v").as("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("__x"), lit(0L)).as("eig_q"))
  }

  /** Link-prediction score battery over an undirected edge frame
    * (`a < b` canonical) — the three classical neighborhood scores
    * [[adamicAdar]] does NOT cover, computed together from ONE wedge
    * pass per non-adjacent candidate pair (x, y):
    *
    *   common_neighbors = |N(x) ∩ N(y)|                  (exact long)
    *   ra_q   = Σ_{z ∈ N(x)∩N(y)} ⌊10⁹ / deg(z)⌋         (resource
    *            allocation — integer per-term, order-free sum)
    *   jaccard_q = ⌊10⁶·cn / (deg(x)+deg(y)−cn)⌋         (ONE division)
    *   pa_l   = deg(x)·deg(y)                  (preferential attachment)
    *
    * Resource allocation's 1/deg (vs Adamic–Adar's 1/ln deg) punishes
    * hub intermediaries harder — on a near-dup candidate graph it is
    * the score that keeps template-hub bridges out of the top ranks.
    *
    * Plan shape (the adamicAdar scaffold): wedge self-equi-join on the
    * shared neighbor, anti-join against existing edges, one hash agg
    * per pair, a degree broadcast for the closed-form columns, then
    * TakeOrderedAndProject for the top-k — no global sort. Σ deg²
    * wedge volume is capped by k² per vertex on symmetrized kNN input
    * (the documented contract, as for adamicAdar) — or, with the
    * opt-in `maxDegree` cap (0 = off), by n·maxDegree² on ANY input:
    * vertices with symmetric degree > maxDegree are excluded as wedge
    * intermediaries (same drop semantics and rationale as
    * [[adamicAdar]]'s cap — resource allocation's 1/deg weight makes
    * over-cap hubs the smallest contribution class; their true degree
    * still feeds jaccard_q/pa_l unchanged).
    *
    * @return top `topK` rows (x, y, common_neighbors, ra_q, jaccard_q,
    *         pa_l) by (ra_q desc, x, y)
    */
  def linkPredictionScores(edges: DataFrame, topK: Int,
                           maxDegree: Int = 0): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    // e anchors five references (degree agg, both wedge sides, the
    // adjacency anti-join) — materialize once so the upstream edge
    // pipeline is planned and executed a single time (guide §2.4).
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("__deg"))
    val adjAll = sym.select(col("a").as("z"), col("b").as("x"))
    val adj =
      if (maxDegree <= 0) adjAll
      else adjAll.join(
        deg.filter(col("__deg") <= maxDegree).select(col("z")), Seq("z"))
    val wedges = adj
      .join(adj.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val cand = wedges.join(
      e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"),
      "left_anti")
    val perPair = cand
      .join(deg, Seq("z"))
      .withColumn("__raq", expr("1000000000L div __deg"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__raq")).as("ra_q"))
    perPair
      .join(deg.select(col("z").as("x"), col("__deg").as("__dx")), Seq("x"))
      .join(deg.select(col("z").as("y"), col("__deg").as("__dy")), Seq("y"))
      .select(col("x"), col("y"), col("common_neighbors"), col("ra_q"),
        expr("(1000000L * common_neighbors) div (__dx + __dy - common_neighbors)")
          .as("jaccard_q"),
        (col("__dx") * col("__dy")).as("pa_l"))
      .orderBy(col("ra_q").desc, col("x").asc, col("y").asc)
      .limit(topK)
  }

  /** Average-neighbor-degree curve knn(k) over an undirected edge
    * frame — the per-degree PROFILE behind [[degreeAssortativity]]'s
    * single number: for each observed degree k, the mean degree of
    * the neighbors of degree-k vertices. A falling curve
    * (disassortative hubs wired to leaves) vs a rising one
    * (assortative core) diagnoses WHERE the mixing lives, which the
    * scalar r cannot.
    *
    *   knn(k) = (Σ_{v: deg v = k} Σ_{u∈N(v)} deg u) / (k·|{v: deg v = k}|)
    *
    * Numerator and denominator are exact longs (one edge equi-join to
    * stamp neighbor degrees, two hash aggs); ONE division per degree
    * class, ⌊10⁶·⌋.
    *
    * @return (k, n_nodes, sum_nbr_deg, knn_q) ordered by k
    */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).mat
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("__d"))
    val stamped = sym
      .join(deg.select(col("v").as("a"), col("__d").as("__da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("__d").as("__db")), Seq("b"))
    stamped.groupBy(col("__da").as("k"))
      .agg((countDistinct(col("a"))).as("n_nodes"),
        sum(col("__db")).as("sum_nbr_deg"))
      .select(col("k"), col("n_nodes"), col("sum_nbr_deg"),
        floor(lit(1.0e6) * col("sum_nbr_deg").cast("double") /
          (col("k") * col("n_nodes")).cast("double")).cast("long")
          .as("knn_q"))
      .orderBy(col("k"))
  }

  /** Moran's I and Geary's C of a vertex attribute over an undirected
    * edge frame — "do similar documents carry similar labels": the
    * graph-autocorrelation pair behind every homophily / label-noise
    * audit on a kNN similarity graph. I is the edge-covariance lens
    * (global clustering of high/low values), C the edge-difference
    * lens (local heterogeneity); a corpus can pass one and fail the
    * other, which is why both ship from ONE edge pass.
    *
    * Mean-clearing stays integer by scaling: zᵢ = n·xᵢ − S (S = Σx),
    * so with W = 2·|E| (binary weights, both directions),
    *
    *   I = (n/W) · (Σ_dir z_i·z_j) / (Σ z²)
    *   C = ((n−1)/(2W)) · (Σ_dir n²·(x_i−x_j)²) / (Σ z²)
    *
    * Every sum is an exact decimal(38,0) (z ~ n·x keeps n³x² well
    * under 10³⁸ at any plausible corpus); each statistic is ONE
    * double division of two exact products, ⌊10⁶·⌋. Vertices missing
    * an attribute drop; edges keep only present endpoints (reported
    * via n vs the edge count).
    *
    * Plan shape: two broadcast-joined edge stamps (value on each
    * endpoint), two hash folds — no shuffle beyond the value join.
    *
    * @param values (id, value) attribute frame
    * @return one row (n, w_l, num_i_l, num_c_l, den_l, moran_q,
    *         geary_q)
    */
  def spatialAutocorrelation(edges: DataFrame,
                             values: DataFrame): DataFrame = {
    val dec38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val v = values.select(col(values.columns.head).as("__id"),
      col(values.columns(1)).cast("long").as("__x")).na.drop()
      .mat
    val tot = v.agg(count(lit(1)).as("__n"), sum(dec38(col("__x"))).as("__S"))
    val z = v.crossJoin(broadcast(tot))
      .select(col("__id"), col("__x"), col("__n"),
        (dec38(col("__n")) * col("__x") - col("__S")).as("__z"))
      .mat
    val e = edges.select(col("a"), col("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val stamped = sym
      .join(z.select(col("__id").as("a"), col("__x").as("__xa"),
        col("__z").as("__za"), col("__n")), Seq("a"))
      .join(z.select(col("__id").as("b"), col("__x").as("__xb"),
        col("__z").as("__zb")), Seq("b"))
    val folds = stamped.agg(count(lit(1)).as("w_l"),
      sum(col("__za") * col("__zb")).as("num_i_l"),
      sum(dec38(col("__n")) * col("__n") *
        (col("__xa") - col("__xb")) * (col("__xa") - col("__xb")))
        .as("num_c_l"))
    val den = z.agg(max(col("__n")).as("n"),
      sum(col("__z") * col("__z")).as("den_l"))
    den.crossJoin(folds)
      .select(col("n"), col("w_l"), col("num_i_l"), col("num_c_l"),
        col("den_l"),
        when(col("den_l") > 0 && col("w_l") > 0,
          floor(lit(1.0e6) *
            (dec38(col("n")) * col("num_i_l")).cast("double") /
            (dec38(col("w_l")) * col("den_l")).cast("double"))
            .cast("long")).as("moran_q"),
        when(col("den_l") > 0 && col("w_l") > 0,
          floor(lit(1.0e6) *
            ((dec38(col("n")) - 1) * col("num_c_l")).cast("double") /
            (lit(2L).cast("decimal(38,0)") * col("w_l") * col("den_l"))
              .cast("double")).cast("long")).as("geary_q"))
  }

  /** Join-count statistics of a BINARY vertex attribute over an
    * undirected edge frame — the categorical answer to
    * [[spatialAutocorrelation]]: of the graph's edges, how many
    * connect 1–1 (BB), 1–0 (BW), 0–0 (WW), against the
    * permutation-null expectations
    *
    *   E[BB] = E·n₁(n₁−1)/(n(n−1)),  E[WW] = E·n₀(n₀−1)/(n(n−1)),
    *   E[BW] = E·2n₁n₀/(n(n−1))
    *
    * — all EXACT integer counts plus one division per expectation
    * (⌊10⁶·⌋, edge-count units). BB ≫ E[BB] is label clustering on
    * the similarity graph — the one-scan homophily audit when the
    * label is a flag (dup/clean, en/other, toxic/safe). Vertices
    * without the attribute drop; edges keep only valued endpoints.
    *
    * @param values (id, flag) — flag long-castable, nonzero = B
    * @return one row (n, n1, w_edges, bb, bw, ww, e_bb_q, e_bw_q,
    *         e_ww_q)
    */
  def joinCounts(edges: DataFrame, values: DataFrame): DataFrame = {
    val dec38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val v = values.select(col(values.columns.head).as("__id"),
      (col(values.columns(1)).cast("long") =!= 0L).cast("long").as("__b"))
      .na.drop()
      .mat
    val e = edges.select(col("a"), col("b"))
      .join(v.select(col("__id").as("a"), col("__b").as("__ba")), Seq("a"))
      .join(v.select(col("__id").as("b"), col("__b").as("__bb")), Seq("b"))
    val tot = v.agg(count(lit(1)).as("__vn"), sum(col("__b")).as("__v1"))
    val folds = e.agg(count(lit(1)).as("w_edges"),
      sum(col("__ba") * col("__bb")).as("bb"),
      sum(when(col("__ba") =!= col("__bb"), 1L).otherwise(0L)).as("bw"),
      sum((lit(1L) - col("__ba")) * (lit(1L) - col("__bb"))).as("ww"))
    folds.crossJoin(broadcast(tot))
      .select(col("__vn").as("n"), col("__v1").as("n1"), col("w_edges"),
        col("bb"), col("bw"), col("ww"),
        when(col("__vn") >= 2,
          floor(lit(1.0e6) *
            (dec38(col("w_edges")) * col("__v1") * (col("__v1") - 1L))
              .cast("double") /
            (dec38(col("__vn")) * (col("__vn") - 1L)).cast("double"))
            .cast("long")).as("e_bb_q"),
        when(col("__vn") >= 2,
          floor(lit(1.0e6) *
            (lit(2L).cast("decimal(38,0)") * col("w_edges") * col("__v1") *
              (col("__vn") - col("__v1"))).cast("double") /
            (dec38(col("__vn")) * (col("__vn") - 1L)).cast("double"))
            .cast("long")).as("e_bw_q"),
        when(col("__vn") >= 2,
          floor(lit(1.0e6) *
            (dec38(col("w_edges")) * (col("__vn") - col("__v1")) *
              (col("__vn") - col("__v1") - 1L)).cast("double") /
            (dec38(col("__vn")) * (col("__vn") - 1L)).cast("double"))
            .cast("long")).as("e_ww_q"))
  }

  /** Local Moran's I (LISA) hotspot table — WHERE the clustering that
    * [[spatialAutocorrelation]] averages into one number actually
    * lives: per vertex, on the same integer-cleared z grid
    * (zᵢ = n·xᵢ − S),
    *
    *   lisa_q(i) = ⌊10⁶ · zᵢ·Σ_{j∈N(i)} zⱼ / Σ_k z²_k⌋
    *
    * — one neighbor-sum equi-join + hash agg, exact decimal products,
    * ONE division per vertex. Positive = the vertex sits in a
    * like-valued cluster (hot/cold spot); negative = a spatial
    * outlier wedged among unlike neighbors. Top-|lisa| rows surface
    * the duplicate nests / label islands on a kNN corpus graph.
    *
    * @return top `topK` rows (id, x, degree, lisa_q) by
    *         (|lisa_q| desc, id)
    */
  def localMoran(edges: DataFrame, values: DataFrame,
                 topK: Int): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val dec38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val v = values.select(col(values.columns.head).as("__id"),
      col(values.columns(1)).cast("long").as("__x")).na.drop()
      .mat
    val tot = v.agg(count(lit(1)).as("__vn"), sum(dec38(col("__x"))).as("__S"))
    val z = v.crossJoin(broadcast(tot))
      .select(col("__id"), col("__x"),
        (dec38(col("__vn")) * col("__x") - col("__S")).as("__z"))
      .mat
    val den = z.agg(sum(col("__z") * col("__z")).as("__den"))
    val e = edges.select(col("a"), col("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val nbr = sym
      .join(z.select(col("__id").as("b"), col("__z").as("__zb")), Seq("b"))
      .groupBy(col("a").as("__id"))
      .agg(count(lit(1)).as("degree"), sum(col("__zb")).as("__zsum"))
    z.join(nbr, Seq("__id"))
      .crossJoin(broadcast(den))
      .filter(col("__den") > 0)
      .select(col("__id").as("id"), col("__x").as("x"), col("degree"),
        floor(lit(1.0e6) * (col("__z") * col("__zsum")).cast("double") /
          col("__den").cast("double")).cast("long").as("lisa_q"))
      .orderBy(abs(col("lisa_q")).desc, col("id").asc)
      .limit(topK)
  }

  /** Reciprocity of a DIRECTED kNN edge frame — the fraction of
    * "i names j among its neighbors" edges that j returns:
    *
    *   r = 2·|mutual pairs| / |directed edges|        [⌊10⁶·⌋]
    *
    * The one-number hubness audit: isotropic embeddings sit near the
    * k-regular maximum; a low r means hub vectors absorb neighbor
    * slots they don't reciprocate (the q283 hubness profile's
    * headline). One distinct + one semi-join + two counts — exact
    * integers, one division.
    *
    * @return one row (n_directed, n_mutual, reciprocity_q)
    */
  def reciprocity(knn: DataFrame): DataFrame = {
    val d = knn.select(col("query_id").as("a"), col("neighbor_id").as("b"))
      .distinct()
      .mat
    val nd = d.agg(count(lit(1)).as("n_directed"))
    val mut = d.join(d.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .filter(col("a") < col("b"))
      .agg(count(lit(1)).as("n_mutual"))
    nd.crossJoin(mut)
      .select(col("n_directed"), col("n_mutual"),
        when(col("n_directed") > 0,
          floor(lit(1.0e6) * (lit(2L) * col("n_mutual")).cast("double") /
            col("n_directed").cast("double")).cast("long"))
          .as("reciprocity_q"))
  }
}

/** An `(a, b)` edge multiset in primitive arrays: the state of one
  * task finishing [[Graph.kCore]] or [[Graph.kTruss]]. Vertex ids are
  * replaced by their rank among the sorted distinct ids, and each
  * distinct edge becomes one class — the key `src << 32 | dst` over
  * ranks, sorted, with its multiplicity — so a class's out-neighbors
  * are one contiguous run ordered by destination id.
  */
private[operators] final class PeelGraph private (
    val ids: Array[Long], val vertices: Int,
    keys: Array[Long], val classes: Int, val mult: Array[Int]) {
  private val live = Array.fill(classes)(true)
  // rowStart(v) until rowStart(v + 1): the classes whose source is v
  private lazy val rowStart: Array[Int] = {
    val starts = new Array[Int](vertices + 1)
    var c = 0
    while (c < classes) { starts(src(c) + 1) += 1; c += 1 }
    var v = 0
    while (v < vertices) { starts(v + 1) += starts(v); v += 1 }
    starts
  }

  def src(c: Int): Int = (keys(c) >>> 32).toInt
  def dst(c: Int): Int = keys(c).toInt
  def alive: Iterator[Int] = Iterator.range(0, classes).filter(live)
  def edgeCount: Long = {
    var n = 0L
    for (c <- 0 until classes if live(c)) n += mult(c)
    n
  }

  /** Drops every alive class failing `keep`. */
  def retain(keep: Int => Boolean): Unit =
    for (c <- 0 until classes if live(c) && !keep(c)) live(c) = false

  /** Runs `round` up to `rounds` times, stopping early once a round
    * removes nothing or no edge is left. */
  def peelRounds(rounds: Int)(round: () => Unit): Unit = {
    var count = edgeCount
    var r = 0
    var done = count == 0L
    while (r < rounds && !done) {
      round()
      val next = edgeCount
      done = next == count || next == 0L
      count = next; r += 1
    }
  }

  /** Per vertex, its alive edge endpoints — a self-loop counts twice,
    * as in the union of both endpoint columns. */
  def degrees(): Array[Long] = {
    val deg = new Array[Long](vertices)
    for (c <- 0 until classes if live(c)) {
      deg(src(c)) += mult(c); deg(dst(c)) += mult(c)
    }
    deg
  }

  /** Per class, the triangles through it among alive classes: every
    * wedge `(x, y), (x, z)` with `y < z`, closed by `(y, z)`, credits
    * all three edges once per combination of their copies. */
  def support(): Array[Long] = {
    val sup = new Array[Long](classes)
    for (i <- 0 until classes if live(i)) {
      val (y, end) = (dst(i), rowStart(src(i) + 1))
      for (j <- i + 1 until end if live(j)) {
        val c = java.util.Arrays.binarySearch(keys, rowStart(y),
          rowStart(y + 1), (y.toLong << 32) | dst(j))
        if (c >= 0 && live(c)) {
          val w = mult(i).toLong * mult(j) * mult(c)
          sup(i) += w; sup(j) += w; sup(c) += w
        }
      }
    }
    sup
  }
}

private[operators] object PeelGraph {
  /** Reads `(a, b)` rows of LongType ids; an edge with a null endpoint
    * never joins, so it is dropped here. `sizeHint` is the expected row
    * count, which sizes the read buffer exactly. */
  def apply(rows: Iterator[Row], sizeHint: Int): PeelGraph = {
    val buf = new mutable.ArrayBuilder.ofLong
    buf.sizeHint(2 * sizeHint)
    for (r <- rows if !r.isNullAt(0) && !r.isNullAt(1)) {
      buf += r.getLong(0); buf += r.getLong(1)
    }
    val ends = buf.result()
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var vertices = 0
    for (v <- ids.indices if vertices == 0 || ids(v) != ids(vertices - 1)) {
      ids(vertices) = ids(v); vertices += 1
    }
    def rank(id: Long): Long =
      java.util.Arrays.binarySearch(ids, 0, vertices, id).toLong
    val keys = Array.tabulate(ends.length / 2)(e =>
      (rank(ends(2 * e)) << 32) | rank(ends(2 * e + 1)))
    java.util.Arrays.sort(keys)
    val classes =
      keys.indices.count(e => e == 0 || keys(e) != keys(e - 1))
    val mult = new Array[Int](classes)
    var c = -1
    for (e <- keys.indices) {
      if (e == 0 || keys(e) != keys(e - 1)) { c += 1; keys(c) = keys(e) }
      mult(c) += 1
    }
    new PeelGraph(ids, vertices, keys, classes, mult)
  }
}
