package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Graph
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import org.apache.spark.sql.types.IntegerType

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("mutualEdges: one-way edges are dropped, mutual pairs canonicalize a<b") {
    val knn = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 2L), (2L, 4L))
      .toDF("query_id", "neighbor_id")
    val out = Graph.mutualEdges(knn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (2L, 4L))) // 1->3 has no back edge
  }

  test("triangleStats: hand graph — one triangle plus a tail") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((2L, 1L, 1000000L))) // 2/(2·1) = 1
    assert(out(2L) === ((2L, 1L, 1000000L)))
    assert(out(3L) === ((3L, 1L, 333333L))) // 2/(3·2)
    assert(out(4L) === ((1L, 0L, 0L)))      // deg < 2
  }

  test("triangleStats: a 4-clique has C(4,3)=4 triangles, coefficient 1") {
    val vs = Seq(1L, 2L, 3L, 4L)
    val edges = (for (a <- vs; b <- vs if a < b) yield (a, b)).toDF("a", "b")
    val out = Graph.triangleStats(edges).collect()
    assert(out.forall(r => r.getLong(1) === 3L && r.getLong(2) === 3L &&
      r.getLong(3) === 1000000L))
  }

  test("richClub: clique-plus-pendant hand curve; thresholds with an " +
      "empty club vanish") {
    // 4-clique {1,2,3,4} (deg 3 each, except 4 which also feeds a
    // pendant 5 → deg 4); pendant 5 has deg 1
    val vs = Seq(1L, 2L, 3L, 4L)
    val edges = ((for (a <- vs; b <- vs if a < b) yield (a, b)) :+
      ((4L, 5L))).toDF("a", "b")
    val out = Graph.richClub(edges, maxK = 6).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // k=1: club {1,2,3,4} (deg>1), all 6 clique edges inside → φ=1
    assert(out(1) === ((4L, 6L, 1000000L)))
    assert(out(2) === ((4L, 6L, 1000000L)))
    // k=3: only vertex 4 (deg 4) qualifies → N=1 → φ NULL
    assert(out(3) === ((1L, 0L, -1L)))
    // k=4..: empty club → threshold rows absent entirely
    assert(!out.contains(4) && !out.contains(6))
  }

  test("labelPropagate: labels spread along a chain, one hop per round") {
    // seed 1; chain 1-2-3-4 (directed both ways so votes flow)
    val knn = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L)).toDF("query_id", "neighbor_id")
    val seeds = Seq((1L, 7)).toDF("id", "label")
    val out = Graph.labelPropagate(knn, seeds, "id", "label", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out === Map(1L -> ((7, 0)), 2L -> ((7, 1)), 3L -> ((7, 2))))
    // vertex 4 is 3 hops out: unreached in 2 rounds
  }

  test("labelPropagate: majority wins; count ties break to the smaller label") {
    // vertex 10 sees two label-1 seeds and one label-0 seed → 1;
    // vertex 20 sees one of each → tie → 0
    val knn = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L))
      .toDF("query_id", "neighbor_id")
    val seeds = Seq((1L, 0), (2L, 1), (3L, 1)).toDF("id", "label")
    val out = Graph.labelPropagate(knn, seeds, "id", "label", rounds = 1)
      .filter($"round_assigned" === 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(10L -> 1, 20L -> 0))
  }

  test("labelPropagate: already-labeled vertices are clamped, never re-voted") {
    val knn = Seq((1L, 2L), (2L, 1L)).toDF("query_id", "neighbor_id")
    val seeds = Seq((1L, 5), (2L, 9)).toDF("id", "label")
    val out = Graph.labelPropagate(knn, seeds, "id", "label", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out === Set((1L, 5, 0), (2L, 9, 0)))
  }

  test("pageRank: matches a driver-side replay of the integer recurrence") {
    // path a-b-c-d plus triangle b-c-e: mixed degrees 1..3
    val edgeList = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (3L, 5L))
    val out = Graph.pageRank(edgeList.toDF("a", "b"), rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // exact reference replay of the documented integer recurrence
    val adj = (edgeList ++ edgeList.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    val n = adj.size.toLong
    val q = 1000000000000L
    var r = adj.keys.map(v => v -> q / n).toMap
    for (_ <- 1 to 3)
      r = adj.map { case (v, ns) =>
        v -> (3L * q / (20L * n) + ns.map(u =>
          17L * r(u) / (20L * adj(u).size)).sum)
      }
    adj.keys.foreach { v =>
      assert(out(v) === ((adj(v).size.toLong, r(v))),
        s"vertex $v: got ${out(v)}, want (${adj(v).size}, ${r(v)})")
    }
    // symmetric triangle: equal ranks under any rounds
    val tri = Graph.pageRank(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b"),
      rounds = 4).collect().map(_.getLong(2)).toSet
    assert(tri.size === 1)
  }

  test("pageRank under spark.graft.materialize.reliable: same rows, checkpoints land in the checkpoint dir") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (3L, 5L)).toDF("a", "b")
    val key = "spark.graft.materialize.reliable"
    val default = Graph.pageRank(edges, rounds = 3).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt").toFile
    val prior = spark.conf.getOption(key)
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(key, "true")
    val reliable = try Graph.pageRank(edges, rounds = 3).collect().toSet
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(reliable === default)
    val written = org.apache.commons.io.FileUtils.listFiles(dir, null, true)
    assert(!written.isEmpty, s"reliable mode wrote nothing under $dir")
  }

  test("hits: matches a driver-side replay of the L1-integer recurrence") {
    // star: 1→{2,3,4}, 5→{2}, 2→1 — vertex 2 is the strong authority,
    // vertex 1 the strong hub
    val edgeList = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L), (2L, 1L))
    val out = Graph.hits(edgeList.toDF("src", "dst"), rounds = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val q = BigInt(1000000000000L)
    val verts = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var h = verts.map(v => v -> q).toMap
    var a = verts.map(v => v -> BigInt(0)).toMap
    for (_ <- 1 to 2) {
      val rawA = edgeList.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => h(e._1)).sum }
      val totA = rawA.values.sum
      a = verts.map(v => v -> rawA.get(v).map(r => q * r / totA)
        .getOrElse(BigInt(0))).toMap
      val rawH = edgeList.groupBy(_._1).map { case (v, es) =>
        v -> es.map(e => a(e._2)).sum }
      val totH = rawH.values.sum
      h = verts.map(v => v -> rawH.get(v).map(r => q * r / totH)
        .getOrElse(BigInt(0))).toMap
    }
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inDeg = edgeList.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    verts.foreach { v =>
      val want = (outDeg.getOrElse(v, 0L), inDeg.getOrElse(v, 0L),
        h(v).toLong, a(v).toLong)
      assert(out(v) === want, s"vertex $v: got ${out(v)}, want $want")
    }
    // the structural claims the operator exists for
    assert(out(2L)._4 === verts.map(v => out(v)._4).max) // top authority
    assert(out(1L)._3 === verts.map(v => out(v)._3).max) // top hub
  }

  test("hits: L1 normalization — scores sum to ~Q each half-step") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val rows = Graph.hits(edges, rounds = 3).collect()
    val hubSum = rows.map(_.getLong(3)).sum
    val authSum = rows.map(_.getLong(4)).sum
    // floors only lose < |verts| grid units
    assert(math.abs(hubSum - 1000000000000L) <= rows.length)
    assert(math.abs(authSum - 1000000000000L) <= rows.length)
  }


  // kCore/kTruss one-task caps: the default (every graph here fits
  // under it, so the rounds finish in one task) and -1 (never: the
  // distributed rounds run to the end)
  private val peelCaps = Seq(Graph.LocalPeelMaxEdges, -1)

  test("kCore: k=3 keeps the 4-clique, peels the tail") {
    val vs = Seq(1L, 2L, 3L, 4L)
    val clique = for (a <- vs; b <- vs if a < b) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    for (cap <- peelCaps) {
      val out = Graph.kCore(edges, k = 3, rounds = 8, cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"cap $cap")
    }
  }

  test("kCore: k=2 fully peels a path (worst-case depth) within bound") {
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    for (cap <- peelCaps)
      assert(Graph.kCore(edges, k = 2, rounds = 8, cap).count() === 0L,
        s"cap $cap")
  }

  test("kCore: k=2 core of triangle+pendant is the triangle, and " +
      "early-exit equals the full-round result") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    for (cap <- peelCaps) {
      val a = Graph.kCore(edges, k = 2, rounds = 2, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = Graph.kCore(edges, k = 2, rounds = 64, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a === Set((1L, 2L), (2L, 2L), (3L, 2L)), s"cap $cap")
      assert(b === a, s"cap $cap")
    }
  }

  test("adamicAdar: 4-cycle — both diagonals predicted with the exact " +
      "quantized inverse-log weight, adjacent pairs excluded") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val out = Graph.adamicAdar(edges, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // every vertex has degree 2; w = floor(1e9 / ln 2) = 1442695040
    val w = math.floor(1.0e9 / math.log(2.0)).toLong
    assert(out === Map(
      (1L, 3L) -> ((2L, 2 * w)),
      (2L, 4L) -> ((2L, 2 * w))))
  }

  test("adamicAdar: topK limit keeps the highest-scored pair with the " +
      "(score DESC, x ASC, y ASC) tie order") {
    // star center 1 with leaves 2,3,4: candidates are the leaf pairs,
    // all scoring floor(1e9/ln 3) via the center — tie broken by (x,y)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val rows = Graph.adamicAdar(edges, topK = 1).collect()
    assert(rows.length === 1)
    assert((rows(0).getLong(0), rows(0).getLong(1)) === ((2L, 3L)))
    assert(rows(0).getLong(3) === math.floor(1.0e9 / math.log(3.0)).toLong)
  }

  test("adamicAdar/linkPredictionScores: opt-in maxDegree cap drops " +
      "over-cap hubs as intermediaries only; inclusive boundary is " +
      "identical to uncapped") {
    // star center 1 (deg 4) over leaves 2..5, plus edge (2,3) so two
    // deg-2 vertices exist whose wedges all hit adjacent pairs
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
      .toDF("a", "b")
    val open = Graph.adamicAdar(edges, topK = 10).collect()
    assert(open.length === 5) // leaf pairs via the center, minus (2,3)
    // cap below the hub degree: center 1 no longer mediates; the only
    // remaining wedge centers (2 and 3, deg 2) close adjacent pairs
    assert(Graph.adamicAdar(edges, topK = 10, maxDegree = 3).isEmpty)
    // cap is inclusive (<=): maxDegree == hub degree changes nothing
    val at = Graph.adamicAdar(edges, topK = 10, maxDegree = 4).collect()
    assert(at.map(_.toSeq).toSet === open.map(_.toSeq).toSet)

    val lOpen = Graph.linkPredictionScores(edges, topK = 10).collect()
    assert(lOpen.length === 5)
    assert(Graph.linkPredictionScores(edges, topK = 10, maxDegree = 3)
      .isEmpty)
    val lAt = Graph.linkPredictionScores(edges, topK = 10, maxDegree = 4)
      .collect()
    assert(lAt.map(_.toSeq).toSet === lOpen.map(_.toSeq).toSet)
    // capped run still uses TRUE degrees in the closed-form columns:
    // (4,5) via center only — jaccard 1/(1+1-1), pa = deg4*deg5 = 1
    val p45 = lAt.find(r => r.getLong(0) == 4L && r.getLong(1) == 5L).get
    assert(p45.getLong(4) === 1000000L && p45.getLong(5) === 1L)
  }

  // ---------------------------------------------- degreeAssortativity

  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    // center deg 3, leaves deg 1: every edge joins (3,1) -> r = -1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(edges).collect().head
    assert(r.getLong(0) === 6L)          // 2|E| directed
    assert(r.getLong(4) === -1000000000000L)
  }

  test("degreeAssortativity: a regular graph has zero degree variance " +
      "(NULL r)") {
    // 4-cycle: all degrees 2 -> denominator M·Sxx - Sx² = 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(edges).collect().head
    assert(r.isNullAt(4))
  }

  test("degreeAssortativity: matches the hand Pearson on a mixed graph") {
    // path 1-2-3 plus edge 3-4: degrees 1,2,2,1
    // sym pairs: (1,2),(2,1),(2,2),(2,2),(2,1),(1,2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(edges).collect().head
    val m = 6L; val sx = 10L; val sxy = 16L; val sxx = 18L
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((m, sx, sxy, sxx)))
    val expected = math.floor(1.0e12 * (m * sxy - sx * sx).toDouble /
      (m * sxx - sx * sx).toDouble).toLong
    assert(r.getLong(4) === expected) // (96-100)/(108-100) = -0.5
  }

  // ---------------------------------------------- kOccurrenceProfile

  test("kOccurrenceProfile: hub histogram and positive skew on a " +
      "one-hub graph") {
    // 4 queries all naming node 1: N(1)=4, N(2..4)=0
    val knn = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("query_id", "neighbor_id")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    val out = Graph.kOccurrenceProfile(knn, ids)
      .orderBy("k_occ").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 3L), (4L, 1L)))
    // c = 4·occ − 4: (12, -4, -4, -4); S2 = 192, S3 = 1536
    val skew = math.floor(1.0e6 * 1536.0 * math.sqrt(4.0) /
      (192.0 * math.sqrt(192.0))).toLong
    assert(out.head.getLong(2) === skew && skew === 1154700L)
  }

  // ------------------------------------------- personalizedPageRank

  test("personalizedPageRank: teleport mass lands only on seeds and " +
      "proximity decays over hops (hand-checked integers)") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val seeds = Seq(2L).toDF("id")
    val out = Graph.personalizedPageRank(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val Q = 1000000000000L
    // r0: only node 2 holds Q. round 1: 1 <- 17Q/20; 2 <- 3Q/20.
    // round 2: 1 <- 17·(3Q/20)/20; leaves <- 17·(17Q/20)/(20·3);
    // 2 additionally keeps its teleport 3Q/20.
    val leaf2 = (17L * (17L * Q / 20L)) / (20L * 3L)
    assert(out(1L) === ((0L, (17L * (3L * Q / 20L)) / 20L)))
    assert(out(2L) === ((1L, 3L * Q / 20L + leaf2)))
    assert(out(3L) === ((0L, leaf2)))
    assert(out(4L) === ((0L, leaf2)))
  }

  test("personalizedPageRank: components unreachable from the seed " +
      "set decay to zero") {
    val edges = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("id")
    val out = Graph.personalizedPageRank(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(5L) === 0L && out(6L) === 0L)
    assert(out(1L) > 0L && out(2L) > 0L)
  }

  test("kOccurrenceProfile: uniform occurrence has zero variance (NULL " +
      "skew) and one histogram row") {
    val knn = Seq((1L, 2L), (2L, 1L)).toDF("query_id", "neighbor_id")
    val ids = Seq(1L, 2L).toDF("id")
    val out = Graph.kOccurrenceProfile(knn, ids).collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1)) === ((1L, 2L)))
    assert(out.head.isNullAt(2))
  }

  test("katz: hand-unrolled two rounds on the 1-2-3 path") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Graph.katz(edges, rounds = 2, alphaDen = 8L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // x1 = 1e6 + nbrSum/8; x2 unrolled by hand
    assert(out(1L) === 1156250L)
    assert(out(2L) === 1281250L)
    assert(out(3L) === 1156250L)
    assert(out(2L) > out(1L)) // the middle node collects both walks
  }

  test("modularity: two clean communities score high, hand-checked") {
    // two triangles joined by one bridge: communities = the triangles
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y"), (5L, "y"), (6L, "y")).toDF("id", "c")
    val out = Graph.modularity(edges, labels, "id", "c").collect()
    // m2 = 14; per community: e2_in = 6, d_c = 7
    // contrib = floor(1e9*(6*14 - 49)/196) = floor(1e9*35/196)
    val want = 1000000000L * 35 / 196
    out.foreach { r =>
      assert(r.getLong(2) === 6L && r.getLong(3) === 7L)
      assert(r.getLong(4) === want)
      assert(r.getLong(5) === 2 * want)
    }
    // a random-ish partition scores lower than the natural one
    val bad = Seq((1L, "x"), (2L, "y"), (3L, "x"),
      (4L, "y"), (5L, "x"), (6L, "y")).toDF("id", "c")
    val q2 = Graph.modularity(edges, bad, "id", "c")
      .collect().head.getLong(5)
    assert(q2 < 2 * want)
  }

  test("modularity: negative contributions floor (not truncate)") {
    // one cross-community edge only: e2_in = 0, contrib < 0
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val labels = Seq((1L, "x"), (2L, "y")).toDF("id", "c")
    val out = Graph.modularity(edges, labels, "id", "c").collect()
    // m2 = 2, d_c = 1: contrib = floor(1e9*(0 - 1)/4) = -250000000
    out.foreach(r => assert(r.getLong(4) === -250000000L))
  }

  test("harmonicCentrality: path graph hand-checked at 2 hops") {
    // path 1-2-3-4: node 2 reaches {1,3} at d=1, {4} at d=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Graph.harmonicCentrality(edges, hops = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) === ((2L, 1500000L))) // 1/1 + 1/2
    assert(out(2L) === ((3L, 2500000L))) // 1+1+1/2
    assert(out(3L) === ((3L, 2500000L)))
    assert(out(4L) === ((2L, 1500000L)))
    // hops=1 is just degree * 1e6
    val h1 = Graph.harmonicCentrality(edges, hops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(h1(2L) === 2000000L && h1(1L) === 1000000L)
  }

  test("kTruss: pendant edge peels, shared-edge support counts, " +
      "k=4 cascades to empty") {
    // triangle 1-2-3 + pendant 3-4: the pendant sits in no triangle
    val g1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    // two triangles sharing edge 2-3: support(2,3)=2, others 1
    val g2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    for (cap <- peelCaps) withClue(s"cap $cap: ") {
      val t3 = Graph.kTruss(g1, k = 3, rounds = 8, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(t3.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
      assert(t3.values.forall(_ === 1L))
      val t3b = Graph.kTruss(g2, k = 3, rounds = 8, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(t3b((2L, 3L)) === 2L)
      assert(t3b.size === 5 && t3b.count(_._2 === 1L) === 4)
      // k=4 needs support >= 2 everywhere: first peel keeps only (2,3),
      // whose support then drops to 0 -> empty fixpoint
      assert(Graph.kTruss(g2, k = 4, rounds = 8, cap).count() === 0L)
    }
  }

  test("kCore/kTruss: the one-task finish equals the distributed rounds " +
      "row for row on random multigraphs") {
    def oneTask(df: DataFrame): Boolean =
      df.queryExecution.logical.collectFirst { case m: MapPartitions => m }
        .nonEmpty
    def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString(",")).toSeq.sorted
    // every path must give the distributed rounds' rows and schema
    def agree(label: String, run: Int => DataFrame, midCap: Int): Unit = {
      val dist = run(-1)
      assert(!oneTask(dist), label)
      for (cap <- Seq(Graph.LocalPeelMaxEdges, midCap)) {
        val out = run(cap)
        assert(oneTask(out), s"$label cap $cap")
        assert(out.schema === dist.schema, s"$label cap $cap")
        assert(rowsOf(out) === rowsOf(dist), s"$label cap $cap")
      }
    }
    val rnd = new scala.util.Random(8101)
    // a 5-edge path (kCore k=2 peels one edge off each end per round,
    // so rounds = 1 stops before the fixpoint) and two triangles sharing
    // an edge (kTruss k=4 empties them in two rounds); the pendant
    // 100-101 dies in round 1 for every k, so a cap one below the
    // start count switches to the one task after round 1
    val fixed = ((200L until 205L).map(i => (i, i + 1)) ++
      Seq((300L, 301L), (300L, 302L), (301L, 302L), (301L, 303L),
        (302L, 303L), (100L, 101L)))
      .map { case (a, b) => (Option(a), Option(b)) }
    val budgets = Seq(1, 8) ++ Seq.fill(4)(1 + rnd.nextInt(8))
    for ((rounds, trial) <- budgets.zipWithIndex) {
      // ids from a small range: duplicates, self-loops and a > b edges;
      // one endpoint in 15 is null
      val n = 4 + rnd.nextInt(5)
      def end = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(n).toLong)
      val rows = Seq.fill(10 + rnd.nextInt(30))((end, end)) ++ fixed
      val edges = rnd.shuffle(rows).toDF("a", "b")
      val nonNull = rows.count { case (a, b) => a.isDefined && b.isDefined }
      val kc = 2 + trial % 3
      agree(s"trial $trial kCore k=$kc rounds=$rounds",
        Graph.kCore(edges, kc, rounds, _), nonNull - 1)
      val kt = 3 + trial % 3
      agree(s"trial $trial kTruss k=$kt rounds=$rounds",
        Graph.kTruss(edges, kt, rounds, _), rows.size - 1)
      if (rounds == 1) {
        val core = Graph.kCore(edges, 2, 1).collect().map(_.getLong(0))
        assert(core.contains(202L) && core.contains(203L),
          "rounds = 1 stops before the path is peeled")
      }
    }
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    agree("empty kCore", Graph.kCore(empty, 2, 8, _), 0)
    agree("empty kTruss", Graph.kTruss(empty, 3, 8, _), 0)
    // IntegerType ids keep the distributed rounds and their result
    val ints = Seq((1, 2), (1, 3), (2, 3), (3, 4)).toDF("a", "b")
    val core = Graph.kCore(ints, k = 2, rounds = 8)
    val truss = Graph.kTruss(ints, k = 3, rounds = 8)
    assert(!oneTask(core) && !oneTask(truss))
    assert(core.schema("id").dataType === IntegerType)
    assert(rowsOf(core) === Seq("1,2", "2,2", "3,2"))
    assert(truss.schema("a").dataType === IntegerType)
    assert(rowsOf(truss) === Seq("1,2,1", "1,3,1", "2,3,1"))
  }

  test("kCore/kTruss under the cap: rounds = 1 and rounds = 8 launch the " +
      "same jobs (the build plus one collect)") {
    val sc = spark.sparkContext
    val tag = "graft.test.peelJobs"
    // jobs started with this thread's tag; a marker job, started after
    // the body, proves the listener has seen all of the body's jobs
    def jobsOf(body: => Unit): Int = {
      val label = java.util.UUID.randomUUID().toString
      val seen = new AtomicInteger
      val drained = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          Option(j.properties).map(_.getProperty(tag)).orNull match {
            case `label` => seen.incrementAndGet()
            case m if m == label + "/end" => drained.countDown()
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(tag, label)
        body
        sc.setLocalProperty(tag, label + "/end")
        sc.parallelize(Seq(1), 1).count()
        assert(drained.await(60, TimeUnit.SECONDS))
        seen.get
      } finally {
        sc.setLocalProperty(tag, null)
        sc.removeSparkListener(listener)
      }
    }
    // both need several distributed rounds: a path peels from its ends
    // (kCore k=2), two triangles sharing an edge empty in two (kTruss k=4)
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val g2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val core1 = jobsOf(Graph.kCore(path, k = 2, rounds = 1).collect())
    val core8 = jobsOf(Graph.kCore(path, k = 2, rounds = 8).collect())
    val truss1 = jobsOf(Graph.kTruss(g2, k = 4, rounds = 1).collect())
    val truss8 = jobsOf(Graph.kTruss(g2, k = 4, rounds = 8).collect())
    assert(core8 === core1, s"kCore jobs: rounds=1 $core1, rounds=8 $core8")
    assert(truss8 === truss1,
      s"kTruss jobs: rounds=1 $truss1, rounds=8 $truss8")
  }

  test("eigenvectorCentrality: star concentrates on the hub; path " +
      "converges to the uniform L1 fixed point") {
    val Q = 1000000000000L
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val s1 = Graph.eigenvectorCentrality(star, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // round 1: raw = (3Q, Q, Q, Q), total 6Q
    assert(s1(1L) === ((3L, Q / 2)))
    assert(s1(2L) === ((1L, Q / 6)) && s1(4L) === ((1L, Q / 6)))
    // path 1-2-3 reaches uniform x = Q/3 by round 2 and stays there
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p2 = Graph.eigenvectorCentrality(path, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p2.values.toSet === Set(Q / 3))
    val p4 = Graph.eigenvectorCentrality(path, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p4.values.forall(v => math.abs(v - Q / 3) <= 1))
  }

  test("linkPredictionScores: path wedge hand-checked; adjacent pairs " +
      "excluded; RA halves through a degree-2 hub") {
    import spark.implicits._
    // path 1-2-3: only candidate (1,3) through hub 2 (deg 2)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.linkPredictionScores(path, topK = 10).collect()
    assert(r.length === 1)
    val row = r.head
    assert((row.getLong(0), row.getLong(1)) === ((1L, 3L)))
    assert(row.getLong(2) === 1L)            // common neighbors
    assert(row.getLong(3) === 500000000L)    // 1e9 / deg(2)
    assert(row.getLong(4) === 1000000L)      // 1/(1+1-1)
    assert(row.getLong(5) === 1L)            // pa = deg(1)*deg(3)
    // triangle 1-2-3 plus pendant 4 on 3: candidates (1,4), (2,4)
    // via hub 3 (deg 3) — the closed triangle pairs never appear
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val rt = Graph.linkPredictionScores(tri, topK = 10).collect()
    assert(rt.map(r0 => (r0.getLong(0), r0.getLong(1))).toSet ===
      Set((1L, 4L), (2L, 4L)))
    rt.foreach { r0 =>
      assert(r0.getLong(3) === 1000000000L / 3L)
      assert(r0.getLong(4) === 1000000L / 2L) // 1/(2+1-1)
      assert(r0.getLong(5) === 2L)
    }
    // topK cuts on (ra_q desc, x, y): hub path keeps the lowest x
    val cut = Graph.linkPredictionScores(tri, topK = 1).collect()
    assert((cut.head.getLong(0), cut.head.getLong(1)) === ((1L, 4L)))
  }

  test("avgNeighborDegree: star graph — hub sees leaves (knn=1), " +
      "leaves see the hub (knn=3)") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val out = Graph.avgNeighborDegree(star).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(3L) === ((1L, 3L, 1000000L)))
    assert(out(1L) === ((3L, 9L, 3000000L)))
    assert(out.size === 2)
  }

  test("spatialAutocorrelation: clustered path I=1/3 C=1/2, " +
      "alternating path I=-1 C=3/2; unvalued endpoints drop edges") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val clustered = Seq((1L, 1L), (2L, 1L), (3L, 5L), (4L, 5L))
      .toDF("id", "x")
    val rc = Graph.spatialAutocorrelation(path, clustered).collect().head
    assert((rc.getLong(0), rc.getLong(1)) === ((4L, 6L)))
    assert(rc.getDecimal(4).longValue === 256L)
    assert(rc.getLong(5) === 333333L && rc.getLong(6) === 500000L)
    val alternating = Seq((1L, 1L), (2L, 5L), (3L, 1L), (4L, 5L))
      .toDF("id", "x")
    val ra = Graph.spatialAutocorrelation(path, alternating).collect().head
    assert(ra.getLong(5) === -1000000L && ra.getLong(6) === 1500000L)
    // vertex 4 unvalued: its edge leaves the weight count
    val partial = Seq((1L, 1L), (2L, 3L), (3L, 9L)).toDF("id", "x")
    assert(Graph.spatialAutocorrelation(path, partial)
      .collect().head.getLong(1) === 4L)
  }

  test("joinCounts: path with a clean flag boundary — one BB, one BW, " +
      "one WW edge; expectations hand-checked; unvalued edges drop") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val flags = Seq((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L))
      .toDF("id", "f")
    val r = Graph.joinCounts(path, flags).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 2L, 3L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((1L, 1L, 1L)))
    assert((r.getLong(6), r.getLong(7), r.getLong(8)) ===
      ((500000L, 2000000L, 500000L)))
    val partial = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("id", "f")
    assert(Graph.joinCounts(path, partial).collect().head.getLong(2) === 2L)
  }

  test("localMoran: cluster endpoints are the hotspots, boundary " +
      "vertices score zero; topK cuts by |lisa| then id") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val clustered = Seq((1L, 1L), (2L, 1L), (3L, 5L), (4L, 5L))
      .toDF("id", "x")
    val out = Graph.localMoran(path, clustered, topK = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) === 250000L && out(4L) === 250000L)
    assert(out(2L) === 0L && out(3L) === 0L)
    val top2 = Graph.localMoran(path, clustered, topK = 2).collect()
      .map(_.getLong(0)).toList
    assert(top2 === List(1L, 4L))
  }

  test("reciprocity: fully mutual kNN scores 1; one-way chains score " +
      "0; mixed hand case") {
    import spark.implicits._
    val mutual = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
      .toDF("query_id", "neighbor_id")
    assert(Graph.reciprocity(mutual).collect().head.getLong(2) ===
      1000000L)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("query_id", "neighbor_id")
    val rc = Graph.reciprocity(chain).collect().head
    assert((rc.getLong(0), rc.getLong(1), rc.getLong(2)) === ((3L, 0L, 0L)))
    // 3 directed edges, 1 mutual pair: r = 2/3
    val mixed = Seq((1L, 2L), (2L, 1L), (2L, 3L))
      .toDF("query_id", "neighbor_id")
    assert(Graph.reciprocity(mixed).collect().head.getLong(2) ===
      math.floor(1.0e6 * 2.0 / 3.0).toLong)
  }
}
