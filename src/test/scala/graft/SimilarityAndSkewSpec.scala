package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Similarity, Skew}
import graft.plans.CosineTopKExec

class SimilarityAndSkewSpec extends SparkSpec {
  import spark.implicits._

  // tiny corpus with an obvious structure: vectors along 3 axes
  private def axisVec(axis: Int, scale: Float, dim: Int = 6): Seq[Float] =
    (0 until dim).map(d => if (d == axis) scale else 0.01f * (d + 1))

  val corpus = (
    (0 until 4).map(i => (i.toLong, axisVec(0, 1.0f + i * 0.1f))) ++
      (4 until 8).map(i => (i.toLong, axisVec(1, 1.0f + i * 0.1f))) ++
      (8 until 12).map(i => (i.toLong, axisVec(2, 1.0f + i * 0.1f)))
    ).toDF("vec_id", "embedding")

  test("brute-force cosine topK finds same-axis neighbors first") {
    val top = Similarity.cosineTopK(corpus.filter(col("vec_id") === 0), corpus,
      "vec_id", "embedding", k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top === Set(1L, 2L, 3L))
  }

  test("hardNegatives: band excludes near-dups and dissimilars, keeps the boundary") {
    // same-axis neighbors of vec 0 have cos ≈ 1 (excluded as near-dups);
    // cross-axis cos is small but positive (the 0.01 offsets) — the band
    // must select exactly the cross-axis boundary region
    val all = Similarity.cosineTopK(corpus.filter(col("vec_id") === 0), corpus,
      "vec_id", "embedding", k = 11)
      .select(col("neighbor_id"), col("cos")).as[(Long, Double)].collect().toMap
    val crossCos = all.filter(_._1 >= 4).values
    val (lo, hi) = (crossCos.min - 0.01, crossCos.max + 0.01)
    val hn = Similarity.hardNegatives(corpus.filter(col("vec_id") === 0), corpus,
      "vec_id", "embedding", k = 20, minCos = lo, maxCos = hi)
      .select(col("neighbor_id"), col("cos")).as[(Long, Double)].collect()
    assert(hn.map(_._1).toSet === all.filter { case (id, c) => c >= lo && c < hi }.keySet)
    assert(hn.forall { case (id, c) => c >= lo && c < hi && id >= 4 },
      "same-axis near-dup leaked into the negative band")
    // ranks descend by cos within the band
    val ranked = Similarity.hardNegatives(corpus.filter(col("vec_id") === 0), corpus,
      "vec_id", "embedding", k = 3, minCos = lo, maxCos = hi)
      .orderBy("rank").select("cos").as[Double].collect()
    assert(ranked.sorted.reverse.toSeq === ranked.toSeq)
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(corpus, corpus, "vec_id", "embedding", 3, 0.5, 0.5)
    }
  }

  test("topK ties break by neighbor id even across salt groups") {
    // 10 identical corpus vectors: every cosine is 1.0, so the salted
    // local prune must use the SAME (cos desc, id asc) total order as
    // the final window or the k-th winner would depend on salt layout
    val vec = Array(1.0f, 0.0f)
    val corpus = (1L to 10L).map(i => (i, vec)).toDF("id", "v")
    val queries = Seq((0L, vec)).toDF("id", "v")
    val got = graft.operators.Similarity.cosineTopK(queries, corpus, "id", "v", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("zero-norm vectors never rank in topK (cosine is null, not NaN)") {
    val withZero = corpus.unionByName(
      Seq((99L, Seq.fill(6)(0.0f))).toDF("vec_id", "embedding"))
    val top = Similarity.cosineTopK(withZero.filter(col("vec_id") === 0), withZero,
      "vec_id", "embedding", k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!top.contains(99L)) // NaN would sort above every real cosine
    assert(top === Set(1L, 2L, 3L))
  }

  test("IVF topK with enough probes matches brute force on the cluster structure") {
    val ivf = Similarity.ivfTopK(corpus.filter(col("vec_id") === 5), corpus,
      "vec_id", "embedding", k = 3, nClusters = 3, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(ivf === Set(4L, 6L, 7L)) // the other axis-1 vectors
  }

  test("IVF k-means refinement improves recall at nprobe < nClusters") {
    // two well-separated direction clusters; the deterministic first-k
    // init picks ids 0 and 1 — BOTH in the axis-0 cluster, so the
    // nprobe=1 partition splits axis-3 vectors arbitrarily. After
    // k-means the two centroids converge to the true cluster means and
    // nprobe=1 reproduces brute force (every vector's neighbors are in
    // its own direction cluster).
    val clustered = (
      (0 until 4).map(i => (i.toLong, axisVec(0, 1.0f + i * 0.05f))) ++
        (4 until 8).map(i => (i.toLong, axisVec(3, 1.0f + i * 0.05f)))
      ).toDF("vec_id", "embedding")
    val brute = Similarity.cosineTopK(clustered, clustered, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def avgRecall(iters: Int): Double = {
      val got = Similarity.ivfTopK(clustered, clustered, "vec_id", "embedding",
        k = 3, nClusters = 2, nprobe = 1, kmeansIters = iters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      brute.map { case (q, want) =>
        got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
      }.sum / brute.size
    }
    val r0 = avgRecall(0)
    val r3 = avgRecall(3)
    assert(r3 > r0, s"kmeans recall $r3 should beat first-k recall $r0")
    assert(r3 === 1.0) // converged centroids → exact partition recall
  }

  test("materialized IVF index: directory-pruned probe equals in-memory IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/ivf"
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", dir,
      nClusters = 3, kmeansIters = 2)
    val queries = corpus.filter(col("vec_id") === 5)
    val viaIndex = Similarity.ivfTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 1)
    val inMem = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
      k = 3, nClusters = 3, nprobe = 1, kmeansIters = 2)
    val a = viaIndex.select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val b = inMem.select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(a === b)

    // pruning proof: the index scan lists/reads fewer files than stored
    val plan = viaIndex.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val indexScan = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("/index")) => f
    }.head
    val scanned = indexScan.metrics("numFiles").value
    val total = spark.read.parquet(s"$dir/index").inputFiles.length
    assert(scanned < total, s"no cluster pruning: read $scanned of $total files")
  }

  test("cosineNearDup: multi-table candidates ⊇ single-table; all pairs exact-verified") {
    val single = Similarity.cosineNearDup(corpus, "vec_id", "embedding",
      threshold = 0.9, dim = 6, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multi = Similarity.cosineNearDup(corpus, "vec_id", "embedding",
      threshold = 0.9, dim = 6, planes = 4, tables = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi)) // union over tables only adds candidates
    // no false positives ever: every reported pair passes exact cosine
    val va = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = va.join(vb, col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(multi.subsetOf(brute))
  }

  test("cosineNearDup maxBucket drops only the degenerate mega-bucket") {
    // six identical embeddings collapse into one bucket in EVERY table
    // (identical vectors → identical signs); the small pair is the exact
    // NEGATION — every plane dot flips sign, so its bucket provably
    // differs from the mass bucket
    val mass = (
      (0 until 6).map(i => (100L + i, axisVec(0, 1.0f))) ++
        Seq((0L, axisVec(0, 1.0f).map(x => -x)), (1L, axisVec(0, 1.0f).map(x => -x)))
      ).toDF("vec_id", "embedding")
    val uncapped = Similarity.cosineNearDup(mass, "vec_id", "embedding",
      threshold = 0.95, dim = 6, planes = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.exists(p => p._1 >= 100L))
    assert(uncapped.contains((0L, 1L)))
    val capped = Similarity.cosineNearDup(mass, "vec_id", "embedding",
      threshold = 0.95, dim = 6, planes = 6, maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 >= 100L)) // mega-bucket skipped
    assert(capped.contains((0L, 1L)))
  }

  test("planesFor keeps expected bucket size constant as the corpus grows") {
    assert(Similarity.planesFor(64, 64) === 1)
    assert(Similarity.planesFor(6400, 64) >= 6)
    assert(Similarity.planesFor(6400000, 64) >= 16)
    // 100× corpus → ~+7 planes, not 100× bucket occupancy
    assert(Similarity.planesFor(6400000, 64) - Similarity.planesFor(64000, 64) === 7)
  }

  test("int8 quantization: codes bounded, small reconstruction error, cosine preserved") {
    val q = corpus
      .withColumn("z", Similarity.quantizeInt8(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("z.scale").as("scale"),
        col("z.q").as("q"),
        Similarity.dequantizeInt8(col("z.q"), col("z.scale")).as("deq"))
    val rows = q.collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](r.fieldIndex("q"))
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes.exists(_ == 127) || codes.exists(_ == -127)) // max component saturates
    }
    // quantized cosine ≈ exact cosine (error < 2% at int8 resolution)
    val cos = q.select(
      Similarity.cosine(col("embedding"), col("deq").cast("array<float>"))).na.drop()
      .as[Double].collect()
    assert(cos.forall(c => c > 0.98))
    // zero vector: scale 0, zero codes, no NaN
    val z0 = Seq((99L, Seq.fill(6)(0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8(col("embedding")).as("z"))
      .select(col("z.scale"), col("z.q")).collect()(0)
    assert(z0.getDouble(0) === 0.0)
    assert(z0.getSeq[Int](1).forall(_ === 0))
  }

  test("saltedAgg == plain agg (two-phase correctness)") {
    val df = Seq.tabulate(1000)(i => ("hot", i.toLong)) ++ Seq(("cold", 5L))
    val data = df.toDF("k", "v")
    val plain = data.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSet
    val salted = Skew.saltedAgg(data, Seq("k"), col("v"), 8,
      partialAggs = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      finalAggs = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .as[(String, Long, Long)].collect().toSet
    assert(salted === plain)
  }

  test("saltedJoin == plain join") {
    val fact = Seq.tabulate(500)(i => ("k1", i.toLong)) :+ (("k2", -1L))
    val factDf = fact.toDF("k", "v")
    val dim = Seq(("k1", "one"), ("k2", "two"), ("k3", "three")).toDF("k", "name")
    val plain = factDf.join(dim, Seq("k")).select("k", "v", "name")
      .as[(String, Long, String)].collect().toSet
    val salted = Skew.saltedJoin(factDf, dim, Seq("k"), col("v"), 4)
      .select("k", "v", "name").as[(String, Long, String)].collect().toSet
    assert(salted === plain)
  }

  // dim-2 / 1-plane fixture: u points along plane 0's weight vector, so
  // every positive combination of (u, u⊥) lands in the same bucket and
  // the cluster geometry is hand-computable
  private def semFixture(thetaDeg: Double): (Seq[Float], Seq[Float]) = {
    val w0 = Similarity.planeWeight(0, 0); val w1 = Similarity.planeWeight(0, 1)
    val n = math.sqrt(w0 * w0 + w1 * w1)
    val u = Array(w0 / n, w1 / n)
    val p = Array(-u(1), u(0))
    val th = math.toRadians(thetaDeg)
    val c = Array(u(0) * math.cos(th) + p(0) * math.sin(th),
      u(1) * math.cos(th) + p(1) * math.sin(th))
    (u.toSeq.map(_.toFloat), c.toSeq.map(_.toFloat))
  }

  test("semDedup keeps the least-centroid-similar member of a dup group") {
    // four copies of u + one 25°-rotated c: centroid sits ~5° from u,
    // every pair is a near-dup at τ=0.8 (cos 25° ≈ 0.906), and the
    // SemDeDup keep rule must retain exactly c — the member farthest
    // from the centroid — not the lowest id
    val (u, c) = semFixture(25)
    val df = ((1L to 4L).map(i => (i, u)) :+ ((5L, c)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.8, dim = 2, planes = 1)
    assert(r.select("cluster").distinct().count() === 1)
    val keep = r.filter(col("keep")).select("id").as[Long].collect().toSet
    assert(keep === Set(5L))
  }

  test("semDedup: clique of identical vectors keeps the minimal id; " +
    "below-threshold and cross-bucket rows are untouched") {
    val (u, c) = semFixture(60) // cos 60° = 0.5 < τ — same bucket, not a dup
    val negU = u.map(x => -x)   // opposite bucket entirely
    val df = ((1L to 3L).map(i => (i, u)) ++ Seq((4L, c), (5L, negU)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.8, dim = 2, planes = 1)
    val keep = r.filter(col("keep")).select("id").as[Long].collect().toSet
    assert(keep === Set(1L, 4L, 5L)) // identical ccos ties break by id
    assert(r.select("cluster").distinct().count() === 2)
  }

  test("semDedup maxBucket: over-cap clusters generate no pairs (all keep)") {
    val (u, _) = semFixture(0)
    val df = (1L to 5L).map(i => (i, u)).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.8, dim = 2, planes = 1, maxBucket = 4)
    assert(r.filter(col("keep")).count() === 5)
    intercept[IllegalArgumentException] {
      Similarity.semDedup(df, "vec_id", "embedding",
        threshold = 0.0, dim = 2, planes = 1)
    }
  }

  // ---- kmeansAssign ------------------------------------------------------

  test("kmeansAssign recovers two separated clusters; partition-order free") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.95f, 0.05f)), (4L, Seq(0.05f, 0.95f)),
      (5L, Seq(0.9f, 0.1f)), (6L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    // init = first-2-by-id: cid 1 ~ x-axis, cid 2 ~ y-axis
    assert(Seq(1L, 3L, 5L).forall(i => r(i)._2 == 1L))
    assert(Seq(2L, 4L, 6L).forall(i => r(i)._2 == 2L))
    assert(r.values.forall(_._3 > 0.9))
    // quantized centroid update -> identical result at any partitioning
    val rp = Similarity.kmeansAssign(df.repartition(7), "vec_id", "embedding",
      k = 2, iters = 2).as[(Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r === rp)
  }

  test("clusterCoreset: m most central per cluster, cos-desc id-asc order") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.95f, 0.05f)), (4L, Seq(0.05f, 0.95f)),
      (5L, Seq(0.9f, 0.1f)), (6L, Seq(0.1f, 0.9f)),
      (7L, Seq(0.8f, 0.2f)), (8L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.clusterCoreset(df, "vec_id", "embedding",
      k = 2, iters = 2, m = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(r.length === 4) // 2 clusters x m=2
    val byCluster = r.groupBy(_._1)
    byCluster.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === Seq(1, 2))
      // rank order is cos desc (ties id asc)
      assert(sorted(0)._4 >= sorted(1)._4)
    }
    // partition-order free (inherits kmeansAssign's quantized contract)
    val rp = Similarity.clusterCoreset(df.repartition(7), "vec_id", "embedding",
      k = 2, iters = 2, m = 2).as[(Long, Int, Long, Double)].collect()
    assert(r.sortBy(t => (t._1, t._2)).toSeq === rp.sortBy(t => (t._1, t._2)).toSeq)
    intercept[IllegalArgumentException] {
      Similarity.clusterCoreset(df, "vec_id", "embedding", k = 2, iters = 1, m = 0)
    }
  }

  test("sparseCosinePairs: hand-computed cosines; DF cap prunes stop terms") {
    val docs = Seq(
      (1L, "apple banana apple"),   // tf: apple 2, banana 1
      (2L, "apple banana banana"),  // tf: apple 1, banana 2
      (3L, "apple cherry"),
      (4L, "the the the"))          // "the" appears in no other doc
      .toDF("doc_id", "text")
    val r = Similarity.sparseCosinePairs(docs, "doc_id", "text",
      maxTermDf = 3, minCosine = 0.9)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    // docs 1/2: dot = 2*1 + 1*2 = 4, norms = sqrt(5) each -> cos ~ 0.8
    // (assert the literal IEEE expression: sqrt(5)² is not exactly 5)
    assert(r((1L, 2L))._3 === 4L)
    assert(r((1L, 2L))._4 === 4.0 / (math.sqrt(5) * math.sqrt(5)) && !r((1L, 2L))._5)
    // docs 1/3: share apple only: dot 2, norms sqrt(5), sqrt(2)
    assert(r((1L, 3L))._4 === 2.0 / (math.sqrt(5) * math.sqrt(2)))
    // doc 4's only term survives (df 1 <= 3) but it shares no term
    assert(!r.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // cap 1: only cherry (df 1) and "the" survive; no doc PAIR shares a term
    assert(Similarity.sparseCosinePairs(docs, "doc_id", "text",
      maxTermDf = 1, minCosine = 0.9).count() === 0L)
    intercept[IllegalArgumentException] {
      Similarity.sparseCosinePairs(docs, "doc_id", "text", 0, 0.9)
    }
  }

  test("sparseCosinePairs: identical docs hit cos 1.0 exactly (integer dot)") {
    // tf vector (2,2,1): n2 = 9, sqrt exact -> cos = 9/(3·3) = 1.0 exact
    val docs = Seq(
      (1L, "x x y y z"), (2L, "x x y y z"), (3L, "completely different words"))
      .toDF("doc_id", "text")
    val r = Similarity.sparseCosinePairs(docs, "doc_id", "text",
      maxTermDf = 10, minCosine = 0.99)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    assert(r((1L, 2L))._4 === 1.0 && r((1L, 2L))._5)
  }

  test("kmeansAssign: emptied cluster keeps its centroid; ties break to low cid") {
    // all vectors identical -> both init centroids coincide, every
    // cosine ties, min-cid wins every round, cluster 2 stays empty and
    // must retain its centroid (no null propagation) through both
    // iterations; every assignment is (cluster 1, cos 1.0) exactly
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Long, Double)].collect()
    assert(r.length === 3)
    assert(r.forall(t => t._2 == 1L && t._3 == 1.0))
    intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(df, "vec_id", "embedding", k = 0, iters = 1)
    }
  }

  test("signProject: deterministic, sign-exact, and scale-preserving") {
    val df = Seq(
      (1L, Seq.tabulate(8)(i => (i + 1) * 0.25f)),
      (2L, Seq.tabulate(8)(i => (i + 1) * -0.25f)),
      (3L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.signProject(df, "vec_id", "embedding", dim = 8, outDim = 4)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val b = Similarity.signProject(df.repartition(7), "vec_id", "embedding",
      dim = 8, outDim = 4)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq) // integer-sum projection: bit-identical
    assert(a.forall(_._2.length == 4))
    // v2 = -v1 exactly (floor asymmetry aside: components use ⌊x·10⁶⌋,
    // and ±(i+1)·0.25·10⁶ are exact integers, so the negation is exact)
    assert(a(0)._2.zip(a(1)._2).forall { case (x, y) => x == -y })
    intercept[IllegalArgumentException] {
      Similarity.signProject(df, "vec_id", "embedding", dim = 8, outDim = 9)
    }
  }

  test("signProject preserves cosine ordering for well-separated directions") {
    // 32-dim: near-duplicates must stay closer than an opposite vector
    // after a 32→8 sign projection
    val base = Seq.tabulate(32)(i => math.sin(i * 0.7).toFloat)
    val near = base.zipWithIndex.map { case (x, i) => x + (if (i == 3) 0.05f else 0f) }
    val anti = base.map(x => -x)
    val df = Seq((1L, base), (2L, near), (3L, anti)).toDF("vec_id", "embedding")
    val p = Similarity.signProject(df, "vec_id", "embedding", dim = 32, outDim = 8)
    val top = Similarity.cosineTopK(p.filter($"vec_id" === 1L), p,
      "vec_id", "embedding", k = 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(top.head._3 === 2L, s"projected NN of base should be near, got $top")
  }

  test("kCenterSeeds: picks the geometric extremes, smallest-id start") {
    // 1-D line embedded in 2-D: positions 0, 0.1, 0.2, 5, 10
    val pts = Seq(0f, 0.1f, 0.2f, 5f, 10f).zipWithIndex
      .map { case (x, i) => (i.toLong, Seq(x, 0f)) }
      .toDF("vec_id", "embedding")
    val seeds = Similarity.kCenterSeeds(pts, "vec_id", "embedding", k = 3)
      .orderBy("rank").as[(Int, Long)].collect().toSeq
    // start id 0 (pos 0) → farthest is id 4 (pos 10) → then id 3
    // (pos 5, min-dist 25 to both ends beats the 0.01-scale cluster)
    assert(seeds === Seq((1, 0L), (2, 4L), (3, 3L)))
    // k = n degenerates to a full deterministic ordering
    val all = Similarity.kCenterSeeds(pts, "vec_id", "embedding", k = 5)
      .as[(Int, Long)].collect().map(_._2).toSet
    assert(all === Set(0L, 1L, 2L, 3L, 4L))
  }

  test("embedDecontaminate: max-cos cut; zero vectors drop out") {
    val bench = Seq((100L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1f, 0.01f)),  // cos ~ 1 → contaminated
      (2L, Seq(0f, 1f)),     // cos 0 → clean
      (3L, Seq(-1f, 0f)),    // cos -1 → clean
      (4L, Seq(0f, 0f))      // zero norm → no defined cosine → absent
    ).toDF("vec_id", "embedding")
    val r = Similarity.embedDecontaminate(corpus, bench,
      "vec_id", "embedding", tau = 0.9)
      .as[(Long, Double, Boolean)].collect().map(t => t._1 -> t._3).toMap
    assert(r === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("labelDisagreement: counts differing neighbor labels; rank>k ignored") {
    val knn = Seq(
      (1L, 1, 2L), (1L, 2, 3L), (1L, 3, 4L), // neighbors of 1
      (2L, 1, 1L), (2L, 2, 3L),
      (2L, 3, 4L), (2L, 4, 9L)               // rank 4 > k: ignored
    ).toDF("query_id", "rank", "neighbor_id")
    val labels = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1), (9L, 0))
      .toDF("vec_id", "label")
    val r = Similarity.labelDisagreement(knn, labels, "vec_id", "label",
      k = 3)
      .as[(Long, Int, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._3, t._4, t._5))).toMap
    // q1 (label 0): nbrs 2(0), 3(1), 4(1) → 2/3 differ
    assert(r(1L) === ((3L, 2L, 2.0 / 3.0)))
    // q2 (label 0): nbrs 1(0), 3(1), 4(1) → 2/3; rank-4 nbr excluded
    assert(r(2L) === ((3L, 2L, 2.0 / 3.0)))
  }

  test("dimStats: hand-computed quantized sums and float min/max") {
    val df = Seq(
      (1L, Seq(1.5f, -0.25f)),
      (2L, Seq(0.5f, 2.0f))).toDF("vec_id", "embedding")
    val r = Similarity.dimStats(df, "embedding")
      .orderBy("dim")
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    // dim 1: floor(1.5e6) + floor(0.5e6) = 2_000_000; min 0.5 max 1.5
    // dim 2: floor(-250000) + floor(2e6) = 1_750_000; min -0.25 max 2.0
    assert(r === Seq((1, 2L, 2000000L, 0.5, 1.5),
      (2, 2L, 1750000L, -0.25, 2.0)))
  }

  // ------------------------------------------------------------ marginPairs

  test("marginPairs: ratio margin picks the mutual nearest pair, " +
    "quantization matches a scalar replay of the same fp ops") {
    // A = axis vectors; B = axis vectors + the diagonal (exact in float)
    val a = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val b = Seq((11L, Seq(1f, 0f)), (12L, Seq(0.5f, 0.5f)),
      (13L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.marginPairs(a, b, "vec_id", "embedding",
      k = 2, minMarginQ = 0L)
      .orderBy("a_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // scalar replay in the operator's op order
    val s = 0.5 / (1.0 * math.sqrt(0.5)) // cos(axis, diagonal)
    val sa = 1.0 + s                     // rank-ordered 2-term sum, A side
    val sb1 = 1.0 + 0.0                  // b1's best-2 over A
    val m = math.floor(1000000.0 * (1.0 / (sa / 4.0 + sb1 / 4.0))).toLong
    assert(out === Seq((1L, 11L, m), (2L, 13L, m)))
  }

  test("marginPairs: the margin threshold filters the output") {
    val a = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val b = Seq((11L, Seq(1f, 0f)), (12L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.marginPairs(a, b, "vec_id", "embedding", k = 2,
      minMarginQ = Long.MaxValue).count() === 0L)
  }

  test("marginPairs: zero vectors never pair (null cosine, zero normalizer)") {
    val a = Seq((1L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val b = Seq((11L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.marginPairs(a, b, "vec_id", "embedding", k = 1,
      minMarginQ = 0L).count() === 0L)
  }

  test("marginPairs: fused one-pass scoring equals two independent scans") {
    // ids are DISJOINT across sides, so cosineTopK (self-id exclusion
    // vacuous) is exactly the two-scan crossTopK the fused default
    // replaced — compare the full output including ties and a zero
    // vector on each side
    val rnd = new scala.util.Random(11)
    def v() = Seq.fill(4)(rnd.nextInt(5).toFloat)
    val a = ((1L to 12L).map(i => (i, v())) ++ Seq((13L, Seq(0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val b = ((101L to 115L).map(i => (i, v())) ++ Seq((116L, Seq(0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val fused = Similarity.marginPairs(a, b, "vec_id", "embedding",
      k = 3, minMarginQ = 0L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val twoScan = Similarity.marginPairs(a, b, "vec_id", "embedding",
      k = 3, minMarginQ = 0L,
      topK = (qq, cc, id, vc, kk) => Similarity.cosineTopK(qq, cc, id, vc, kk))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fused === twoScan)
    assert(fused.nonEmpty)
  }

  // -------------------------------------------------------------- mmrRerank

  test("mmrRerank: diversity penalty displaces the near-duplicate second hit") {
    // corpus: two EXACT twins close to the query, plus an orthogonal
    // direction. Pure top-2 = the twins; the twin's penalty is
    // sim = 1, so MMR's second pick must be the orthogonal vector
    // (rel 0.447 - 0 beats 0.894 - 1).
    val q = Seq((1L, Seq(2f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (11L, Seq(1f, 0f)),   // twin A (closest, cos ~0.894)
      (12L, Seq(1f, 0f)),   // twin B (identical duplicate)
      (13L, Seq(0f, 1f))    // orthogonal to the twins (cos ~0.447)
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(q, corpus, "vec_id", "embedding",
        m = 3, k = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(out === Seq((1, 11L), (2, 13L)))
  }

  test("mmrRerank: step-1 score is half the top cosine; steps are distinct ids") {
    val q = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq((11L, Seq(1f, 0f)), (12L, Seq(0f, 1f)),
      (13L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(q, corpus, "vec_id", "embedding",
        m = 3, k = 3)
      .orderBy("step").collect()
    assert(out.head.getLong(3) === 500000L) // floor(1e6 * 0.5 * cos=1)
    assert(out.map(_.getLong(2)).distinct.length === 3)
  }


  test("silhouetteSimplified: separated clusters score positive, " +
      "assignment matches kmeansAssign") {
    import graft.operators.Similarity
    val vecs = (0 until 12).map { i =>
      val base = if (i < 6) Array(1.0f, 0.0f, 0.05f * i)
                 else Array(0.0f, 1.0f, 0.05f * (i - 6))
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val sil = Similarity.silhouetteSimplified(vecs, "vec_id", "embedding",
      k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val assign = Similarity.kmeansAssign(vecs, "vec_id", "embedding",
      k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sil.keySet === (0L until 12L).toSet)
    assert(sil.forall { case (id, (cl, _)) => assign(id) === cl })
    assert(sil.values.forall(_._2 > 0L)) // every point closer to its own side
  }

  test("anisotropyProfile: orthogonal axes land in bucket 0, " +
      "identical directions in the top bucket; zero vectors drop") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),     // cos 0
      (3L, Seq(2f, 0f)),                        // cos 1 with id 1
      (4L, Seq(0f, 0f)))                        // zero-norm: all pairs null
      .toDF("vec_id", "embedding")
    val out = Similarity.anisotropyProfile(vecs, "vec_id", "embedding",
      cap = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pairs among {1,2,3}: (1,2)=0, (1,3)=1, (2,3)=0 — zero-norm 4 drops
    assert(out.values.sum === 3L)
    assert(out(0L) === 2L)
    assert(out(10L) === 1L) // cos exactly 1 -> cq 1e6 -> top bucket
  }

  test("mutualReachability: k=1 cores and min-fold edges, hand case") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.mutualReachability(vecs, "vec_id", "embedding",
      k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // NN(1)=2 (cos 1), NN(2)=1, NN(3)=1 (cos 0, id tie-break)
    assert(out((1L, 2L)) === ((1000000L, 1000000L)))
    // edge (1,3): cos 0; core_3 = 0 drags mutual reachability to 0
    assert(out((1L, 3L)) === ((0L, 0L)))
    assert(out.size === 2)
  }

  test("anisotropyProfile: negative cosine floors into the -10 bucket") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.anisotropyProfile(vecs, "vec_id", "embedding",
      cap = 2).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === -10L)
    assert(out.head.getLong(2) === -1000000L)
  }

  test("twoNN: exact duplicates are excluded (d1 = 0 has no ratio); " +
      "tied top-2 contributes zero; hand-checked MLE") {
    import spark.implicits._
    // v1 == v2 exactly: both excluded (c1 = 1); v3 sees two cos-0
    // neighbors -> ln(1/1) = 0, so the sum is 0 and the MLE undefined
    val dup = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val rd = Similarity.twoNN(dup, "vec_id", "embedding").collect().head
    assert((rd.getLong(0), rd.getLong(1), rd.getLong(2)) === ((3L, 1L, 0L)))
    assert(rd.isNullAt(3))
    // fan at 0, 45, 90 degrees: c = cos45 = 1/sqrt(2); v2's top-2 tie
    // (term 0), v1 and v3 each contribute ln((1-0)/(1-c))
    val fan = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 1f)),
      (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val rf = Similarity.twoNN(fan, "vec_id", "embedding").collect().head
    val c = 1.0 / (1.0 * math.sqrt(2.0))
    val term = math.floor(1.0e6 * math.log((1.0 - 0.0) / (1.0 - c))).toLong
    assert((rf.getLong(0), rf.getLong(1)) === ((3L, 3L)))
    assert(rf.getLong(2) === 2L * term)
    assert(rf.getLong(3) === math.floor(1.0e6 *
      (2000000L * 3L).toDouble / (2L * term).toDouble).toLong)
  }

  // ---- fused brute kNN against the broadcast-join formula it replaced

  /** The brute kNN as a broadcast nested-loop join: norms hoisted per
    * row, `when(qn·cn > 0, dot / (qn·cn))`, the band as a filter, one
    * `row_number` window over (cos desc, neighbor_id asc).
    */
  private def referenceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                            vecCol: String, k: Int, excludeSelf: Boolean,
                            band: Option[(Double, Double)]): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Similarity.norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Similarity.norm(col(vecCol)).as("__cn"))
    val joined =
      if (excludeSelf) q.join(c, col("query_id") =!= col("neighbor_id")) else q.crossJoin(c)
    val denom = col("__qn") * col("__cn")
    val scored = joined.withColumn("cos",
      when(denom > 0, Similarity.dot(col("qv"), col("cv")) / denom))
    val banded = band.fold(scored) { case (lo, hi) =>
      scored.filter(col("cos") >= lo && col("cos") < hi)
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    banded.select(col("query_id"), col("cos"), col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Rows as comparable strings, cos by its bits. NaN compares as one
    * value: NaNs of either sign tie in Spark's order, so their ranks
    * among each other are the sort's choice on both sides.
    */
  private def exactRows(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
    val cos = if (r.isNullAt(3)) "null"
      else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(r.getDouble(3)))
    s"${r.get(0)}|${r.getInt(1)}|${r.get(2)}|$cos"
  }.sorted

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), clue)
    assert(exactRows(got) === exactRows(want), clue)
  }

  /** Seeded vectors with every edge the formula has: zero, null and
    * null-element vectors, NaN/±Inf elements, a length mismatch, and
    * small integer components so that many cosines tie exactly.
    */
  private def knnFrame(seed: Long, n: Int, idType: DataType, elemType: DataType,
                       nullIds: Boolean, dupIds: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val dim = 4
    def elem(x: Double): Any = if (elemType == FloatType) x.toFloat else x
    val rows = (0 until n).map { i =>
      val idNum = if (dupIds && i % 5 == 4) i - 1 else i
      val id: Any =
        if (nullIds && i % 7 == 3) null
        else if (idType == StringType) f"id$idNum%03d"
        else if (idType == IntegerType) idNum else idNum.toLong
      val vec: Seq[Any] = rnd.nextInt(12) match {
        case 0 => null
        case 1 => Seq.fill(dim)(elem(0.0))
        case 2 => Seq.tabulate(dim)(d => if (d == 1) null else elem(d + 1.0))
        case 3 => Seq.tabulate(dim)(d => elem(if (d == 0) Double.NaN else 1.0))
        case 4 => Seq.tabulate(dim)(d => elem(if (d == 2) Double.PositiveInfinity else 0.5))
        case 5 => Seq.tabulate(dim)(d => elem(if (d == 3) Double.NegativeInfinity else 1.0))
        case 6 => Seq.fill(dim - 1)(elem(1.0))
        case _ => Seq.fill(dim)(elem((rnd.nextInt(5) - 2).toDouble))
      }
      Row(id, vec)
    }
    val schema = StructType(Seq(StructField("id", idType),
      StructField("v", ArrayType(elemType, containsNull = true))))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("fused kNN equals the broadcast-join formula row for row, cos bits included") {
    val ks = Seq(0, 1, 3, 40)
    for {
      (idType, qElem, cElem, seed) <- Seq(
        (LongType, FloatType, FloatType, 11L), (IntegerType, FloatType, DoubleType, 12L),
        (StringType, DoubleType, FloatType, 13L), (StringType, DoubleType, DoubleType, 14L))
      (corpusParts, nq) <- Seq((1, 6), (8, 3))
    } {
      val corpus = knnFrame(seed, 30, idType, cElem, nullIds = true, dupIds = true)
        .repartition(corpusParts)
      val queries = knnFrame(seed + 100, nq, idType, qElem, nullIds = true, dupIds = false)
      // self-kNN: the corpus's own rows as queries, cast to the query element type
      val self = corpus.select(col("id"), col("v").cast(ArrayType(qElem)).as("v"))
        .filter(col("id").isNull || col("id") < (if (idType == StringType) lit("id010") else lit(10)))
      for (k <- ks; qs <- Seq(queries, self)) {
        val clue = s"ids=$idType q=$qElem c=$cElem parts=$corpusParts k=$k"
        assertSame(Similarity.cosineTopK(qs, corpus, "id", "v", k),
          referenceTopK(qs, corpus, "id", "v", k, excludeSelf = true, band = None),
          s"cosineTopK $clue")
        assertSame(Similarity.crossTopK(qs, corpus, "id", "v", k),
          referenceTopK(qs, corpus, "id", "v", k, excludeSelf = false, band = None),
          s"crossTopK $clue")
        if (k > 0) assertSame(Similarity.hardNegatives(qs, corpus, "id", "v", k, -0.25, 0.75),
          referenceTopK(qs, corpus, "id", "v", k, excludeSelf = true,
            band = Some((-0.25, 0.75))), s"hardNegatives $clue")
      }
    }
  }

  test("fused kNN: empty query side and empty corpus give no rows") {
    val corpus = knnFrame(21L, 12, LongType, FloatType, nullIds = false, dupIds = false)
    val none = corpus.filter(lit(false))
    for ((qs, cs) <- Seq((none, corpus), (corpus, none))) {
      assertSame(Similarity.cosineTopK(qs, cs, "id", "v", 3),
        referenceTopK(qs, cs, "id", "v", 3, excludeSelf = true, band = None), "cosineTopK")
      assert(Similarity.crossTopK(qs, cs, "id", "v", 3).count() === 0L)
      assert(Similarity.hardNegatives(qs, cs, "id", "v", 3, 0.0, 1.0).count() === 0L)
    }
  }

  /** Jobs started while `body` runs (a marker job proves the listener
    * has seen all of them).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.knnJobs"
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

  test("fused kNN plan: query side broadcast into GraftCosineTopK, no nested-loop join") {
    val knn = Similarity.cosineTopK(corpus.filter(col("vec_id") < 3), corpus,
      "vec_id", "embedding", k = 3)
    val lines = knn.queryExecution.executedPlan.toString.split("\n")
    val at = lines.indexWhere(_.contains("GraftCosineTopK"))
    assert(at >= 0, lines.mkString("\n"))
    assert(lines(at + 1).contains("BroadcastExchange"),
      s"the query side must broadcast into the node:\n${lines.mkString("\n")}")
    assert(!lines.exists(_.contains("BroadcastNestedLoopJoin")), lines.mkString("\n"))
    // the install step for sessions without GraftExtensions is idempotent
    graft.plans.GraftCosineTopK.install(spark)
    graft.plans.GraftCosineTopK.install(spark)
    assert(spark.sessionState.planner.strategies
      .count(_ == graft.plans.CosineTopKStrategy) === 1)
  }

  /** The fused node of `knn`'s executed plan, after running it. */
  private def scoredNode(knn: DataFrame): CosineTopKExec = {
    knn.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val nodes = helper.collect(knn.queryExecution.executedPlan) { case e: CosineTopKExec => e }
    assert(nodes.size === 1, knn.queryExecution.executedPlan.toString)
    nodes.head
  }

  private def scoredPartitions(knn: DataFrame): Int =
    scoredNode(knn).right.outputPartitioning.numPartitions

  test("building a kNN frame launches no job, also over a shuffled corpus") {
    assert(jobsOf(Similarity.cosineTopK(corpus, corpus, "vec_id", "embedding", 3)) === 0)
    val want = spark.sparkContext.defaultParallelism
    // AQE coalesces the distinct's shuffle of 12 rows to one partition
    val distinct = corpus.distinct()
    // the optimizer estimates four inner joins as the product of their
    // sides, far above one advisory partition per core; the filtered
    // result is 8 rows
    val joined = (1 to 4).foldLeft(corpus) { (acc, i) =>
      acc.join(corpus.select(col("vec_id"), lit(i).as(s"x$i")), "vec_id")
    }.filter(col("vec_id") < 8).select("vec_id", "embedding").distinct()
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(want) *
      spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    for ((name, c, same) <- Seq(("distinct", distinct, corpus),
                                ("filtered join", joined, corpus.filter(col("vec_id") < 8)))) {
      assert(jobsOf(Similarity.cosineTopK(corpus, c, "vec_id", "embedding", 3)) === 0, name)
      assert(jobsOf(Similarity.hardNegatives(c, c, "vec_id", "embedding", 3, 0.0, 0.5)) === 0,
        name)
      // balanced however small the shuffled corpus turns out: one scoring task per core
      val knn = Similarity.cosineTopK(corpus, c, "vec_id", "embedding", 3)
      assert(scoredPartitions(knn) >= want, name)
      assert(scoredPartitions(Similarity.hardNegatives(corpus, c, "vec_id", "embedding",
        3, 0.0, 0.5)) >= want, name)
      assert(exactRows(knn) ===
        exactRows(Similarity.cosineTopK(corpus, same, "vec_id", "embedding", 3)), name)
    }
  }

  test("a kNN frame joins with itself: both sides keep their own cos") {
    val knn = Similarity.cosineTopK(corpus, corpus, "vec_id", "embedding", k = 3)
    // two hops: each neighbor's own neighbors
    val hops = knn.as("a").join(knn.as("b"), col("a.neighbor_id") === col("b.query_id"))
      .select(col("a.query_id"), col("a.neighbor_id"), col("a.cos"),
        col("b.neighbor_id"), col("b.cos"))
      .as[(Long, Long, Double, Long, Double)].collect()
    val cosOf = knn.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    assert(hops.length === cosOf.size * 3)
    hops.foreach { case (q, n, aCos, m, bCos) =>
      assert(aCos === cosOf((q, n)) && bCos === cosOf((n, m)), s"$q -> $n -> $m")
    }
    assert(hops.exists { case (_, _, aCos, _, bCos) => aCos != bCos })
  }

  test("fused kNN metrics: pairsScored = |Q|·|C| − self matches") {
    val qs = corpus.filter(col("vec_id") < 3)
    val m = scoredNode(Similarity.cosineTopK(qs, corpus, "vec_id", "embedding", k = 2)).metrics
    assert(m("pairsScored").value === 3L * 12L - 3L)
    // every query keeps its 2 best overall; no task forwards a pair twice
    assert(m("candidatesOut").value >= 3L * 2L &&
      m("candidatesOut").value <= m("pairsScored").value)
  }
}
