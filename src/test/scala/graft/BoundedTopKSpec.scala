package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[graft.plans.BoundedTopKExec]]: the physical rewrite must be
  * value-identical to the Sort + WindowGroupLimit plan it replaces —
  * including null ordering, ties, k larger than the group, and the
  * group-cap pass-through path — and must actually appear in the
  * executed plan of a row_number top-k.
  */
class BoundedTopKSpec extends SparkSpec {
  import spark.implicits._

  private def topk(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    df.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select("g", "rank", "id", "score")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def rewritten(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("GraftBoundedTopK")

  // 3 groups × 40 rows; ties in score (score = i % 7) broken by id;
  // nulls (undefined score) must sort LAST under desc — rows 0,13,26,39
  private lazy val rows = (0 until 120).map { i =>
    val score: java.lang.Double = if (i % 13 == 0) null else (i % 7).toDouble
    (i % 3, i.toLong, score)
  }.toDF("gid", "id", "score").repartition(4)

  // the same rows with the group key g taken from the build side of a
  // broadcast join: the shape the rewrite fires on
  private lazy val base = rows
    .join(broadcast((0 until 3).map(i => (i, s"g$i")).toDF("gid", "g")), "gid")
    .select("g", "id", "score")

  // the same rows with g computed in place: no broadcast join below
  private lazy val plain = rows
    .select(concat(lit("g"), $"gid".cast("string")).as("g"), $"id", $"score")

  test("bounded top-k matches the window plan exactly (ties, nulls, k>n)") {
    for (k <- Seq(1, 3, 40, 100)) {
      val q = topk(base, k)
      val got = q.collect().toSet
      assert(rewritten(q), s"k=$k: rewrite missing")
      val want = withConf("spark.graft.topk.enabled", "false") {
        topk(base, k).collect().toSet
      }
      assert(got == want, s"k=$k mismatch: ${got.diff(want)} vs ${want.diff(got)}")
      assert(got.size == (math.min(k, 40) * 3))
    }
  }

  test("group cap: pass-through rows keep results identical") {
    val want = withConf("spark.graft.topk.enabled", "false") {
      topk(base, 5).collect().toSet
    }
    val q = topk(base, 5)
    val got = withConf("spark.graft.topk.maxGroupsPerTask", "1") {
      q.collect().toSet
    }
    assert(rewritten(q), "rewrite missing")
    assert(got == want)
  }

  test("executed plan replaces Sort+partial WindowGroupLimit with GraftBoundedTopK") {
    val df = topk(base, 5)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBoundedTopK"), s"rewrite missing:\n$plan")
    // exactly the Final window limit remains; the Partial one is ours now
    assert(!plan.contains("Partial"), s"partial WindowGroupLimit survived:\n$plan")
  }

  test("rank()/dense_rank() filters are NOT rewritten (ties exceed k rows)") {
    val w = Window.partitionBy($"g").orderBy($"score".desc)
    val df = base.withColumn("rk", rank().over(w)).filter($"rk" <= 2)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftBoundedTopK"), s"rank() must keep Spark's plan:\n$plan")
  }

  test("default conf: broadcast-keyed top-k rewritten, per-row window is not") {
    // queries (tiny, broadcast) × corpus (larger): partition key q.id
    // comes from the broadcast build side — the profitable shape
    val queries = (0 until 5).map(i => (i.toLong, i.toDouble)).toDF("qid", "qv")
    val corpus = (0 until 2000).map(i => (i.toLong, (i % 97).toDouble)).toDF("cid", "cv")
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", -abs($"qv" - $"cv"))
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid".asc)
    val knn = scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
    knn.count()
    val knnPlan = knn.queryExecution.executedPlan.toString
    assert(knnPlan.contains("GraftBoundedTopK"),
      s"broadcast-keyed top-k must rewrite:\n$knnPlan")
    // identical values to the unrewritten plan
    val want = withConf("spark.graft.topk.enabled", "false") {
      knn.collect().toSet
    }
    assert(knn.collect().toSet == want)

    // per-row-group dedup window (groups ≈ rows): must KEEP Spark's
    // sort-based plan — the heap loses on this shape
    val dedup = topk(plain, 1)
    dedup.count()
    val dedupPlan = dedup.queryExecution.executedPlan.toString
    assert(!dedupPlan.contains("GraftBoundedTopK"),
      s"non-broadcast keys must keep Spark's plan:\n$dedupPlan")
  }
}
