package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Dedup, MergeOps}
import graft.operators.MergeOps.MergePolicy

/** Edge-case hardening: empty/blank/unicode text, empty update batches,
  * single-row corpora — the inputs a 100 TB crawl corpus definitely
  * contains.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  test("text functions on blank and unicode text") {
    val r = Seq(("", 1L), ("   ", 2L), ("héllo wörld héllo", 3L), ("日本語 テキスト", 4L))
      .toDF("text", "id")
      .select(col("id"), TextFns.tokenCount(col("text")).as("n"),
        TextFns.fingerprint(col("text")).as("fp"),
        TextFns.langId(col("text")).as("lang"))
      .collect().map(r0 => r0.getLong(0) -> (r0.getInt(1), r0.getLong(2), r0.getString(3)))
      .toMap
    assert(r(1L)._1 === 0 && r(2L)._1 === 0)
    assert(r(3L)._1 === 3 && r(4L)._1 === 2)
    assert(r(3L)._2 >= 0 && r(1L)._3 === "und")
  }

  test("round-4 ops on empty/degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    // packing / profiling / capping / mixing on empty frames: empty, no crash
    assert(graft.operators.Packing.packByTokenBudget(
      emptyDocs, "doc_id", "text", 512, 8).count() === 0)
    assert(graft.operators.Packing.profileNumeric(
      emptyDocs.withColumn("v", col("doc_id").cast("double")),
      Seq("source"), "v").count() === 0)
    assert(graft.operators.Packing.capPerGroup(emptyDocs, "source", "doc_id", 5)
      .count() === 0)
    val w = Seq(("s", 1.5)).toDF("source", "weight")
    assert(graft.operators.Packing.mixByWeight(emptyDocs, "source", "doc_id", w)
      .count() === 0)
    // decontamination with an empty benchmark set flags nothing
    val docs = Seq((1L, "alpha beta gamma delta", "s")).toDF("doc_id", "text", "source")
    assert(Dedup.contaminationFlags(docs, emptyDocs, "doc_id", "text", 3, 1)
      .count() === 0)
    // blank text packs with zero tokens into bin 0
    val blank = Seq((1L, "", "s"), (2L, "   ", "s")).toDF("doc_id", "text", "source")
    val packed = graft.operators.Packing.packByTokenBudget(blank, "doc_id", "text", 10, 1)
      .select("n_tok", "bin").as[(Long, Long)].collect().toSeq
    assert(packed === Seq((0L, 0L), (0L, 0L)))
    // PII functions pass nulls through, never throw
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextFns.redactPii(col("text")), TextFns.normalizeText(col("text")))
      .collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("shingles/minhash on texts shorter than the shingle size") {
    val docs = Seq((1L, "one two"), (2L, "single"), (3L, "")).toDF("doc_id", "text")
    // 3-gram shingles of 2-token/1-token/empty docs → all filtered out
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", shingleN = 3,
      numHashes = 8, bands = 4, threshold = 0.1)
    assert(pairs.count() === 0)
  }

  test("merge with an empty update batch is a no-op") {
    val policy = MergePolicy(Seq("k"), "wd", Seq("ts"), Seq("attr"), Seq("ts"))
    val cur = Seq(("a", 1L, "A", false)).toDF("k", "ts", "attr", "wd")
    val (next, log) = MergeOps.upsertWithLog(cur, cur.limit(0), policy)
    assert(next.collect().map(_.toSeq).toSet === cur.collect().map(_.toSeq).toSet)
    assert(log.count() === 0)
  }

  test("dedupToLatest on empty input and single row") {
    val df = Seq(("a", 1L)).toDF("k", "ts")
    assert(MergeOps.dedupToLatest(df.limit(0), Seq("k"), Seq("ts")).count() === 0)
    assert(MergeOps.dedupToLatest(df, Seq("k"), Seq("ts")).count() === 1)
  }

  test("changed-bucket merge with an empty micro-batch is a no-op") {
    import graft.operators.StateTables
    import graft.streaming.ConsistentState
    val policy = MergePolicy(Seq("k"), "wd", Seq("ts"), Seq("attr"), Seq("ts"))
    val root = java.nio.file.Files.createTempDirectory("graft_cb_empty").toString
    def merge(updates: org.apache.spark.sql.DataFrame): Seq[Int] = {
      val txn = ConsistentState.begin(spark, root)
      val touched = StateTables.mergeChangedBuckets(txn, "st", updates, policy, 4)
      txn.commit()
      touched
    }
    val init = Seq(("a", 1L, "A", false), ("b", 1L, "B", false))
      .toDF("k", "ts", "attr", "wd")

    // empty FIRST batch: nothing touched, the table is published empty
    assert(merge(init.limit(0)).isEmpty)
    assert(ConsistentState.readConsistent(spark, root, Seq("st"))("st").count() === 0)
    merge(init)
    val man = ConsistentState.readManifest(spark, root)
    assert(merge(init.limit(0)).isEmpty)
    assert(ConsistentState.readManifest(spark, root) === man) // nothing staged
    assert(ConsistentState.readConsistent(spark, root, Seq("st"))("st").count() === 2)
  }

  test("round-7 ops on empty/degenerate inputs") {
    import graft.operators.{Curation, Dedup, Retrieval, Similarity}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "only doc here")).toDF("doc_id", "text")

    // fuzzy dedup: no docs / one doc -> no candidate pairs, no crash
    assert(Dedup.fuzzyDedupPairs(empty, "doc_id", "text").count() === 0)
    assert(Dedup.fuzzyDedupPairs(one, "doc_id", "text").count() === 0)

    // perplexity buckets on a 1-doc corpus: the doc is its own tercile
    // population; cutoffs equal its score, <= sends it to tail
    val lm1 = Curation.fitUnigramLm(one, "text")
    assert(Curation.perplexityBuckets(one, lm1, "doc_id", "text")
      .select("bucket").as[String].collect().toSeq === Seq("tail"))

    // source stats: all-null text still yields a row per source with
    // n_docs counted and null-safe aggregates (quality sum ignores null)
    val nulls = Seq((1L, "s1", null: String), (2L, "s1", null: String))
      .toDF("doc_id", "source", "text")
    val sr = Curation.sourceQualityStats(nulls, "text", "source",
      Seq("the"), 0.1, 0.5).collect()
    assert(sr.length === 1 && sr(0).getLong(1) === 2L)

    // sparse cosine: single doc -> no pairs; empty corpus -> no pairs
    assert(Similarity.sparseCosinePairs(one, "doc_id", "text", 10, 0.5)
      .count() === 0)
    assert(Similarity.sparseCosinePairs(empty, "doc_id", "text", 10, 0.5)
      .count() === 0)

    // bm25: empty query set and query-only corpus both answer empty
    assert(Retrieval.bm25TopK(empty, one, "doc_id", "text", k = 3)
      .count() === 0)
    assert(Retrieval.bm25TopK(one, one, "doc_id", "text", k = 3)
      .count() === 0) // only self-match, excluded

    // kmeans: k larger than the corpus still assigns every vector
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ka = Similarity.kmeansAssign(vecs, "vec_id", "embedding",
      k = 5, iters = 1)
    assert(ka.count() === 2)
  }

  test("round-8 session-4 ops on empty/degenerate inputs") {
    import graft.operators.{Curation, Retrieval, Similarity}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "only doc here")).toDF("doc_id", "text")

    // pmi: empty corpus and a corpus with no 2-token doc -> no pairs
    assert(Curation.pmiPairs(empty, "doc_id", "text", 2).count() === 0)
    assert(Curation.pmiPairs(Seq((1L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", 2).count() === 0)

    // ql: empty query set / self-only corpus both answer empty
    assert(Retrieval.qlTopK(empty, one, "doc_id", "text", k = 3)
      .count() === 0)
    assert(Retrieval.qlTopK(one, one, "doc_id", "text", k = 3)
      .count() === 0)

    // kAnon on empty input: no groups, no rows, no error
    val emptyEv = Seq.empty[(String, Long)].toDF("etype", "uid")
    assert(Curation.kAnonSuppress(emptyEv, Seq("etype", "uid"), 2)
      .count() === 0)

    // timeSplit single row: the 4/5-quantile is the row itself -> train
    val oneTs = Seq((1L, 42L)).toDF("id", "us")
    assert(Curation.timeSplit(oneTs, "us", 4, 5, 0L, bucketWidth = 10L)
      .select("split").as[String].head() === "train")

    // classWeights on one label: weight = N/(1*N) = 1.0 quantized
    val oneLbl = Seq.fill(3)("x").toDF("label")
    assert(Curation.classWeights(oneLbl, "label")
      .select("weight_q").as[Long].head() === 1000000L)

    // embedDecontaminate with empty benchmark: no cosines, empty result
    val vecs = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val noBench = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.embedDecontaminate(vecs, noBench, "vec_id",
      "embedding", 0.5).count() === 0)

    // dimStats on empty input: no rows
    assert(Similarity.dimStats(noBench, "embedding").count() === 0)

    // sourceZScores: empty input; all-blank source gives std 0 -> null z
    val blankSrc = Seq((1L, "", "s"), (2L, "", "s")).toDF("doc_id", "text", "source")
    assert(Curation.sourceZScores(empty.withColumn("source", lit("s")),
      "doc_id", "text", "source").count() === 0)
    val zr = Curation.sourceZScores(blankSrc, "doc_id", "text", "source")
      .collect().map(r => Option(r.get(3)))
    assert(zr.forall(_.isEmpty))

    // winsorize: empty input -> empty (no bounds, no crash); single
    // value group clips to itself
    import graft.operators.Quantiles
    val emptyV = Seq.empty[(String, Long)].toDF("g", "v")
    assert(Quantiles.winsorize(emptyV, "g", "v", 10L, (1, 20), (19, 20))
      .count() === 0)
    val oneV = Seq(("g", 7L)).toDF("g", "v")
    assert(Quantiles.winsorize(oneV, "g", "v", 10L, (1, 20), (19, 20))
      .select("v_clipped").as[Long].head() === 7L)

    // labelDisagreement: empty knn -> empty
    val noKnn = Seq.empty[(Long, Int, Long)]
      .toDF("query_id", "rank", "neighbor_id")
    val lbl = Seq((1L, 0)).toDF("vec_id", "label")
    assert(Similarity.labelDisagreement(noKnn, lbl, "vec_id", "label", 3)
      .count() === 0)

    // userActivityFeatures on empty events -> empty
    import graft.operators.TimeAgg
    val noEv = Seq.empty[(Long, Long, String, Double, Long)]
      .toDF("user_id", "ts_us", "event_type", "value", "event_id")
    assert(TimeAgg.userActivityFeatures(noEv, "user_id", "ts_us",
      "event_type", "value", 1000L, Seq("event_id")).count() === 0)

    // exactRanks / keyness / mlmMaskPlan on empty corpora -> empty
    val emptyRk = Seq.empty[(Long, String, Long)].toDF("id", "g", "v")
    assert(Quantiles.exactRanks(emptyRk, "g", "v", 10L, Seq("id"))
      .count() === 0)
    val emptySrc = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Curation.keyness(emptySrc, "text", "source").count() === 0)
    assert(Curation.mlmMaskPlan(empty, "doc_id", "text").count() === 0)

    // vocab coverage / burstiness / health card on empty corpora
    assert(Curation.vocabCoverage(emptySrc, "text", "source", 10)
      .count() === 0)
    assert(Curation.burstiness(empty, "doc_id", "text", nDocs = 1L)
      .count() === 0)
    assert(Curation.corpusHealthCard(emptySrc, "doc_id", "text",
      "source", 10).count() === 0)
    // all-blank corpus: health card still counts docs (dup among blanks)
    val blanks = Seq((1L, "", "s"), (2L, "", "s"))
      .toDF("doc_id", "text", "source")
    val hc = Curation.corpusHealthCard(blanks, "doc_id", "text", "source",
      10).collect()
    assert(hc.length === 1 && hc(0).getLong(1) === 2L &&
      hc(0).getLong(2) === 2L, "blank docs are exact dups of each other")

    // batch-6 ops on empty/degenerate inputs
    import graft.operators.{Eval, Sketches}
    val noVals = Seq.empty[String].toDF("v")
    assert(Sketches.heavyHitters(noVals, "v", den = 4).count() === 0)
    assert(Curation.codeSwitchSignals(empty, "doc_id", "text")
      .count() === 0)
    assert(Curation.spanCorruptPlan(empty, "doc_id", "text")
      .count() === 0)
    // single-doc source: no pairs (half = 0)
    val oneDoc = Seq((1L, "w w", "s")).toDF("doc_id", "text", "source")
    assert(Curation.preferencePairs(oneDoc, "doc_id", "text", "source")
      .count() === 0)
    assert(Eval.aucExact(Seq.empty[(Long, Boolean)].toDF("s", "y"),
      "s", col("y")).collect().head.isNullAt(2))

    // event analytics on empty logs
    val noEv2 = Seq.empty[(Long, String, Long)]
      .toDF("user_id", "event_type", "ts_us")
    assert(TimeAgg.rateAnomaly(noEv2, "event_type", "ts_us", 60L, 5)
      .count() === 0)
    assert(TimeAgg.funnel(noEv2, "user_id", "ts_us", "event_type",
      Seq("a", "b", "c"), 1000L).count() === 0)
    assert(TimeAgg.cohortRetention(noEv2, "user_id", "ts_us", 60L)
      .count() === 0)

    // eval metrics on empty inputs
    val noRanked = Seq.empty[(Long, Int, Boolean)]
      .toDF("query_id", "rank", "rel")
    assert(Eval.mrrAtK(noRanked, 5, nQueries = 3)
      .select("mrr_q").as[Long].head() === 0L,
      "no relevant results anywhere -> MRR 0, not an error")
    assert(Eval.ndcgAtK(noRanked, 5).count() === 0)
    assert(Eval.calibration(Seq.empty[(Long, Boolean)].toDF("s", "y"),
      "s", col("y")).count() === 0)
    assert(Eval.classReport(Seq.empty[(String, String)]
      .toDF("t", "p"), "t", "p").count() === 0)
  }
}
