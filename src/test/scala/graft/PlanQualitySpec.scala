package graft

/** Plan-shape regression tests — the 100 TB story is only real if the
  * physical plans keep the shapes the docs claim: dims broadcast (fact
  * side never pre-shuffled), scans pruned to needed columns, no
  * accidental sort-merge joins or cartesian products on the join
  * pipelines.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02 join chain: all dims broadcast, lineitem scan pruned") {
    val plan = planOf("q02_j1_routes_join")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
    // lineitem scan must read only the join/agg columns, not the table
    val scanLine = plan.split("\n").find(l => l.contains("lineitem") && l.contains("ReadSchema"))
      .orElse(plan.split("\n").find(_.contains("ReadSchema: struct<l_")))
    assert(scanLine.exists { l =>
      l.contains("l_orderkey") && !l.contains("l_shipdate") && !l.contains("l_returnflag")
    }, s"lineitem scan not pruned:\n${scanLine.getOrElse(plan)}")
  }

  test("q06 covering join broadcasts the ROA dim (no shuffled theta join)") {
    val plan = planOf("q06_j6_covering_join")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"covering join didn't broadcast:\n$plan")
  }

  test("q05 expansion LPM is an equi-join + partial aggregation (no window sort)") {
    val plan = planOf("q05_j5_lpm")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      s"expansion LPM fell back to a window:\n$plan")
    // max_by(struct) plans as SortAggregate (struct buffer) — still a
    // partial+final aggregation, one row per probe leaves the map side
    assert(plan.contains("Aggregate"), s"missing aggregate:\n$plan")
  }

  test("q01 aggregation keeps whole-stage codegen on the scan+agg path") {
    val qe = SparkEntry.queries("q01_pricing_agg")(spark, dir).queryExecution
    val s = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"), s"no WholeStageCodegen spans:\n${s.take(2000)}")
  }

  test("q52 binary-form v6 LPM broadcasts the geo dim (probes never shuffle)") {
    val plan = planOf("q52_j5_lpm_ipv6_binary")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"v6 LPM didn't broadcast the dim:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("changed-bucket state read prunes partitions at the scan") {
    import spark.implicits._
    import graft.operators.{MergeOps, StateTables}
    import graft.streaming.ConsistentState
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = (1 to 64).map(i => (s"k$i", i.toLong, false)).toDF("k", "v", "wd")
    val boot = ConsistentState.begin(spark, root)
    StateTables.mergeChangedBuckets(boot, "st", df,
      MergeOps.MergePolicy(Seq("k"), "wd", Seq("v"), Nil, Seq("v")), 8)
    boot.commit()
    // the touched-bucket read mergeChangedBuckets uses lists only the
    // named bucket directories, so only 2 of 8 are listed and read
    val txn = ConsistentState.begin(spark, root)
    val pruned = txn.current("st", Some(Seq(1, 2))).get
    pruned.collect() // execute this plan so its scan metrics fill in
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.relation.location.rootPaths.map(_.getName).toSet ===
      Set("__bucket=1", "__bucket=2"))
    val total = txn.current("st").get.inputFiles.length
    assert(scan.metrics("numFiles").value < total,
      s"the bucket read did not reduce the file set (${scan.metrics("numFiles").value} of $total)")
  }

  test("q74 covering expansion is an equi-join (the NLJ it replaced can't come back)") {
    val plan = planOf("q74_j6_covering_expansion")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expansion covering join degenerated to a product:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("SortMergeJoin"),
      s"no hash/equi join in the expansion covering plan:\n$plan")
  }

  test("readCdcLog hour filter prunes compacted partitions at the scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cdcprune").toString
    val hours = Seq("2024-01-01-00", "2024-01-01-01", "2024-01-01-02")
    val rows = hours.zipWithIndex.flatMap { case (h, i) =>
      (1 to 4).map(j => (s"k$i$j", (i * 3600L + j) * 1000000L, i.toLong, h))
    }
    rows.toDF("k", "ts_us", "__src_batch", "date_hour")
      .write.partitionBy("date_hour").parquet(s"$root/compacted")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/compacted/_COMPACTED_THROUGH"), "2".getBytes)
    val read = graft.streaming.Ingest
      .readCdcLog(spark, s"$root/log", s"$root/compacted")
      .filter(col("date_hour") === "2024-01-01-01")
    val scan = read.queryExecution.executedPlan.toString
    // the stats jobs read single hours; at 100 TB the compacted layout
    // must prune to the hour directory, not list-and-filter every hour
    assert(scan.contains("PartitionFilters") && scan.contains("date_hour"),
      s"no partition filter on the compacted CDC scan:\n$scan")
    assert(read.count() === 4)
  }

  test("q69 decontamination broadcasts the benchmark side (corpus never pre-shuffles)") {
    val plan = planOf("q69_dd_decontamination")
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("q67 packing runs one data shuffle (by shard) before the window") {
    val qe = SparkEntry.queries("q67_tx_seq_packing")(spark, dir).queryExecution
    val exchanges = qe.executedPlan.toString.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
    // shard exchange for the window + the gate's global orderBy
    // range exchange; no other data movement
    assert(exchanges.length === 1,
      s"expected exactly one hash exchange (shard), got:\n${exchanges.mkString("\n")}")
  }

  test("q63 PII scrub stays inside whole-stage codegen on the scan") {
    val qe = SparkEntry.queries("q63_tx_pii_redact")(spark, dir).queryExecution
    val s = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"), s"no WholeStageCodegen spans:\n${s.take(2000)}")
  }

  test("q72 quantization is a pure scan-stage projection (no exchange before sort)") {
    val qe = SparkEntry.queries("q72_ann_quantize_int8")(spark, dir).queryExecution
    val exchanges = qe.executedPlan.toString.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges.isEmpty,
      s"quantization should not shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q73 v6 expansion LPM is a broadcast equi-join + aggregate (no NLJ, no window)") {
    val plan = planOf("q73_j5_lpm_ipv6_expansion")
    assert(plan.contains("BroadcastHashJoin"),
      s"v6 expansion LPM didn't plan as a broadcast EQUI-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"v6 expansion LPM fell back to the nested loop:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
    assert(!plan.contains("Window"), s"winner selection fell back to a window:\n$plan")
  }

  test("production operator outputs carry no global sort (gate orderBy is determinism-only)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ip.IpKit
    // The gates wrap every result in .orderBy(...) so the DuckDB oracle
    // hash is stable; that range-shuffle is gate plumbing, NOT operator
    // cost. Production callers use the operators directly — these are
    // the same shapes minus the sort, and they must plan without a
    // rangepartitioning Exchange (a global sort of a 100 TB result).
    val dim = IpKit.withPrefixRange(
      Seq("10.0.0.0/8", "2001:1::/32").toDF("geo_prefix"), "geo_prefix")
    val probes = Seq(("1", "10.1.2.3"), ("2", "2001:1::5")).toDF("k", "ip")
      .withColumn("addr", IpKit.inetNum(col("ip")))
    val lpm = graft.operators.LpmJoin.lpmByExpansionBinary(probes, Seq("k"), "addr",
      dim, "ip_start", "ip_len", payload = Seq("geo_prefix"), tieBreakAsc = "geo_prefix")
    val chg = graft.operators.TimeAgg.chgStats(
      Seq((1L, 5L, false)).toDF("ts_us", "peer", "wd"), "ts_us", 60, col("wd"), Seq("peer"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dedup = graft.operators.Dedup.exact(docs, md5(col("text")), "doc_id")
    for ((name, df) <- Seq("lpmByExpansionBinary" -> lpm, "chgStats" -> chg,
        "exactDedup" -> dedup)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"unsorted $name plans a global sort:\n$plan")
    }
  }

  test("cosine near-dup candidate shuffles carry no embedding payload") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val cand = graft.operators.Similarity.cosineCandidates(emb, 64, 6, 2, 100)
    val exchanges = cand.queryExecution.executedPlan.toString.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    // candidate-stage shuffles move (sig, id)-shaped rows only — the
    // 100 TB of vectors joins back AFTER candidates are deduped
    exchanges.foreach(e => assert(!e.contains("v#") && !e.contains("embedding"),
      s"embedding payload in a candidate shuffle:\n$e"))
  }

  test("chunking and split are pure scan-stage ops — zero shuffle") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val chunks = graft.operators.Curation.chunkTokens(docs, "doc_id", "text", 32, 24)
    val chunkPlan = chunks.queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunkTokens shuffles — it must stay scan-local:\n$chunkPlan")
    val split = graft.operators.Curation.stratifiedSplit(docs, "text")
    val splitPlan = split.queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"),
      s"stratifiedSplit shuffles — it must stay scan-local:\n$splitPlan")
  }

  test("repetition signals: one explode feeds all n sizes, no window/sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sig = graft.operators.Curation.repetitionSignals(docs, "doc_id", "text")
    val plan = sig.queryExecution.executedPlan.toString
    val generates = plan.split("\n").count(_.contains("Generate explode"))
    assert(generates === 1,
      s"expected ONE explode for all n-gram sizes, found $generates:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("rangepartitioning"),
      s"repetition signals plan a window/global sort:\n$plan")
  }

  test("incremental dedup probes the Bloom sketch in the scan stage") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val key = graft.operators.Dedup.md5Hash60(col("text"))
    val out = graft.operators.Dedup.newKeysOnly(batch, corpus, key, 1000)
    val plan = out.queryExecution.executedPlan.toString
    // both branches filter on the sketch BEFORE any join/shuffle — the
    // batch payload that shuffles is only the Bloom-positive slice
    assert(plan.split("\n").count(_.contains("might_contain")) >= 2,
      s"Bloom probe missing from the scan stage:\n$plan")
    // the anti-join's LEFT (batch) input must be Bloom-pruned — the
    // probe has to sit below the join, not above it (checked on the
    // optimized logical plan: the physical tree hides children behind
    // AQE/QueryStage wrappers that collect() won't traverse)
    val antiLefts = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j.left
    }
    assert(antiLefts.nonEmpty, s"no anti-join found in newKeysOnly plan:\n$plan")
    antiLefts.foreach(in => assert(in.toString.contains("might_contain"),
      s"anti-join's batch input runs un-pruned:\n$in"))
  }

  test("sessionize shuffles each key group once (both windows share the sort)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Seq((1L, 10L, 100L)).toDF("user_id", "ts_us", "event_id")
    val sess = graft.operators.TimeAgg.sessionize(
      ev, Seq("user_id"), "ts_us", 60000000L, Seq("event_id"))
    val plan = sess.queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"sessionize must shuffle once on the key, found $exchanges exchanges:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"sessionize plans a global sort:\n$plan")
  }

  test("tf-idf never goes all-pairs; doc count is a literal, not a join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.tfIdfTopTerms(docs, "doc_id", "text", 3)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"tf-idf plans an all-pairs join:\n$plan")
  }

  test("centroid outliers broadcast the centroid table back to the corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.centroidOutliers(
      emb, "vec_id", "embedding", "label")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join didn't broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("duplicate-span shuffles carry gram keys, never gram text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Dedup.duplicateSpans(docs, "doc_id", "text", 6)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"duplicateSpans plans an all-pairs join:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"unsorted duplicateSpans plans a global sort:\n$plan")
    // the gram-count aggregate and join shuffle 8-byte keys + positions;
    // the token arrays and document text must die in the scan stage
    plan.split("\n").filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("__toks") && !e.contains("text#"),
        s"token/text payload in a duplicateSpans shuffle:\n$e"))
  }

  test("boilerplate df is two hash aggregates, not a count-distinct expand") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.boilerplateSegments(docs, "doc_id", "text", 4)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"distinct-doc df planned a count-distinct Expand:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplateSegments plans an all-pairs join:\n$plan")
  }

  test("source-overlap shuffles carry gram keys + source ids, never text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.sourceOverlap(docs, "text", "source", 6)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Join"),
      s"sourceOverlap must be join-free (single-pass pair expansion):\n$plan")
    plan.split("\n").filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("__toks") && !e.contains("text#"),
        s"token/text payload in a sourceOverlap shuffle:\n$e"))
  }

  test("quality-classifier scoring is scan-stage (no exchange, no join)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.limit(50)
      .withColumn("label", (col("doc_id") % 2 === 0).cast("double"))
    val model = graft.operators.QualityClassifier.train(train, "text", "label",
      numFeatures = 1 << 12, maxIter = 5)
    val scored = graft.operators.QualityClassifier.score(docs, model, "text",
      numFeatures = 1 << 12)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"scoring must ride the scan stage (broadcast coefficients):\n$plan")
  }

  test("unigram LM total rides a 1-row broadcast; scoring never sorts globally") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = graft.operators.Curation.fitUnigramLm(docs, "text")
    val r = graft.operators.Curation.unigramScore(docs, lm, "doc_id", "text")
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row corpus total isn't broadcast:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"unsorted unigramScore plans a global sort:\n$plan")
  }

  test("blocklist filter is a pure scan-stage projection — zero shuffle, codegen'd") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.blocklistFilter(docs, "doc_id", "text",
      Seq("slow", "dup", "vector"))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"blocklistFilter shuffles — it must stay scan-local:\n$plan")
    // toString renders whole-stage codegen as "*(n)"; the lambda-bearing
    // Project itself sits above it (higher-order functions don't
    // codegen) but the scan stage must
    assert(plan.contains("*("),
      s"no codegen'd stage under blocklistFilter:\n$plan")
  }

  test("paragraph dedup shuffles paragraph KEYS, not paragraph text; no corpus window") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text",
      paragraphsOf = graft.operators.Dedup.tokenBlocks(_, 4))
    val plan = r.queryExecution.executedPlan.toString
    // first-occurrence decision is a hash aggregate on the 8-byte key —
    // a window over the corpus would partition by pk and SORT globally
    assert(!plan.contains("Window"),
      s"paragraphDedup plans a window — first-occurrence must be an agg:\n$plan")
    // the min(struct) agg must have a map-side partial
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      s"no map-side partial before the first-occurrence shuffle:\n$plan")
  }

  test("semDedup: centroid table broadcasts back; pair join is bucket-equi, not NLJ") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Similarity.semDedup(emb, "vec_id", "embedding",
      threshold = 0.3, dim = 64, planes = 6, maxBucket = 100)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semDedup pair generation went all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid/drop tables should broadcast (corpus-side never re-shuffles):\n$plan")
  }

  test("fuzzy dedup: Levenshtein runs per CANDIDATE (equi-joins), never all-pairs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Dedup.fuzzyDedupPairs(docs, "doc_id", "text",
      maxBandBucket = 50)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzyDedupPairs plans an all-pairs join — the O(len²) kernel must be " +
        s"candidate-bounded:\n$plan")
    assert(!plan.contains("Window"),
      s"unexpected window in fuzzyDedupPairs (cap + dedup are aggregates):\n$plan")
  }

  test("perplexity buckets: cutoffs ride a broadcast, no global rank sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = graft.operators.Curation.fitUnigramLm(docs, "text")
    val r = graft.operators.Curation.perplexityBuckets(docs, lm, "doc_id", "text")
    val plan = r.queryExecution.executedPlan.toString
    // the ntile alternative would plan rangepartitioning + a corpus-wide
    // Window; the threshold design must show neither
    assert(!plan.contains("rangepartitioning") && !plan.contains("Window"),
      s"perplexityBuckets plans a global rank — cutoffs must be thresholds:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row cutoff frame isn't broadcast:\n$plan")
  }

  test("source quality rollup is one aggregate pipeline — no join, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.sourceQualityStats(docs, "text", "source",
      Seq("the", "a"), 0.4, 0.1)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"sourceQualityStats must be a pure aggregate over the corpus scan:\n$plan")
    // text/token payloads die in the scan stage; shuffles carry only
    // (source, quantized quality, 32-byte hash)
    plan.split("\n").filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("text#"),
        s"document text in a sourceQualityStats shuffle:\n$e"))
  }

  test("sparse cosine: term equi-join only, pair dot is one hash aggregate") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Similarity.sparseCosinePairs(docs, "doc_id", "text",
      maxTermDf = 400, minCosine = 0.9)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"sparseCosinePairs plans an all-pairs join — pairs must come from the " +
        s"capped term equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"unexpected window in sparseCosinePairs (dot/norms are aggregates):\n$plan")
    // shuffles carry (id, term, tf) triples and pair keys — never text
    plan.split("\n").filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("text#"),
        s"document text in a sparseCosinePairs shuffle:\n$e"))
  }

  test("gopher rule battery is a pure scan-stage projection — zero shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.gopherRules(docs, "doc_id", "text",
      Seq("the", "a"))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gopherRules shuffles — it must stay scan-local:\n$plan")
  }

  test("bm25: query terms broadcast into the corpus tf table, never the reverse") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val r = graft.operators.Retrieval.bm25TopK(
      docs.filter(col("doc_id") < 20), docs, "doc_id", "text", k = 5,
      maxTermDf = 500)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"bm25TopK plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query-term side must broadcast into the corpus tf scan:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"bm25TopK plans a global sort (top-k must be per-query window):\n$plan")
  }

  test("kmeans final assignment broadcasts centroids; corpus never shuffles pre-agg") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 4, iters = 1)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid table must broadcast into the N·k assignment pass:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("rangepartitioning"),
      s"kmeansAssign shuffles the corpus outside the per-id aggregate:\n$plan")
  }

  test("budget/temperature sampling: targets and masses broadcast, corpus never shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (r <- Seq(
      graft.operators.Packing.sampleToBudget(docs, "doc_id", "text", "source",
        Map("src0" -> 0.5), 1000L),
      graft.operators.Packing.temperatureMix(docs, "doc_id", "text", "source",
        1000L))) {
      val plan = r.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"per-source frames must broadcast into the corpus scan:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"sampling shuffled the corpus:\n$plan")
    }
  }

  test("hard negatives broadcast the query side; band filters before the rank stage") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Similarity.hardNegatives(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 3, minCos = 0.1, maxCos = 0.4)
    val plan = r.queryExecution.executedPlan.toString
    val lines = plan.split("\n")
    val at = lines.indexWhere(_.contains("GraftCosineTopK"))
    assert(at >= 0 && lines(at + 1).contains("BroadcastExchange"),
      s"query side must broadcast into the fused kNN node:\n$plan")
    // the band is applied inside the node, before a pair can enter a
    // query's top-k: no corpus pair outside the band leaves the task
    assert(lines(at).contains("band=[0.1, 0.4)"), s"band not in the node:\n$plan")
    assert(!lines.exists(l => l.contains("Filter") && l.contains("cos#")),
      s"band applied as a separate filter:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"hardNegatives plans a global sort:\n$plan")
  }

  test("bigram LM scoring: one transition explode per side, vocab scalar broadcasts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.bigramScore(docs,
      graft.operators.Curation.fitBigramLm(docs, "text"), "doc_id", "text")
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"bigramScore plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row vocab scalar must broadcast:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"bigramScore plans a global sort:\n$plan")
  }

  test("ivf-pq: LUT and centroid tables broadcast; corpus codes never NLJ") {
    val plan = planOf("q110_ann_ivfpq")
    assert(plan.contains("BroadcastHashJoin"),
      s"LUT/centroids must broadcast-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"ivfPqTopK plans a cartesian product:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ivfPqTopK shuffles a sort-merge join:\n$plan")
  }

  test("curriculum bins: no single-partition global window, offsets broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.curriculumBins(docs, "doc_id", "text",
      Seq("the", "a", "of", "and", "to", "in", "is"), nBins = 4)
    val plan = r.queryExecution.executedPlan.toString
    // the point of the two-pass rank: the row_number window partitions by
    // the coarse bucket — an empty partition spec would be a global sort
    // through one task
    assert(plan.contains("windowspecdefinition(__bucket"),
      s"curriculumBins's window is not keyed by __bucket:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bucket offsets must broadcast back:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"curriculumBins plans a global sort:\n$plan")
  }

  test("repeat-to-budget is scan + two broadcast joins — corpus never shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Packing.repeatToBudget(docs, "doc_id", "text",
      "source", Map("src0" -> 0.5, "src3" -> 0.3), 10000L)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"mass/targets must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"repeatToBudget shuffles the corpus:\n$plan")
    assert(!plan.contains("rangepartitioning") && !plan.contains("Window"),
      s"repeatToBudget must stay scan-stage:\n$plan")
  }

  test("contaminatedSpans broadcasts the benchmark gram keys; corpus never sorts globally") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Dedup.contaminatedSpans(
      docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
      "doc_id", "text", gramSize = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench keys must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("rangepartitioning"),
      s"corpus side shuffled/sorted globally:\n$plan")
  }

  test("export-manifest composition stays a scan-stage projection + one broadcast") {
    // split, shard and shuffle key are all narrow expressions — the
    // only exchange the capstone pays is the final orderBy's range
    // partitioning; nothing may shuffle the corpus before it
    val plan = planOf("q128_s_export_manifest")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"manifest composition introduced a corpus shuffle join:\n$plan")
    assert(!plan.contains("Window"),
      s"manifest composition fell back to a window:\n$plan")
  }

  test("corpusDiff reduces both sides to (id, hash) before the full outer join") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.operators.Curation.corpusDiff(
      docs, docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .queryExecution
    // the logical plan projects the text column away below the join:
    // no join-side output may carry `text`
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty)
    assert(joins.forall(_.children.forall(
      _.output.forall(_.name != "text"))),
      s"text crosses the diff shuffle:\n${qe.optimizedPlan}")
  }

  test("qlTopK: query terms broadcast; no cartesian, no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val r = graft.operators.Retrieval.qlTopK(
      docs.filter(col("doc_id") < 20), docs, "doc_id", "text", k = 5,
      maxTermDf = 500)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"qlTopK plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query-term side must broadcast into the corpus tf scan:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"qlTopK plans a global sort (top-k must be per-query window):\n$plan")
  }

  test("embedDecontaminate: benchmark broadcasts; corpus never shuffles pre-agg") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val r = graft.operators.Similarity.embedDecontaminate(
      emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", tau = 0.3)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the benchmark side must broadcast into the corpus scan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("rangepartitioning"),
      s"embedDecontaminate shuffles the corpus outside the max-agg:\n$plan")
  }

  test("sourceZScores: per-source stats broadcast back; z stays scan-stage") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.sourceZScores(docs, "doc_id", "text",
      "source")
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row stats table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sourceZScores shuffles the corpus for the stats join:\n$plan")
  }

  test("winsorize: quantile bounds broadcast back; no global row sort") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, floor, lit}
    val base = ev.select(col("event_id"), col("event_type"),
      floor(col("value") * lit(100.0)).cast("long").as("vq"))
    val r = graft.operators.Quantiles.winsorize(base, "event_type", "vq",
      1000L, (1, 20), (19, 20))
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 2-rows-per-group bounds table must broadcast:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"winsorize globally sorts rows (clip must be scan-stage):\n$plan")
  }

  test("userActivityFeatures: per-user window, never a global sort") {
    val ev0 = spark.read.parquet(s"$dir/events.parquet")
    val ev = ev0.withColumn("ts_us",
      graft.operators.TimeAgg.epochMicros(ev0))
    val r = graft.operators.TimeAgg.userActivityFeatures(ev, "user_id",
      "ts_us", "event_type", "value", 1800000000L, Seq("event_id"))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"userActivityFeatures plans a global sort:\n$plan")
  }

  test("labelDisagreement: label lookups broadcast into the knn frame") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val knn = graft.operators.Similarity.cosineTopK(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
    val r = graft.operators.Similarity.labelDisagreement(knn,
      emb.select(col("vec_id"), col("label")), "vec_id", "label", 5)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"(id, label) lookups must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"labelDisagreement shuffles the knn frame for a label join:\n$plan")
  }

  test("exactRanks: bucket offsets broadcast; no global row sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val base = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFns.tokenCount(col("text")).cast("long")
        .as("n_tok"))
    val r = graft.operators.Quantiles.exactRanks(base, "source", "n_tok",
      8L, Seq("doc_id"))
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"offset/total tables must broadcast:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"exactRanks plans a global sort (ranks must come from bucket offsets):\n$plan")
  }

  test("keyness: margins broadcast; no cartesian blowup") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.keyness(docs, "text", "source",
      minCount = 5L, k = 10)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"keyness plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row margin table must broadcast:\n$plan")
  }

  test("mlmMaskPlan is a pure scan-stage projection — zero shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.mlmMaskPlan(docs, "doc_id", "text")
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"mlmMaskPlan shuffles — it must stay scan-local:\n$plan")
  }

  test("vocabCoverage/healthCard: vocab cut broadcasts; no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (r <- Seq(
      graft.operators.Curation.vocabCoverage(docs, "text", "source", 1000),
      graft.operators.Curation.corpusHealthCard(docs, "doc_id", "text",
        "source", 1000))) {
      val plan = r.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"plans a cartesian product:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"the vocab-cut table must broadcast:\n$plan")
    }
  }

  test("heavyHitters: MG candidates broadcast into the exact recount") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.{col, explode, length}
    val terms = docs
      .select(explode(graft.functions.TextFns.tokens(col("text")))
        .as("term"))
      .filter(length(col("term")) > 0)
    val r = graft.operators.Sketches.heavyHitters(terms, "term", den = 100)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the candidate set must broadcast into the recount scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"heavyHitters shuffles the stream for the candidate join:\n$plan")
  }

  test("codeSwitch/spanCorrupt/preferencePairs: no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (r <- Seq(
      graft.operators.Curation.codeSwitchSignals(docs, "doc_id", "text"),
      graft.operators.Curation.spanCorruptPlan(docs, "doc_id", "text"),
      graft.operators.Curation.preferencePairs(docs, "doc_id", "text",
        "source"))) {
      val plan = r.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"plans a global sort:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"plans a cartesian product:\n$plan")
    }
  }

  test("event analytics (anomaly/funnel/cohort): keyed shuffles only") {
    val ev0 = spark.read.parquet(s"$dir/events.parquet")
    val ev = ev0.withColumn("ts_us",
      graft.operators.TimeAgg.epochMicros(ev0))
    for (r <- Seq(
      graft.operators.TimeAgg.rateAnomaly(ev, "event_type", "ts_us",
        60L, 30),
      graft.operators.TimeAgg.funnel(ev, "user_id", "ts_us",
        "event_type", Seq("view", "click", "purchase"), 86400000000L),
      graft.operators.TimeAgg.cohortRetention(ev, "user_id", "ts_us",
        86400L))) {
      val plan = r.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"plans a cartesian product:\n$plan")
      assert(!plan.contains("rangepartitioning"),
        s"plans a global sort:\n$plan")
    }
  }

  test("pmiPairs: no cartesian; text never crosses a shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.pmiPairs(docs, "doc_id", "text",
      window = 2, minCount = 5L)
    val qe = r.queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pmiPairs plans a cartesian product:\n$plan")
    val exchanges = qe.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.forall(_.output.forall(_.name != "text")),
      s"document text crosses a pmiPairs shuffle:\n$plan")
  }

  test("interval overlap join: chunked EQUI-join, never a nested-loop theta join") {
    val plan = planOf("q172_j_interval_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to a theta join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no equi-join in the interval join plan:\n$plan")
  }

  test("vocabGrowth and maxTokenRun are scan-stage projections — zero shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (r <- Seq(
      graft.operators.Segments.vocabGrowth(docs, "doc_id", "text"),
      graft.operators.Segments.maxTokenRun(docs, "doc_id", "text"))) {
      val exchanges = r.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"sequence profile shuffles:\n${r.queryExecution.executedPlan}")
    }
  }

  test("ksDrift: raw rows take ONE aggregate; windows run on the bounded grid") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Robust.ksDrift(docs, "source", "n_chars")
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"ksDrift cartesian:\n$plan")
    // the values×groups grid build must broadcast, not shuffle the grid
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"ksDrift grid didn't broadcast:\n$plan")
    val exchanges = r.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    // no shuffle may carry the raw per-document rows: everything past
    // the first aggregate is (group, value, count) grid traffic
    assert(exchanges.forall(_.output.forall(a =>
      a.name == "g" || a.name.startsWith("__") || a.name == "source")),
      s"unexpected shuffle payload:\n$plan")
  }

  test("marginPairs: denominator tables broadcast into the candidate frame") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val r = graft.operators.Similarity.marginPairs(
      emb.filter(col("label") % 2 === 0), emb.filter(col("label") % 2 === 1),
      "vec_id", "embedding", k = 4, minMarginQ = 0L)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"marginPairs k-sum join didn't broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"marginPairs shuffled a bounded side:\n$plan")
  }

  test("gridResample: one per-key window chain, no join between grid and obs") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    val e = ev.withColumn("ts_us", graft.operators.TimeAgg.epochMicros(ev))
      .withColumn("value_q", floor(col("value") * lit(1000000.0)).cast("long"))
    val r = graft.operators.TimeAgg.gridResample(e, "user_id", "ts_us",
      "value_q", 86400000000L, "event_id")
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"gridResample plans a join:\n$plan")
    assert(plan.contains("Window"), s"gridResample lost its window:\n$plan")
  }

  test("triangle join pipeline: equi-joins only, no cartesian or NLJ") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val knn = (1L to 200L).flatMap(i => (1L to 5L).map(j =>
      (i, (i * 31 + j * 7) % 200 + 1))).filter(p => p._1 != p._2)
      .toDF("query_id", "neighbor_id")
    val r = graft.operators.Graph.triangleStats(
      graft.operators.Graph.mutualEdges(knn))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle pipeline planned a product join:\n$plan")
  }

  test("dimCovariance: one explode per arm, per-dim sums broadcast back") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Stats.dimCovariance(emb, "embedding", 6)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim sums didn't broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bounded dim table shuffled:\n$plan")
  }

  test("zOrderKey stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val r = ev.select(col("event_id"), graft.operators.Layout.zOrderKey(
      Seq(pmod(col("user_id"), lit(256L)), pmod(col("event_id"), lit(256L))),
      8).as("zkey"))
    val s = r.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"),
      s"zOrderKey broke codegen:\n${s.take(1500)}")
  }

  test("chi-square / mutual info / TVD: marginals broadcast, corpus scanned once") {
    for (name <- Seq("q196_a_chi_square", "q206_a_mutual_info",
        "q199_s_tvd_divergence")) {
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name: bounded marginal tables didn't broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: a bounded marginal shuffled into an SMJ:\n$plan")
    }
  }

  test("Mann-Whitney: one aggregate over raw rows, windows on the value grid") {
    val plan = planOf("q201_a_mann_whitney")
    // raw documents feed exactly one hash-aggregate pair (partial+final
    // on (source, value)); every Window in the plan runs AFTER that
    // reduction, over the bounded distinct-value grid
    val lines = plan.split("\n")
    val docScans = lines.count(l => l.contains("Scan parquet") &&
      l.contains("documents"))
    assert(docScans <= 1, s"documents scanned $docScans times:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"grid tables should broadcast:\n$plan")
  }

  test("nfc / strip_accents / token_count ride whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = docs.select(
      graft.functions.TextFns.nfc(col("text")).as("a"),
      graft.functions.TextFns.stripAccents(col("text")).as("b"))
    val s = r.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"),
      s"text expressions broke codegen:\n${s.take(1500)}")
  }

  test("pageRank rounds: keyed equi-joins, iteration lineage cut per round") {
    import spark.implicits._
    val edges = (1L to 300L).map(i => (i, i % 300 + 1)).toDF("a", "b")
    val r = graft.operators.Graph.pageRank(edges, rounds = 3)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pageRank planned a cartesian:\n$plan")
    // the only BNLJ allowed is the 1-row vertex-count broadcast (Cross)
    // inside r0 — and the localCheckpoint lineage cut means the final
    // round's plan contains NO join back to the raw edge input
    val bnlj = plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj === 0,
      s"round plan should start from the checkpointed rank table:\n$plan")
    assert(plan.split("\n").count(_.contains("LocalTableScan")) <= 1)
  }

  test("charNgramProfile: only the (group, gram) grid reaches the top-k window") {
    val r = graft.operators.Segments.charNgramProfile(
      spark.read.parquet(s"$dir/documents.parquet"), "lang", "text", 3, 5)
    val plan = r.queryExecution.optimizedPlan.toString
    // the Window must sit ABOVE the gram aggregate (grid input), never
    // directly over the exploded corpus rows
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("Aggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"top-k window not over the aggregated grid:\n$plan")
    // round 9: the gram generator is the native one-walk expression,
    // not the HOF substring form that re-scans from byte 0 per window
    assert(plan.contains("char_ngrams"),
      s"native char_ngrams expression missing from the scan:\n$plan")
  }

  test("explodedShingles: shingle generation is the native word_ngrams " +
      "one-walk kernel, not the HOF split/slice/array_join chain") {
    // pin the pre-snapshot frame (ngramJaccard/minHashLsh localCheckpoint
    // it, which hides the scan expression behind a LogicalRDD)
    val r = graft.operators.Dedup.explodedShingles(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      shingleN = 3)
    val plan = r.queryExecution.optimizedPlan.toString
    assert(plan.contains("word_ngrams"),
      s"native word_ngrams expression missing from the shingle scan:\n" +
        plan.take(4000))
    // the old form materialized a token array + per-window slice/join:
    // none of that machinery should survive in the shingle stage
    assert(!plan.contains("array_join") && !plan.contains("slice("),
      s"HOF shingle build still in the plan:\n${plan.take(4000)}")
  }

  test("distinctNgramRatio: letCol binds ONE split per n-branch " +
      "(the q215 interpreted-HOF retokenization guard)") {
    val r = graft.operators.Segments.distinctNgramRatio(
      spark.read.parquet(s"$dir/documents.parquet"), "lang", "text",
      Seq(1, 2, 3))
    val plan = r.queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(plan).length
    assert(splits <= 3,
      s"tokenization re-inlined ($splits split() calls for 3 branches):\n" +
        plan.take(4000))
  }

  test("kNN top-k plans a map-side PARTIAL WindowGroupLimit") {
    // the session-7 rewrite's contract: the rank filter must lower to
    // a Partial group-limit BELOW the exchange (≤ k rows per query per
    // task forwarded), or a hot query gathers corpus-sized input on
    // one partition
    val plan = planOf("q28_ann_cosine_topk")
    // either Spark's Sort + Partial WindowGroupLimit, or the engine's
    // BoundedTopK heap that replaces the pair (same ≤ k-per-query-per-
    // task bound, no sort) — both satisfy the contract
    assert(plan.contains("GraftBoundedTopK") ||
      (plan.contains("WindowGroupLimit") && plan.contains("Partial")),
      s"no map-side group limit in the top-k plan:\n$plan")
  }

  test("hillTail's per-group top-(k+1) lowers to a partial group limit") {
    val plan = planOf("q224_s_hill_tail")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"hillTail rank filter did not lower to a map-side limit:\n$plan")
  }

  test("adamicAdar: global top-k plans TakeOrdered, never a global sort") {
    val plan = planOf("q241_g_adamic_adar")
    assert(plan.contains("TakeOrderedAndProject"),
      s"adamicAdar top-k did not lower to TakeOrdered:\n$plan")
  }

  test("welchT / cramersV: at most one corpus scan (the checkpointed " +
      "moment table), the total row broadcast back") {
    // the group-moment table is localCheckpoint'd: the plan reads it as
    // ExistingRDD (materialized ONCE), so no documents FileScan may
    // appear more than once — and with the checkpoint, none at all
    val wp = planOf("q242_a_welch_t")
    assert(wp.split("\n").count(l =>
      l.contains("FileScan") && l.contains("documents")) <= 1,
      s"welchT scanned documents more than once:\n$wp")
    assert(wp.contains("BroadcastNestedLoopJoin") ||
      wp.contains("BroadcastExchange"), s"welch total not broadcast:\n$wp")
    val cp = planOf("q243_a_cramers_v")
    assert(cp.split("\n").count(l =>
      l.contains("FileScan") && l.contains("documents")) <= 1,
      s"cramersV scanned documents more than once:\n$cp")
  }

  test("seasonalDecompose: seasonal means broadcast back, exactly one " +
      "row-scale window (the MA pass)") {
    val plan = planOf("q247_a_seasonal_decompose")
    assert(plan.contains("BroadcastHashJoin"),
      s"seasonal means not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("rakeKeywords: phrase/word joins stay keyed, no cartesian") {
    val plan = planOf("q246_tx_rake_keywords")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"rake joined unkeyed:\n$plan")
  }

  test("hilbertKey stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val r = ev.select(col("event_id"), graft.operators.Layout.hilbertKey(
      pmod(col("user_id"), lit(256L)), pmod(col("event_id"), lit(256L)),
      8).as("hkey"))
    val s = r.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"),
      s"hilbertKey broke codegen:\n${s.take(1500)}")
  }

  test("winnowOverlapPairs: keyed fp equi-join, per-doc windows only") {
    val plan = planOf("q251_dd_winnow_overlap")
    assert(!plan.contains("CartesianProduct"),
      s"winnow pair join went cartesian:\n$plan")
    // every join in the pair pipeline is KEYED on the 8-byte fp hash
    // (broadcast at spec scale, shuffled-hash at corpus scale — never
    // an unkeyed nested loop); the fps frame is checkpointed so the
    // per-doc sliding-min window ran once at materialization
    val joins = plan.split("\n").filter(_.contains("HashJoin"))
    assert(joins.nonEmpty && joins.forall(_.contains("[fp#")),
      s"winnow pair joins not keyed on fp:\n${joins.mkString("\n")}")
  }

  test("ksTwoSample / kruskalWallis: windows run on the value grid, " +
      "one corpus scan each") {
    for (name <- Seq("q254_a_ks_two_sample", "q253_a_kruskal_wallis")) {
      val plan = planOf(name)
      assert(plan.split("\n").count(l =>
        l.contains("FileScan") && l.contains("documents")) <= 1,
        s"$name scanned documents more than once:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: grid tables should broadcast:\n$plan")
    }
  }

  test("isotonicFit: the B x B segment grid broadcasts, no SMJ") {
    val plan = planOf("q252_ml_isotonic_fit")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"isotonic grid join shuffled:\n$plan")
  }

  test("textRank: pageRank rounds read the checkpointed rank table, " +
      "no cartesian") {
    val plan = planOf("q256_tx_textrank")
    assert(!plan.contains("CartesianProduct"),
      s"textRank planned a cartesian:\n$plan")
    // lineage cut: the final round must NOT re-derive the co-occurrence
    // explode (documents appear at most once, in the un-checkpointed
    // degree branch if at all)
    assert(plan.split("\n").count(l =>
      l.contains("FileScan") && l.contains("documents")) <= 1,
      s"textRank re-derived the edge frame per round:\n$plan")
  }

  test("clusterSplit: only ids shuffle (documents scan pruned to " +
      "doc_id + text, output carries no text)") {
    val plan = planOf("q257_s_cluster_split")
    assert(!plan.contains("SortMergeJoin") || plan.contains("doc_id"),
      s"clusterSplit joins unkeyed:\n$plan")
    val scans = plan.split("\n").filter(l =>
      l.contains("ReadSchema") && l.contains("documents"))
    assert(scans.forall(l => !l.contains("lang") && !l.contains("source")),
      s"clusterSplit read unneeded columns:\n${scans.mkString("\n")}")
  }

  test("rm3Expansion: feedback-doc semi-join broadcasts (the second " +
      "corpus pass prunes before the explode)") {
    val plan = planOf("q282_ret_rm3_expansion")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"rm3 feedback prune didn't broadcast-semi:\n${plan.take(3000)}")
  }

  test("stupidBackoffScore: gram tables join keyed, no cartesian on " +
      "the scoring path") {
    val plan = planOf("q290_tx_stupid_backoff")
    assert(!plan.contains("CartesianProduct"),
      s"stupid backoff went cartesian:\n${plan.take(3000)}")
    // the only nested-loop joins allowed are the broadcast scalars (N, V)
    val bnl = plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"unexpected NLJ count $bnl:\n${plan.take(3000)}")
  }

  test("unimaxAllocation: one corpus scan, windows over the bounded " +
      "source table only") {
    val q = SparkEntry.queries("q287_s_unimax_alloc")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    val scans = plan.split("\n").count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"unimax re-scanned the corpus ($scans):\n$plan")
  }

  test("logRank: exactly the duration-builder's two events scans " +
      "(lead window + single-column corpus-edge max), no grid re-read") {
    val plan = planOf("q289_a_log_rank")
    val scans = plan.split("\n").count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    // interEventDurations reads events twice by design: the per-user
    // lead window and the broadcast max(ts) corpus edge (pruned to ts)
    assert(scans <= 2, s"logRank re-scanned events ($scans):\n$plan")
  }

  test("naiveBayes: every join is keyed or broadcast — no cartesian " +
      "anywhere, classes fan out via broadcast NLJ") {
    val plan = planOf("q305_ml_naive_bayes")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    // the docs x classes grid must be a BROADCAST nested loop (classes
    // are bounded); the (doc, class) score join may be a keyed SMJ —
    // that one is row-scale on both sides and shuffles on its keys,
    // which is the intended 100 TB shape
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"classes fan-out didn't broadcast:\n$plan")
  }

  test("sourceWeightedJaccard: shared-mass join is term-keyed and the " +
      "pair matrix comes from the bounded totals broadcast") {
    val plan = planOf("q315_s_source_wjaccard")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"totals pair matrix not broadcast:\n$plan")
  }

  test("randomizationTest: the reps fan-out lands in ONE hash " +
      "aggregate (map-side combined), no window") {
    val plan = planOf("q307_a_randomization_test")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(plan.contains("HashAggregate"), s"missing hash agg:\n$plan")
  }

  test("hodgesLehmann: the Walsh grid self-join broadcasts its right " +
      "side and the cumulative window is group-keyed") {
    val plan = planOf("q310_a_hodges_lehmann")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"grid join not broadcast:\n$plan")
  }

  test("decisionStump: the cumulative window runs on the VALUE grid " +
      "(post-aggregate), never on corpus rows") {
    val qe = SparkEntry.queries("q304_ml_decision_stump")(spark, dir)
      .queryExecution
    val opt = qe.optimizedPlan.toString
    // the Window's child must be the value-grid Aggregate, not a scan
    val lines = opt.split("\n")
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, s"no window in:\n$opt")
    assert(lines.drop(wIdx).exists(_.contains("Aggregate")),
      s"stump window not over the aggregated grid:\n$opt")
  }

  test("linkPredictionScores: wedge equi-join + TakeOrdered top-k, " +
      "no global sort, no cartesian") {
    val plan = planOf("q374_g_link_prediction")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("twoNN: the top-2 reduction plans a partial WindowGroupLimit " +
      "(the q185 kNN canary shape)") {
    val plan = planOf("q378_ann_twonn")
    assert(plan.contains("WindowGroupLimit"),
      s"partial top-k stopped planning:\n$plan")
  }

  test("spatialAutocorrelation: value stamps broadcast onto the edge " +
      "frame; the single-row den fold cross-broadcasts (mutualEdges' " +
      "keyed semi-join keeps its usual shuffle — that one is fine)") {
    val plan = planOf("q384_g_spatial_autocorr")
    assert(plan.contains("BroadcastHashJoin"),
      s"value stamp join not broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"den fold not cross-broadcast:\n$plan")
  }

  test("ipfWeights: rounds materialize per half-step (output reads " +
      "the checkpointed cell frame; only the final ORDER BY exchanges)") {
    val plan = planOf("q390_s_ipf_weights")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"final round not checkpoint-materialized:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"unexpected shuffle beyond the output sort:\n$plan")
  }
}
