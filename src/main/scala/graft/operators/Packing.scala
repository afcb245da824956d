package graft.operators

import graft.operators.Mat._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-to-training-batch operators: sequence packing and dataset
  * profiling — the last mile of a training-data pipeline after
  * dedup/curation.
  */
object Packing {

  /** Assign each document to a fixed token-budget bin ("pack") —
    * contiguous greedy fill in deterministic `idCol` order: a doc's bin
    * is floor(tokens-before-it / budget) within its shard.
    *
    * Sharding is the scale design: the cumulative sum is a window over
    * ONE shard, never a global sort — each shard packs independently
    * (exactly how multi-worker training shards a corpus), so partitions
    * stay bounded as the corpus grows; pick shards ≈ corpus tokens /
    * (budget × target packs per task). A doc longer than the budget
    * still receives a bin — real pipelines chunk oversize docs upstream.
    *
    * @param shardCol deterministic shard assignment (defaults to
    *                 `pmod(idCol, shards)`; pass e.g. a hash for
    *                 non-numeric ids)
    */
  def packByTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long, shards: Int,
                        shardCol: Option[Column] = None): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    require(shards > 0, s"shards ($shards) must be positive")
    val shard = shardCol.getOrElse(pmod(col(idCol), lit(shards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), shard.as("shard"),
        graft.functions.TextFns.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("tok_before") / budget))
      .drop("tok_before")
  }

  /** Source balancing: keep at most `k` docs per group, chosen by a
    * deterministic content-hash order (md5 of the id — portable across
    * engines and stable across runs/layouts, unlike input order). The
    * standard per-domain cap before corpus mixing.
    *
    * Scale note: row_number windows sort one partition PER GROUP — fine
    * for source/domain cardinalities (each group ≪ executor memory).
    * For mega-groups where even one group overflows a task, switch to
    * hash-threshold sampling (the q50 deterministic-sample pattern) with
    * a per-group rate ≈ k/|group|: approximate cap, no per-group sort.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(Dedup.md5Hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Weighted corpus mixing: emit ⌊w⌋ guaranteed copies of every doc in
    * a group with weight w, plus one extra copy with probability
    * frac(w) decided by a portable md5 hash of the id — deterministic
    * up/down-sampling for epoch construction (w < 1 downsamples, w > 1
    * upsamples), no RNG, reproducible across runs and engines.
    *
    * `weights` is a small (group, weight) table — broadcast; the corpus
    * side stays a scan → explode, no shuffle.
    *
    * @return input columns + weight + copy_id (1..n copies per doc)
    */
  def mixByWeight(docs: DataFrame, groupCol: String, idCol: String,
                  weights: DataFrame): DataFrame = {
    val frac = col("weight") - floor(col("weight"))
    val extra = when(
      pmod(Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":mix"))), lit(1000000L))
        < frac * 1000000d, 1L).otherwise(0L)
    docs.join(broadcast(weights), Seq(groupCol))
      .withColumn("__n", floor(col("weight")).cast("long") + extra)
      .filter(col("__n") > 0) // also keeps sequence() ascending
      .withColumn("copy_id", explode(sequence(lit(1L), col("__n"))))
      .drop("__n")
  }

  /** Per-group numeric profile: row/null/distinct counts, min/max, an
    * exact decimal-summed mean, and exact interpolated percentiles —
    * the data-quality report a curation pipeline emits per source/shard.
    * One map-side-combined hash aggregate for the counters; percentiles
    * aggregate per group (Spark's exact `percentile`, same
    * p·(n−1)-interpolation as SQL `quantile_cont`).
    */
  def profileNumeric(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(valueCol)).as("n_distinct"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"),
        (sum(col(valueCol).cast("decimal(28,8)")).cast("double") /
          count(col(valueCol))).as("mean_v"),
        // backticked (with escaping) — a bare splice would parse a name
        // like "a-b" as the EXPRESSION a minus b and profile the wrong
        // quantity; every other aggregate here goes through col()
        expr(s"percentile(`${valueCol.replace("`", "``")}`, 0.5)").as("p50"),
        expr(s"percentile(`${valueCol.replace("`", "``")}`, 0.95)").as("p95"))

  /** Token-budget mixture sampling — the "hit THIS mixture at THIS
    * token budget" corpus-assembly step (the Pile/DoReMi recipe: target
    * weights per source, one global budget): derive each source's
    * acceptance rate from its MEASURED token mass and select documents
    * by a portable id hash so the expected selected token count per
    * source is min(tokens_s, ⌊budget·w_s⌋).
    *
    * The selection predicate is EXACT integer arithmetic — no
    * floating-point rate, no RNG:
    *   accept ⇔ bucket(doc)·tokens_s < ⌊budget·w_s⌋·10⁶, bucket ∈ [0,10⁶)
    * A source whose mass is already under its target keeps everything
    * (the inequality holds for every bucket); a source absent from
    * `weights` gets target 0 and keeps nothing. Both products are
    * computed in decimal(38,0): at 100 TB a source's token mass is
    * ~10¹³⁻¹⁴ and bucket is 10⁶, so the long product would overflow —
    * decimal keeps it exact (DuckDB twin uses HUGEINT).
    *
    * Plan: one map-side-combined hash aggregate (per-source token mass,
    * source-cardinality output) joins back by broadcast; the target
    * table is a compiled literal. The verdict itself is a scan-stage
    * expression — the corpus is never shuffled.
    */
  def sampleToBudget(docs: DataFrame, idCol: String, textCol: String,
                     srcCol: String, weights: Map[String, Double],
                     budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    require(budgetTokens > 0, s"budgetTokens ($budgetTokens) must be positive")
    require(weights.values.forall(w => w >= 0 && w.isFinite),
      "weights must be finite and non-negative")
    // Exact ⌊budget·w⌋: BigDecimal(w) takes the DECIMAL rendering of the
    // double (0.3 means 3/10, not the nearest binary64), so the target
    // matches an oracle computing budget·w in exact decimal for ANY
    // budget — double multiplication can land one ulp under the rational
    // product and floor to budget·w − 1.
    sampleToTargets(docs, idCol, textCol, srcCol,
      weights.map { case (s, w) =>
        (s, (BigDecimal(w) * BigDecimal(budgetTokens))
          .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      })
  }

  /** [[sampleToBudget]]'s selection stage with EXPLICIT per-source token
    * targets — the shared exact-integer kernel: accept ⇔
    * bucket(doc)·tokens_s < target_s·10⁶ in decimal(38,0). A source
    * absent from `targets` keeps nothing.
    */
  def sampleToTargets(docs: DataFrame, idCol: String, textCol: String,
                      srcCol: String, targets: Map[String, Long]): DataFrame = {
    require(targets.nonEmpty, "targets must not be empty")
    require(targets.values.forall(_ >= 0), "targets must be non-negative")
    import docs.sparkSession.implicits._
    val tgt = targets.toSeq.toDF(srcCol, "tgt_tokens")
    val mass = docs.groupBy(col(srcCol))
      .agg(sum(graft.functions.TextFns.tokenCount(col(textCol))).as("src_tokens"))
    val bucket = pmod(
      Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":budget"))),
      lit(1000000L))
    docs
      .withColumn("n_tokens",
        graft.functions.TextFns.tokenCount(col(textCol)).cast("long"))
      .join(broadcast(mass), Seq(srcCol))
      .join(broadcast(tgt), Seq(srcCol), "left")
      .withColumn("selected",
        bucket.cast("decimal(38,0)") *
          col("src_tokens").cast("decimal(38,0)") <
          coalesce(col("tgt_tokens"), lit(0L)).cast("decimal(38,0)") *
            lit(1000000L).cast("decimal(38,0)"))
      .select(col(idCol), col(srcCol), col("n_tokens"),
        col("src_tokens"), coalesce(col("tgt_tokens"), lit(0L)).as("tgt_tokens"),
        col("selected"))
  }

  /** Epoch-based up-sampling plan: how many times each document is
    * REPEATED to hit its source's token target — the with-replacement
    * side of corpus mixing ([[sampleToBudget]] can only keep/drop;
    * Llama-style mixes up-sample scarce high-weight sources across
    * multiple epochs). Per source s with exact integer token mass
    * `mass_s` and target ⌊budget·w_s⌋:
    *
    *   full_s  = target_s div mass_s      (whole epochs, every doc)
    *   rem_s   = target_s mod mass_s      (the partial epoch)
    *
    * and each doc repeats `full_s` times plus once more iff the
    * [[sampleToTargets]] hash-threshold kernel selects it for the
    * remainder (bucket·mass_s < rem_s·10⁶ in decimal — exact, so the
    * partial epoch lands within one doc of rem_s tokens in
    * expectation). All arithmetic is integer/decimal — cross-engine
    * exact at any budget. A source with no weight (or zero mass)
    * repeats 0 times.
    *
    * Plan shape: one map-side-combined mass aggregate (|sources| rows,
    * broadcast back), then a scan-stage projection — no corpus shuffle,
    * no window; the 100 TB cost is one pass over the docs.
    */
  def repeatToBudget(docs: DataFrame, idCol: String, textCol: String,
                     srcCol: String, weights: Map[String, Double],
                     budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    require(budgetTokens > 0, s"budgetTokens ($budgetTokens) must be positive")
    require(weights.values.forall(w => w >= 0 && w.isFinite),
      "weights must be finite and non-negative")
    import docs.sparkSession.implicits._
    val targets = weights.map { case (s, w) =>
      (s, (BigDecimal(w) * BigDecimal(budgetTokens))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
    }
    val tgt = targets.toSeq.toDF(srcCol, "tgt_tokens")
    val mass = docs.groupBy(col(srcCol))
      .agg(sum(graft.functions.TextFns.tokenCount(col(textCol))).cast("long")
        .as("src_tokens"))
    val bucket = pmod(
      Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":budget"))),
      lit(1000000L))
    docs
      .withColumn("n_tokens",
        graft.functions.TextFns.tokenCount(col(textCol)).cast("long"))
      .join(broadcast(mass), Seq(srcCol))
      .join(broadcast(tgt), Seq(srcCol), "left")
      .withColumn("__tgt", coalesce(col("tgt_tokens"), lit(0L)))
      // integral div/mod on longs — exact at any magnitude (no doubles)
      .withColumn("full_epochs",
        when(col("src_tokens") > 0, expr("__tgt div src_tokens"))
          .otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("src_tokens") > 0, col("__tgt") % col("src_tokens"))
          .otherwise(lit(0L)))
      .withColumn("__sel",
        bucket.cast("decimal(38,0)") *
          col("src_tokens").cast("decimal(38,0)") <
          col("__rem").cast("decimal(38,0)") *
            lit(1000000L).cast("decimal(38,0)"))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("src_tokens"),
        col("__tgt").as("tgt_tokens"), col("full_epochs"),
        (col("full_epochs") + when(col("__sel"), 1L).otherwise(0L))
          .as("n_repeats"))
  }

  /** Temperature-flattened mixture at α = 0.5 (the multilingual
    * up-sampling exponent family of mBERT/XLM: target share ∝ mass^α,
    * flattening the head sources and up-weighting the tail): per-source
    * targets are ⌊budget · isqrt(mass_s) / Σ isqrt(mass)⌋ with
    * isqrt = ⌊√mass⌋ computed on EXACT integer masses — integer-sqrt
    * quantization of the weight (relative error < 1/√mass, vanishing at
    * corpus scale) buys fully exact cross-engine arithmetic: both
    * engines' correctly-rounded sqrt floors to the true isqrt for any
    * mass < 2⁵² (safe past 100 TB token masses), and the target
    * division is one exact BigInt/HUGEINT floor. Selection delegates to
    * [[sampleToTargets]].
    *
    * One bounded driver collect (per-source masses — source cardinality
    * rows) is required to compile the targets into the plan, mirroring
    * [[sampleToBudget]]'s broadcast-targets shape.
    */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
                     srcCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens ($budgetTokens) must be positive")
    val masses = docs.groupBy(col(srcCol))
      .agg(sum(graft.functions.TextFns.tokenCount(col(textCol))).cast("long")
        .as("__m"))
      .collect() // one row per source — bounded
      .map(r => (r.getString(0), math.max(r.getLong(1), 0L)))
    require(masses.nonEmpty, "temperatureMix: empty corpus")
    val isqrt = masses.map { case (s, m) =>
      require(m < (1L << 52), s"source $s mass $m >= 2^52: isqrt contract broken")
      (s, math.floor(math.sqrt(m.toDouble)).toLong)
    }
    val denom = isqrt.map(x => BigInt(x._2)).sum
    val targets =
      if (denom == 0) isqrt.map { case (s, _) => (s, 0L) }.toMap
      else isqrt.map { case (s, q) =>
        (s, ((BigInt(budgetTokens) * BigInt(q)) / denom).toLong)
      }.toMap
    sampleToTargets(docs, idCol, textCol, srcCol, targets)
  }

  /** Deterministic epoch shuffle via a generalized Feistel network
    * (Black & Rogaway 2002 "Ciphers with Arbitrary Finite Domains",
    * construction 4): an index x ∈ [0, n) is split over Z_a × Z_b with
    * a = ⌈√n⌉, b = ⌈n/a⌉, and each of `rounds` alternating rounds adds
    * a keyed mix of the untouched half modulo its own modulus — every
    * round is invertible (subtract the same mix), so the composite is a
    * bijection on [0, a·b) and injective on [0, n). Sorting by the key
    * is a seed-reproducible global shuffle: unlike `orderBy(rand(seed))`
    * the order survives retries, partial re-reads, and backfills, and
    * seed+1 gives the next epoch's independent order.
    *
    * Scale shape: the key is a pure narrow projection of integer
    * arithmetic (codegen'd, no UDF, no shuffle, no state); the one
    * shuffle a consumer pays is the final sort-by-key it would pay for
    * any shuffled materialization. All intermediates stay < 2⁶³:
    * halves < 2³¹·⁵ for n < 2⁴⁵ (docs, not tokens — comfortably past a
    * 100 TB corpus), the mix reduces mod 2³¹−1 before the 2²⁴⁷-million
    * multiplier, and a·b < 2⁶² — so the same BIGINT arithmetic is exact
    * in any SQL engine, which is what makes the DuckDB oracle possible.
    */
  def feistelShuffleKey(index: Column, n: Long, seed: Long,
                        rounds: Int = 4): Column = {
    require(n >= 1 && n < (1L << 45), s"n ($n) must be in [1, 2^45)")
    require(seed >= 0 && seed < (1L << 31), s"seed ($seed) must be in [0, 2^31)")
    require(rounds >= 2, s"rounds ($rounds) must be >= 2")
    val a = math.max(math.ceil(math.sqrt(n.toDouble)).toLong, 1L)
    val b = (n + a - 1) / a
    def mix(round: Int, z: Column, m: Long): Column =
      ((z + lit(seed * 1000003L) + lit(round * 2654435761L)) % lit(2147483647L)) *
        lit(2247054683L) % lit(m)
    // Column./ is DOUBLE division — floor-div is exact here (< 2^45)
    val init = (floor(index / lit(b)).cast("long"), index % lit(b))
    val (l, r) = (1 to rounds).foldLeft(init) { case ((l, r), i) =>
      if (i % 2 == 1) (((l + mix(i, r, a)) % lit(a)), r)
      else (l, ((r + mix(i, l, b)) % lit(b)))
    }
    l * lit(b) + r
  }

  /** [[feistelShuffleKey]] as a frame op: `idCol` must hold a dense
    * index in [0, n) (testdata doc_ids are; otherwise derive one with a
    * partition-offset pass). Adds `shuffle_key`, injective over the
    * frame — `orderBy("shuffle_key")` IS the epoch order.
    */
  def feistelShuffle(docs: DataFrame, idCol: String, n: Long, seed: Long,
                     rounds: Int = 4): DataFrame =
    docs.withColumn("shuffle_key",
      feistelShuffleKey(col(idCol).cast("long"), n, seed, rounds))

  /** Deterministic proportional interleave — stride scheduling
    * (Waldspurger & Weihl, OSDI 1995) applied to batch composition: the
    * j-th doc of source s (1-based, in `idCol` order) is scheduled at
    * virtual time j·(L/w_s) where L = lcm of the integer weights, and
    * the epoch order is (vt, source, j) ascending. A weight-3 source
    * then appears 3× as often as a weight-1 source at every PREFIX of
    * the stream, not just in aggregate — the property batch-mixture
    * guarantees need ("each batch ≈ the target mixture", not "the
    * epoch eventually is"). Exact integer arithmetic end to end:
    * reproducible across engines, retries, and backfills.
    *
    * The other mixers ([[mixByWeight]], [[temperatureMix]],
    * [[repeatToBudget]]) decide HOW MUCH of each source to take; this
    * decides the ORDER the survivors stream in. Compose: sample first,
    * interleave the keep-list.
    *
    * Plan shape: one per-source window for the dense rank (bounded by
    * source cardinality; at extreme single-source skew pre-shard the
    * rank with a partition-offset pass) and the consumer's final
    * sort-by-(vt, source) — the same one shuffle any materialized
    * ordering pays.
    */
  def strideInterleave(docs: DataFrame, idCol: String, srcCol: String,
                       weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty, "strideInterleave: no weights")
    require(weights.values.forall(_ > 0),
      s"strideInterleave: weights must be positive: $weights")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = weights.values.foldLeft(1L)((l, w) => l / gcd(l, w) * w)
    require(lcm < (1L << 31), s"strideInterleave: lcm($weights) = $lcm too large")
    val stride = typedLit(weights.map { case (s, w) => (s, lcm / w) })
    val wSrc = Window.partitionBy(col(srcCol)).orderBy(col(idCol).asc)
    docs
      .filter(col(srcCol).isin(weights.keys.toSeq.map(lit): _*))
      .withColumn("pass_idx", row_number().over(wSrc).cast("long"))
      .withColumn("vt", col("pass_idx") * element_at(stride, col(srcCol)))
      .orderBy(col("vt").asc, col(srcCol).asc, col("pass_idx").asc)
  }

  /** Weighted sampling WITHOUT replacement, deterministic — Efraimidis
    * & Spirakis 2006 (algorithm A-ES): each row gets key ln(u)/w with
    * u = (md5₆₀(id:salt)+1)/2⁶⁰, and the k largest keys ARE a weighted
    * sample without replacement (inclusion ∝ weight, exactly the
    * u^(1/w) order statistic, in log space). Hash-derived u instead of
    * rand() → the same sample on every engine, every retry, every
    * partition count; a new salt is a fresh draw.
    *
    * This is the missing third sampler: [[graft.operators.Curation
    * .stratifiedSplit]]/q50 are uniform, [[sampleToBudget]] fills a
    * token budget; A-ES answers "k docs, long ones proportionally more
    * likely" (importance-weighted eval sets, weighted distillation
    * pools). Zero-weight rows are excluded — they have inclusion
    * probability 0 by definition.
    *
    * Plan shape: pure scan-stage projection + one TakeOrdered(k) — no
    * shuffle, no window. u's double conversion is correctly-rounded
    * from the SAME 60-bit integer on any engine and 2⁶⁰ is a power of
    * two, so u (and the ln/divide after it) replays exactly in the
    * oracle.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
                     salt: String = "es"): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val u = (graft.operators.Dedup.md5Hash60(
      concat(col(idCol).cast("string"), lit(":" + salt))) + lit(1L))
      .cast("double") / lit(math.pow(2, 60))
    df.withColumn("__w", weight.cast("long"))
      .filter(col("__w") > 0)
      .withColumn("es_key", log(u) / col("__w").cast("double"))
      .orderBy(col("es_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Length-bucketed batch plan + padding economics: docs ranked by
    * (token count desc, id), cut into fixed-size batches, each batch
    * padded to its own max length — the dynamic-batching trick every
    * trainer uses because naive id-order batching pads every sequence
    * to the batch's longest straggler (padding FLOPs are pure waste).
    * Returns per batch: n_docs, max/sum tokens, padded_tokens =
    * max·n_docs, waste_tokens = padded − sum. Exact integers end to
    * end.
    *
    * The global rank uses [[graft.operators.Curation.curriculumBins]]'s
    * two-pass trick with an EXACT coarse key — the token count itself:
    * one hash aggregate counts each distinct length (bounded by max
    * sequence length, not corpus size — ≤100k rows for any real
    * tokenizer cap), driver prefix sums become per-length offsets, and
    * row_number partitions BY LENGTH — no task ever sorts more than one
    * length-class, there is no global sort anywhere.
    */
  def lengthBucketedBatches(docs: DataFrame, idCol: String, textCol: String,
                            batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize ($batchSize) must be positive")
    import docs.sparkSession.implicits._
    val tok = docs.select(col(idCol).as("__id"),
      coalesce(graft.functions.TextFns.tokenCount(col(textCol)).cast("long"),
        lit(0L)).as("__tok"))
    val counts = tok.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val offsets = counts.scanLeft((0L, 0L)) { case ((_, acc), (t, c)) => (t, acc + c) }
      .zip(counts).map { case ((_, before), (t, _)) => (t, before) }
    val offsetDf = offsets.toSeq.toDF("__tok", "__off")
    val wInLen = Window.partitionBy(col("__tok")).orderBy(col("__id").asc)
    tok.join(broadcast(offsetDf), Seq("__tok"))
      .withColumn("__rank", col("__off") + row_number().over(wInLen))
      .withColumn("batch_id",
        floor((col("__rank") - 1) / lit(batchSize)).cast("long"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("__tok")).as("max_tokens"),
        sum(col("__tok")).as("sum_tokens"))
      .withColumn("padded_tokens", col("max_tokens") * col("n_docs"))
      .withColumn("waste_tokens",
        col("max_tokens") * col("n_docs") - col("sum_tokens"))
  }

  /** Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    * 1998: a key routes to argmax over shards of hash(key, shard).
    * The property sticky distributed routing needs: when the shard set
    * changes, ONLY keys owned by the removed (or won by the added)
    * shard move — every other assignment is provably unchanged (their
    * argmax set lost no member it had chosen), vs modulo sharding
    * where ~all keys reshuffle. Pure narrow projection: the per-key
    * argmax is one `array_max` over |shards| (hash, name) structs —
    * codegen'd, no shuffle, no state, no shard table to look up.
    *
    * Ties (hash collisions across shards) resolve to the
    * lexicographically LAST shard name via the struct ordering —
    * deterministic, engine-portable.
    */
  def rendezvousAssign(df: DataFrame, keyCol: String, shards: Seq[String],
                       hashOf: Column => Column = xxhash64(_)): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign: no shards")
    require(shards.distinct.size == shards.size,
      s"rendezvousAssign: duplicate shard names: $shards")
    val scored = array(shards.sorted.map(s =>
      struct(hashOf(concat(col(keyCol).cast("string"), lit(":"), lit(s)))
        .as("h"), lit(s).as("s"))): _*)
    df.withColumn("shard", array_max(scored).getField("s"))
  }

  /** Neyman-optimal stratified sample allocation: split a sampling
    * budget of `totalN` documents across strata ∝ N_h·σ_h — the
    * allocation that minimizes estimator variance for a fixed budget
    * (uniform-rate sampling over-spends on homogeneous strata; an
    * eval-set builder wants the spread where the metric varies).
    *
    * Exact-integer pipeline: per stratum the moments (N_h, Σx, Σx²)
    * aggregate distributed (decimal — corpus-scale Σx² passes long);
    * N_h·σ_h = √(N_h·Σx² − (Σx)²) uses the floor(sqrt(double)) device
    * (the [[temperatureMix]] isqrt contract: exact below 2⁵²,
    * cross-engine identical above because both engines round the same
    * decimal→double then take correctly-rounded sqrt). Targets are
    * largest-remainder (Hamilton) apportionment of `totalN` over the
    * weights — ties broken by stratum name ascending — then capped at
    * the stratum size (a stratum can't supply more docs than it has;
    * the cap is reported separately so the caller sees the shortfall
    * rather than a silently smaller sample). All-constant strata
    * (every weight 0) fall back to allocation ∝ N_h.
    *
    * Plan shape: one map-side-combined moments agg to |strata| rows,
    * ONE bounded driver collect to run the apportionment (the same
    * compile-into-plan shape as [[sampleToBudget]]'s targets), result
    * re-emitted as a literal frame — no corpus-side shuffle at all.
    *
    * @return (stratum, n_docs, sum_v, sum_sq, weight_w, alloc_target,
    *         n_alloc) — one row per stratum
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       totalN: Long): DataFrame = {
    require(totalN > 0, s"totalN ($totalN) must be positive")
    import df.sparkSession.implicits._
    val moments = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__s1"),
        sum(col(valueCol).cast("decimal(38,0)") *
          col(valueCol).cast("decimal(38,0)")).as("__s2"))
      .collect() // one row per stratum — bounded
      .map(r => (r.getString(0), r.getLong(1),
        BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger)))
      .sortBy(_._1)
    require(moments.nonEmpty, "neymanAllocation: empty input")
    val weighted = moments.map { case (s, n, s1, s2) =>
      val varNum = BigInt(n) * s2 - s1 * s1 // N_h²·Var — exact, ≥ 0
      (s, n, s1, s2, math.floor(math.sqrt(varNum.toDouble)).toLong)
    }
    val allZero = weighted.forall(_._5 == 0L)
    val w = weighted.map { case (s, n, s1, s2, wh) =>
      (s, n, s1, s2, if (allZero) n else wh)
    }
    val totW = w.map(x => BigInt(x._5)).sum
    val quotas = w.map { case (s, n, s1, s2, wh) =>
      val q = BigInt(totalN) * BigInt(wh)
      (s, n, s1, s2, wh, (q / totW).toLong, (q % totW).toLong)
    }
    val extras = totalN - quotas.map(_._6).sum
    val extraSet = quotas.sortBy { case (s, _, _, _, _, _, rem) => (-rem, s) }
      .take(extras.toInt).map(_._1).toSet
    val rows = quotas.map { case (s, n, s1, s2, wh, base, _) =>
      val target = base + (if (extraSet(s)) 1L else 0L)
      (s, n, s1.toString, s2.toString, wh, target, math.min(target, n))
    }.toSeq
    rows.toDF(stratumCol, "n_docs", "__s1", "__s2", "weight_w",
        "alloc_target", "n_alloc")
      // string round-trip keeps the exact integer; re-cast for the
      // consumer (decimal(38,0) — corpus-scale moments pass long)
      .select(col(stratumCol), col("n_docs"),
        col("__s1").cast("decimal(38,0)").as("sum_v"),
        col("__s2").cast("decimal(38,0)").as("sum_sq"),
        col("weight_w"), col("alloc_target"), col("n_alloc"))
  }

  /** Systematic probability-proportional-to-size sampling with exact
    * Horvitz–Thompson weights — the survey-sampling workhorse (Madow
    * 1949) for drawing a token-budgeted eval/inspection slice whose
    * REWEIGHTED statistics are unbiased for the corpus: lay the items
    * on a line in id order, each occupying its `sizeCol` mass; drop n
    * equally-spaced grid points (offset + j·total/n, j = 0..n−1); an
    * item is drawn once per grid point inside its span. Everything is
    * EXACT integer arithmetic — grid point j sits at rational
    * (j·total + offset)/n, and the hit count for the span
    * [cum_prev, cum) is
    *
    *   m_i = ⌈(cum_i·n − offset)/total⌉ − ⌈(cum_prev·n − offset)/total⌉
    *
    * (ceil-div of non-negative numerators — floor-div + (total−1), so
    * any engine agrees bit-for-bit; no float ever touches selection).
    * Items larger than total/n can be drawn multiple times (`m_copies`
    * — the with-replacement reading); the HT inclusion weight is
    * 1/π_i with π_i = min(1, n·size/total), i.e.
    * weight_q = max(10⁶, ⌊10⁶·total/(n·size)⌋) (decimal(38,0) — a
    * 10⁶-scaled product at 100 TB token mass exceeds long).
    *
    * The global cumulative is the bucket-offset device (NOT a global
    * sort): per-bucket sums on the BOUNDED id-range grid, a window
    * prefix-sum over bucket subtotals, broadcast join back, and a
    * within-bucket window — no task ever sorts more than one bucket.
    *
    * @return drawn rows: (id, size, m_copies, weight_q)
    */
  def systematicSample(df: DataFrame, idCol: String, sizeCol: String,
                       n: Int, offset: Long,
                       idBucketWidth: Long = 1L << 16): DataFrame = {
    require(n >= 1, s"n ($n) must be >= 1")
    require(offset >= 0, s"offset ($offset) must be >= 0")
    require(idBucketWidth >= 1, "idBucketWidth must be >= 1")
    val d38 = "decimal(38,0)"
    val base = df.select(col(idCol).as("__id"),
        col(sizeCol).cast("long").as("__s"))
      .filter(col("__s") > 0)
      .withColumn("__bucket", expr(s"__id div ${idBucketWidth}L"))
      .mat
    val perBucket = base.groupBy(col("__bucket"))
      .agg(sum(col("__s")).as("__bs"))
    val wB = Window.orderBy(col("__bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__boff", coalesce(sum(col("__bs")).over(wB), lit(0L)))
      .select(col("__bucket"), col("__boff"))
    val total = base.agg(sum(col("__s")).as("__tot"))
    val wIn = Window.partitionBy(col("__bucket")).orderBy(col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ceil-div((cum·n − offset), total): numerator ≥ −(total−1), so the
    // +(total−1) shift keeps the truncating div on floor semantics
    base
      .join(broadcast(offsets), Seq("__bucket"))
      .crossJoin(broadcast(total))
      .withColumn("__cum", col("__boff") + sum(col("__s")).over(wIn))
      .withColumn("__hi",
        expr(s"(CAST(__cum AS $d38) * $n - $offset + __tot - 1) div CAST(__tot AS $d38)"))
      .withColumn("__lo",
        expr(s"(CAST(__cum - __s AS $d38) * $n - $offset + __tot - 1) div CAST(__tot AS $d38)"))
      .withColumn("m_copies", (col("__hi") - col("__lo")).cast("long"))
      .filter(col("m_copies") >= 1)
      .withColumn("weight_q",
        greatest(lit(1000000L).cast(d38),
          expr(s"(CAST(1000000 AS $d38) * CAST(__tot AS $d38)) div (CAST($n AS $d38) * CAST(__s AS $d38))")))
      .select(col("__id").as(idCol), col("__s").as("size"),
        col("m_copies"), col("weight_q").cast(d38).as("weight_q"))
  }

  /** Temperature-smoothed source mixture weights at α = 1/2 (the
    * multilingual-corpus device of T5/mT5: sample source i with
    * probability ∝ p_i^α so small sources are up-weighted without
    * letting any source dominate; α = 1/2 is the common setting AND
    * the one whose power is IEEE-exact — sqrt is correctly rounded on
    * every conforming engine, where pow(x, 0.3) is not). Per-source
    * size is Σ `sizeCol` (chars or tokens — the caller's budget unit).
    *
    * s_q = ⌊10⁶·√size⌋ is quantized to a long per source BEFORE the
    * normalizing sum, so the fold is order-free, and both w_q
    * (smoothed) and nat_q (proportional, for comparison) are integer
    * divisions on exact longs — bit-identical anywhere.
    *
    * Plan: one hash agg to sources, broadcast scalar normalize.
    */
  /** word2vec negative-sampling distribution (Mikolov et al. 2013,
    * §2.2): draw negatives with probability ∝ count(token)^(3/4) —
    * the tempering that keeps frequent tokens from dominating the
    * noise while still over-sampling them vs uniform. The 3/4 power
    * is computed as √(c·√c) — two IEEE-exact square roots and one
    * multiply, so unlike pow(c, 0.75) the value is bit-identical on
    * every conforming engine. Per-token s_q = ⌊10⁶·c^(3/4)⌋ quantizes
    * BEFORE the normalizing sum (order-free long fold), and
    * w_q = (10⁹·s_q) div Σs is an exact integer share on the 1e-9
    * grid (1e-9 because realistic vocabularies spread 1e6 shares too
    * thin).
    *
    * Plan: one explode + hash agg to the vocabulary, broadcast scalar
    * normalize — the output is vocabulary-bounded however large the
    * corpus.
    */
  def negativeSampling(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(filter(TextFns.tokens(col(textCol)),
        t => length(t) > 0)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("s_q",
        floor(lit(1000000.0) *
          sqrt(col("c").cast("double") * sqrt(col("c").cast("double"))))
          .cast("long"))
      .mat
    val tot = counts.agg(sum(col("s_q")).as("__ss"))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("c"), col("s_q"),
        // decimal(38,0) product: 10⁹·s_q overflows a long once any
        // token passes ~10¹² occurrences — at 100 TB that's reachable
        expr("(CAST(1000000000 AS decimal(38,0)) * s_q) div __ss")
          .cast("long").as("w_q9"))
  }

  def temperatureMix(df: DataFrame, sourceCol: String,
                     sizeCol: String): DataFrame = {
    val g = df.na.drop(Seq(sourceCol))
      .groupBy(col(sourceCol))
      .agg(sum(col(sizeCol).cast("long")).as("t_size"),
        count(lit(1)).as("n_docs"))
      .withColumn("s_q",
        floor(lit(1000000.0) * sqrt(col("t_size").cast("double")))
          .cast("long"))
      .mat
    val tot = g.agg(sum(col("s_q")).as("__ss"),
      sum(col("t_size")).as("__tt"))
    g.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("t_size"), col("n_docs"), col("s_q"),
        // dec38: 10⁶·t_size (and ·s_q) wraps int64 once one source
        // passes ~9.2e12 tokens — inside a 100 TB corpus's range
        expr("(CAST(1000000 AS DECIMAL(38,0)) * s_q) div __ss").as("w_q"),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * t_size) div __tt").as("nat_q"))
  }

  /** UniMax budget allocation (Chung et al. 2023): spread a token
    * budget as UNIFORMLY as possible across sources, capping each at
    * `maxEpochs` passes over its own mass — the principled alternative
    * to temperature mixing when over-repeating small sources hurts
    * more than under-weighting big ones.
    *
    * Closed-form water-filling instead of the paper's sequential loop:
    * sort sources by capacity cap_s = mass_s·maxEpochs ascending; with
    * prefix sums P_i and m sources, source i is SATURATED (gets its
    * full cap) iff  A_i = P_{i−1} + cap_i·(m−i+1) ≤ T  — A_i is
    * monotone in i (ascending caps), so saturation is prefix-closed
    * and every unsaturated source gets the same fair share
    * (T − Σ_sat cap) div (m − #sat). All integer arithmetic; the div
    * remainder (< m tokens) stays unallocated, documented.
    *
    * Plan: one corpus hash agg to the bounded source table, then
    * windows over that table only (single-partition windows are safe
    * at source cardinality — the temperatureMix contract).
    *
    * @return (source, t_tokens, cap, alloc_tokens, epochs_q) with
    *         epochs_q = ⌊10⁶·alloc/mass⌋
    */
  def unimaxAllocation(docs: DataFrame, idCol: String, textCol: String,
                       srcCol: String, budgetTokens: Long,
                       maxEpochs: Int): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens ($budgetTokens) must be positive")
    require(maxEpochs >= 1, s"maxEpochs ($maxEpochs) must be >= 1")
    val masses = docs.groupBy(col(srcCol).as("source"))
      .agg(sum(TextFns.tokenCount(col(textCol))).cast("long")
        .as("t_tokens"))
      .withColumn("cap", col("t_tokens") * lit(maxEpochs.toLong))
      .mat
    val wAsc = Window.orderBy(col("cap").asc, col("source").asc)
    val wCumPrev = wAsc.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(lit(1))
    val staged = masses
      .withColumn("__i", row_number().over(wAsc))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__pprev",
        coalesce(sum(col("cap")).over(wCumPrev), lit(0L)))
      .withColumn("__sat",
        col("__pprev") + col("cap") * (col("__m") - col("__i") + 1) <=
          lit(budgetTokens))
    val satTot = staged.agg(
      sum(when(col("__sat"), col("cap")).otherwise(0L)).as("__scap"),
      sum(col("__sat").cast("long")).as("__scnt"),
      max(col("__m")).as("__mm"))
    staged.crossJoin(broadcast(satTot))
      .withColumn("alloc_tokens",
        when(col("__sat"), col("cap"))
          .otherwise(expr(s"(${budgetTokens}L - __scap) div (__mm - __scnt)")))
      .select(col("source"), col("t_tokens"), col("cap"),
        col("alloc_tokens"),
        when(col("t_tokens") > 0,
          // dec38: 10⁶·alloc_tokens wraps int64 past ~9.2e12 tokens
          expr("(CAST(1000000 AS DECIMAL(38,0)) * alloc_tokens) div t_tokens"))
          .otherwise(lit(0L)).as("epochs_q"))
  }

  /** Iterative proportional fitting (raking) of per-cell sampling
    * weights toward UNIFORM row and column marginals — the 2-D mixing
    * op the 1-D allocators ([[temperatureMix]], [[unimaxAllocation]])
    * can't express: "balance the corpus across sources AND languages
    * JOINTLY", where fixing one marginal alone skews the other.
    *
    * Integer grid (Q = 10⁶ — a deliberately SMALL grid, see below):
    * w⁰ = Q per observed cell; each round alternates a row and a
    * column step
    *
    *   row:  w ← (w·N·Q) div (R·mass_r),  mass_r = Σ_c n·w
    *   col:  w ← (w·N·Q) div (C·mass_c),  mass_c = Σ_r n·w
    *
    * so after the row step every row's weighted mass is N·Q/R up to
    * the per-cell floor — exact decimal(38,0) arithmetic, every
    * engine and partition order agreeing bit-for-bit. Classical IPF
    * converges geometrically; `rounds` = 3 is the shipped default
    * (the audit gate checks the ACHIEVED marginals, not an oracle of
    * convergence).
    *
    * Grid-size bound (why Q = 10⁶, not the 10¹² used by the Markov /
    * HITS device): a half-step caps any cell's weight at N·Q/k (a
    * 1-row cell absorbing its whole marginal target), so the next
    * step's numerator w·N·Q reaches N²·Q²/k — the binding ceiling on
    * BOTH engines (decimal(38,0) here, HUGEINT in the oracle). At
    * Q = 10¹² that ceiling bit at N ≈ 1.8×10⁷ rows (a corpus size,
    * not an edge case); at Q = 10⁶ the operator is exact to
    * N ≈ 1.4×10¹³ rows, and the 1 ppm weight resolution is far below
    * any sampling-weight use. Weights stay decimal(38,0) across
    * half-steps (cast to long only in the final select) so an
    * intermediate above int64 carries exactly instead of wrapping.
    *
    * Plan: per half-step one hash agg (marginal masses, R or C rows)
    * + one broadcast join back — 2·rounds tiny stages over a frame
    * bounded by the distinct cell count, never the corpus.
    *
    * @return (rowv, colv, n, w_q) ordered — multiply a cell's rows by
    *         w_q/Q to hit the raked mix
    */
  def ipfWeights(df: DataFrame, rowCol: String, colCol: String,
                 rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds ($rounds) out of range")
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val Q = 1000000L
    val cells = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).as("__r"), col(colCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
      .mat
    val tot = cells.agg(sum(col("__n")).as("__tot"),
      countDistinct(col("__r")).as("__nr"),
      countDistinct(col("__c")).as("__nc"))
    // __w stays DECIMAL(38,0) across every half-step (cast to long only
    // in the final select): the oracle carries HUGEINT end-to-end, and a
    // long __w would silently wrap once tot/k > ~9.2e12 against a 1-row
    // cell (w' = tot·Q/(k·n_cell) > int64). Spark's `div` returns LONG —
    // the very wrap being avoided — so exact integral division is
    // (num − pmod(num, den)) / den: the numerator is made exactly
    // divisible first, and dividing an exact multiple is lossless in
    // DECIMAL(38,6). The scaladoc's N ≈ 1.4e13 grid bound is the
    // remaining contract (num = w·tot·Q < 10³⁸, same order as the
    // oracle's HUGEINT ceiling).
    val w0 = cells.crossJoin(broadcast(tot))
      .withColumn("__w", lit(Q).cast("decimal(38,0)"))
    def step(cur: DataFrame, keyCol: String, kCol: String): DataFrame = {
      val mass = cur.groupBy(col(keyCol).as("__k"))
        .agg(sum(dec38(col("__n")) * col("__w")).as("__mass"))
      cur.join(broadcast(mass), cur(keyCol) === mass("__k"))
        .withColumn("__num",
          expr(s"__w * CAST(__tot AS DECIMAL(38,0)) * ${Q}L"))
        .withColumn("__den",
          expr(s"CAST($kCol AS DECIMAL(38,0)) * __mass"))
        .withColumn("__w",
          expr("CAST((__num - pmod(__num, __den)) / __den AS DECIMAL(38,0))"))
        .drop("__k", "__mass", "__num", "__den")
        .mat
    }
    val fitted = (1 to rounds).foldLeft(w0) { (cur, _) =>
      step(step(cur, "__r", "__nr"), "__c", "__nc")
    }
    fitted.select(col("__r").as(rowCol), col("__c").as(colCol),
        col("__n").as("n"), col("__w").cast("long").as("w_q"))
      .orderBy(col(rowCol), col(colCol))
  }
}
