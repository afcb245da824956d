package graft.operators

import graft.operators.Mat._
import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text/training-data pipelines.
  *
  * Exact dedup mirrors the reference's content-addressed attribute dedup
  * (hash-keyed `ON CONFLICT DO NOTHING` + in-memory seen-cache,
  * `/root/reference/src/main/java/org/openbmp/ConsumerRunnable.java:489-498`);
  * the near-dup family (MinHash/LSH, SimHash, n-gram Jaccard) extends it
  * for 100 TB document corpora. Everything is codegen'd built-ins
  * (split/transform/aggregate/explode/xxhash64/groupBy); candidate
  * generation is always a shuffle-by-key equi-join — never an all-pairs
  * nested loop.
  */
object Dedup {

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Let-binding for Column expressions: evaluates `v` ONCE and hands
    * the materialized value to `body` as a lambda variable. Without it,
    * a lambda body referencing an expression-valued array (e.g.
    * `slice(tokens(text), i, n)` inside transform) re-inlines and
    * re-evaluates the whole expression on EVERY element access —
    * O(n²·|text|) re-tokenization per row. Higher-order functions are
    * interpreted, so no codegen subexpression elimination saves you.
    */
  private[operators] def letCol(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Distinct word n-gram shingles of a text column — native one-walk
    * kernel ([[graft.plans.WordNgrams]]); NULL text coerces to an empty
    * array (the historical HOF form's `when` guard took NULL down the
    * otherwise-branch). Value-identical to [[shinglesHof]], locked by
    * DedupSpec's equivalence property.
    */
  def shingles(text: Column, n: Int): Column =
    coalesce(graft.functions.TextFns.wordNgrams(text, n),
      array().cast("array<string>"))

  /** The composable higher-order form of [[shingles]] — kept as the
    * equivalence-spec reference (interpreted lambdas: one slice copy +
    * array_join build per window; the native kernel replaced it on the
    * hot path).
    */
  private[graft] def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val cnt  = greatest(size(toks) - lit(n - 1), lit(0))
    when(cnt > 0,
      letCol(toks)(tk => array_distinct(
        transform(sequence(lit(1), greatest(size(tk) - lit(n - 1), lit(1))),
          i => array_join(slice(tk, i, lit(n)), " ")))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup by content hash: one keeper (min of `idCol`) per
    * distinct value of `hashOf`, plus the duplicate count. Map-side
    * partial aggregation makes this a single cheap shuffle at any scale.
    */
  def exact(df: DataFrame, hashOf: Column, idCol: String): DataFrame =
    df.groupBy(hashOf.as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))

  // NOTE on caching intermediates: operators here return a lazy plan, so
  // a persist() inside them could never be unpersisted — repeated calls
  // in a long-lived session would accumulate cached blocks until LRU
  // pressure. Intermediates read 2-3× by one plan (exploded shingles,
  // the simhash fingerprint table) instead go through localCheckpoint
  // (lazy): partitions materialize once at the first action, all
  // subtrees of the SAME plan reuse them, and the blocks are released by
  // the ContextCleaner as soon as the caller drops the result — no
  // session-lifetime leak, no clearCache() contract. (Local checkpoints
  // are non-reliable by design: losing an executor re-fails the query,
  // which a batch dedup job simply re-runs.)

  /** Lazy local checkpoint: compute-once/read-many for a frame consumed
    * by several subtrees of one returned plan (see NOTE above).
    */
  private def snapshot(df: DataFrame): DataFrame = df.mat

  /** The frequency-cap guard shared by every candidate generator: keep
    * only `df` rows whose key group (counted over `countFrom`, usually
    * `df` itself) has ≤ max members — the skip-oversized-bucket rule
    * whose bounded recall loss is documented at each call site. One
    * implementation so the guard semantics can't drift between the
    * minhash/ngram/decontamination/cosine paths.
    */
  private[operators] def capByKey(df: DataFrame, countFrom: DataFrame,
                                  keys: Seq[String], max: Int): DataFrame =
    if (max == Int.MaxValue) df
    else {
      // group sizes in the same shuffle layout as the join that follows
      // (map-side-combined count on the join key)
      val ok = countFrom.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= max)
        .select(keys.map(col): _*)
      df.join(ok, keys)
    }

  /** Per-doc distinct shingles, exploded: (id, tok). The narrow shape
    * every candidate-generation join starts from — shingle arrays are
    * never carried through a shuffle.
    */
  private[graft] def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                                      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(shingles(col(textCol), shingleN)).as("tok"))

  /** Engine-portable 60-bit string hash: the top 15 hex chars of md5 as
    * a positive BIGINT. md5 is bit-identical in every engine, so results
    * computed with this hash are reproducible outside Spark (the DuckDB
    * oracle writes `('0x' || substr(md5(t),1,15))::BIGINT`). Slower than
    * xxhash64 (both codegen'd, but md5 churns 128 bits + hex round-trip)
    * — the default hash family stays xxhash64; pass `baseHash =
    * Dedup.md5Base` (minhash) / `tokenHash = Dedup.md5Hash60` (simhash)
    * when cross-engine reproducibility matters more than CPU.
    *
    * One native expression ([[graft.plans.Md5Prefix60]]: digest → top
    * 60 bits), value-identical to the composed
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` it replaces
    * — which paid five per-row string format round-trips (hex render,
    * substring, base-16 parse, base-10 render, long parse) for the
    * same 60 bits.
    */
  def md5Hash60(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.Md5Prefix60(
        org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Universal-hash family for minhash: h_s(t) = (a_s·H(t) + b_s) mod p
    * with p = 2^31−1, fixed multipliers, and ONE base hash H per token
    * (the s affine variants are two integer ops each — cheaper than s
    * independent string hashes). Overflow-free in 64-bit while
    * a_s < 2^32 (H < p < 2^31 → a·H+b < 2^63), which holds for
    * s ≤ 4294 — enforced by the numHashes guard in [[minHashLsh]].
    */
  val HashP = 2147483647L // 2^31 − 1
  def portableA(s: Int): Long = 1000003L * s + 12345L
  def portableB(s: Int): Long = 999983L * s + 7L

  /** Default base hash: xxhash64 folded to [0, p) — fastest. */
  def xxBase(t: Column): Column = pmod(xxhash64(t), lit(HashP))

  /** Engine-portable base hash: [[md5Hash60]] mod p (DuckDB:
    * `('0x' || substr(md5(t),1,15))::BIGINT % 2147483647`).
    */
  def md5Base(t: Column): Column = md5Hash60(t) % HashP

  private def affine(h: Column, s: Int): Column =
    (lit(portableA(s)) * h + lit(portableB(s))) % HashP

  /** MinHash signature: `numHashes` affine min-hashes over the shingle
    * set (expression form; [[minHashTable]] is the bulk path).
    */
  def minHashSignature(sh: Column, numHashes: Int,
                       baseHash: Column => Column = xxBase): Column =
    // letCol: the base-hash array must bind ONCE — referenced raw
    // inside the per-seed lambda it would re-hash every shingle
    // numHashes times (interpreted HOFs re-inline; the q215 class)
    letCol(transform(sh, t => baseHash(t))) { hs =>
      transform(sequence(lit(0), lit(numHashes - 1)), s => {
        val a = lit(1000003L) * s + lit(12345L)
        val b = lit(999983L) * s + lit(7L)
        array_min(transform(hs, h => (a * h + b) % lit(HashP)))
      })
    }

  /** MinHash signatures as a table: (id, mh_0..mh_{k-1}) computed by
    * explode + groupBy — the base hash is projected ONCE per token, and
    * each `min((a_s·h + b_s) mod p)` is a codegen'd hash aggregate with
    * map-side partial combine (the lambda-expression form is
    * interpreted and ~10× slower; this is the 100 TB path).
    */
  def minHashTable(exploded: DataFrame, numHashes: Int,
                   baseHash: Column => Column = xxBase): DataFrame =
    exploded.select(col("id"), baseHash(col("tok")).as("__h"))
      .groupBy(col("id"))
      .agg(
        min(affine(col("__h"), 0)).as("mh_0"),
        (1 until numHashes).map(s => min(affine(col("__h"), s)).as(s"mh_$s")): _*)

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification:
    * shingle → minhash → band → bucket equi-join → verify. Bands become
    * join keys, so candidates shuffle on (band, band values) — linear
    * and skew-safe; the exact Jaccard filter removes LSH false
    * positives. The band key is the raw minima array (rowsPerBand longs,
    * not a re-hash): no collision risk, and candidate semantics are
    * exactly "some band's minima all equal" — reproducible by the
    * DuckDB oracle. Candidate generation shuffles only (id, band,
    * minima) rows; the shingle sets are joined back for verification.
    *
    * With `baseHash = md5Base` the whole pipeline is engine-portable
    * (md5-based hashes) and oracle-checkable; the xxhash64 default is
    * the throughput path.
    *
    * `maxBandBucket` is the 100 TB bucket-size guard: a band bucket of
    * b near-identical docs yields b²/2 candidate pairs, so one viral
    * template with b = 10⁶ members produces 5·10¹¹ pairs from a single
    * bucket. Buckets larger than the cap are dropped from candidate
    * generation ONLY (verification always uses full shingle sets) —
    * recall loss is bounded to pairs whose EVERY matching band is a
    * mega-bucket, i.e. exactly the mass-duplicate clusters a pipeline
    * handles with exact dedup first.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.8,
                 baseHash: Column => Column = xxBase,
                 maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // snapshot: shingle derivation (regexp split + explode) runs once,
    // not once per use (signatures + both verification joins) — see the
    // caching NOTE above
    val exploded = snapshot(explodedShingles(df, idCol, textCol, shingleN))
    verifyJaccardByJoin(
      minHashCandidates(exploded, numHashes, bands, baseHash, maxBandBucket),
      exploded, threshold)
  }

  /** Candidate stage of [[minHashLsh]], exposed for scale probing:
    * banded signatures over an exploded-shingle frame, band-bucket cap,
    * bucket self-join → distinct (id_a, id_b).
    */
  def minHashCandidates(exploded: DataFrame, numHashes: Int, bands: Int,
                        baseHash: Column => Column = xxBase,
                        maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // public probing API — revalidate even though minHashLsh already did:
    // a direct caller with numHashes % bands != 0 would silently drop the
    // trailing hash rows from every band
    require(bands > 0 && numHashes > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands) — " +
        "a remainder would silently drop hashes; numHashes = 0 makes every band " +
        "key an empty array (one global bucket = all-pairs); bands > numHashes " +
        "degenerates to all-pairs")
    require(numHashes <= 4096,
      s"numHashes ($numHashes) > 4096 overflows the 64-bit universal-hash family " +
        "(a_s = 1000003*s + 12345 must stay < 2^32)")
    val rowsPerBand = numHashes / bands
    // snapshot: the k-way min aggregate (the dominant cost) feeds the
    // bucket-count branch AND both join sides — same caching NOTE as
    // explodedShingles/simHashTable
    val sigs = snapshot(minHashTable(exploded, numHashes, baseHash))
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), array(cols: _*).as("bh"))
    }
    val banded0 = sigs.select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val banded = capByKey(banded0, banded0, Seq("band", "bh"), maxBandBucket)
    val a = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  // ---- duplicate-cluster resolution -----------------------------------

  /** Connected components over a near-dup pair list: every doc gets
    * `cluster_id` = the smallest doc id reachable through the pair graph
    * — the canonical representative, turning pairwise near-dup output
    * ([[minHashLsh]]/[[simHashPairs]]/[[ngramJaccard]]/
    * [[Similarity.cosineNearDup]]) into keep/drop decisions.
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * (a) takes the min label over self + neighbors (one equi-join + one
    * map-side-combined min aggregate), then (b) jumps `comp ← comp(comp)`
    * (one self-join), which contracts label chains geometrically, so
    * rounds needed are O(log diameter), not O(diameter). Per-round
    * results are localCheckpoint'd: lineage stays flat and the blocks
    * free on GC. Everything shuffles on ids only — no adjacency lists,
    * no vertex collects; each round is a fixed number of key shuffles of
    * the (node, label) and edge frames, the shape that survives 100 TB.
    *
    * Convergence is detected by the exact sum of labels (labels only
    * ever decrease, so an unchanged sum IS the fixpoint; decimal(38,0)
    * keeps the sum exact at any corpus size). EAGER: runs one small job
    * per round (standard for iterative graph algorithms), returns the
    * final materialized (id, cluster_id) frame.
    *
    * Only ids appearing in `pairs` are returned — docs with no near-dup
    * pair are their own singleton cluster; [[dedupKeepList]] handles
    * them.
    *
    * Two regimes: a pair list that fits the driver (≤ `driverEdgeLimit`
    * rows — near-dup pair lists are tiny relative to the corpus) is
    * solved in one collect + in-core union-find, skipping ~log n rounds
    * of job overhead; larger graphs run the distributed rounds. This is
    * the standard shape for distributed connected components (contract
    * until it fits, finish in-core). The limit probe is a single
    * early-terminating `limit(n+1).collect()` — the big path never pulls
    * more than the limit to the driver.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIters: Int = 64, driverEdgeLimit: Int = 500000): DataFrame = {
    val e0 = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .filter(col("src") =!= col("dst"))
    if (driverEdgeLimit > 0) {
      val probe = e0.limit(driverEdgeLimit + 1).collect()
      if (probe.length <= driverEdgeLimit)
        return localUnionFind(pairs.sparkSession, probe, e0.schema)
    }
    val edges = snapshot( // reused every round
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = snapshot(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
    // change detection must work for ANY id type: a decimal cast of a
    // string/UUID id is null, which would sum every round to the same
    // ZERO and declare convergence after round 1 with wrong clusters.
    // xxhash64 maps any type to a long; labels are per-row monotone
    // non-increasing, so a non-fixpoint round changes ≥1 row's hash and
    // the sums differ (cancellation across 64-bit hashes is ~2⁻⁶⁴;
    // maxIters still backstops).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(xxhash64(col("comp")).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty frame sums to null
    var prevSum = labelSum(labels)
    var iter = 0
    while (iter < maxIters) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nmin"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(labels("id"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      // pointer jumping: comp is always the id of a node in the same
      // component, so its own label exists and is ≤ comp
      val reps = stepped.select(col("id").as("rid"), col("comp").as("rcomp"))
      val jumped = snapshot(
        stepped.join(reps, stepped("comp") === reps("rid"))
          .select(stepped("id"), col("rcomp").as("comp")))
      val s = labelSum(jumped)
      labels = jumped
      if (s.compareTo(prevSum) == 0) // per-row monotone labels ⇒ equal hash-sum = fixpoint (see labelSum)
        return labels.select(col("id"), col("comp").as("cluster_id"))
      prevSum = s
      iter += 1
    }
    sys.error(s"dupClusters did not converge in $maxIters rounds — " +
      "pointer jumping converges in O(log n); this indicates corrupt input (NaN/null ids?)")
  }

  /** In-core regime of [[dupClusters]]: union-find with path compression
    * and union-by-min over a collected (src, dst) edge array. Id type is
    * whatever the caller's id column is — ordering mirrors Spark's
    * `min()` for the common id types.
    */
  private def localUnionFind(spark: org.apache.spark.sql.SparkSession,
                             edges: Array[org.apache.spark.sql.Row],
                             schema: org.apache.spark.sql.types.StructType): DataFrame = {
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case (x: java.lang.Number, y: java.lang.Number) => x.doubleValue < y.doubleValue
      case _ => String.valueOf(a) < String.valueOf(b)
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      if (a != null && b != null) {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
    }
    import scala.jdk.CollectionConverters._
    val idType = schema.head.dataType
    val out = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      parent.keys.toSeq.map(id => org.apache.spark.sql.Row(id, find(id))).asJava
    spark.createDataFrame(rows, out)
  }

  /** Keep-list for a deduped corpus: one row per KEPT doc — cluster
    * representatives (id == cluster_id) plus all singleton docs that
    * appear in no near-dup pair (broadcast-or-shuffle left join against
    * the cluster map, which is |pairs|-bounded, not corpus-bounded).
    */
  def dedupKeepList(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")

  /** Cluster resolution, keep-BEST: [[dedupKeepList]] keeps the
    * min-id representative; real pipelines keep the highest-QUALITY
    * member (longest text, best LM score, most recent crawl — the
    * "canonical document per duplicate cluster" policy of the
    * RefinedWeb/CCNet-style pipelines). Every
    * doc gets its verdict rather than being filtered, so the caller can
    * audit what a drop decision was based on.
    *
    * `scoreOf` ranks within a cluster (descending; ties break by
    * ascending id — deterministic). Docs in no cluster are their own
    * group and always keep.
    *
    * Plan shape: one left join docs⋈clusters on id (clusters is the
    * SMALL side — only docs that appeared in a candidate pair — and
    * broadcasts), then a window partitioned by cluster id. The window's
    * partitions are duplicate clusters, bounded by cluster size, never
    * the corpus; the shuffle carries (id, group, score), not text.
    */
  def dedupKeepBest(docs: DataFrame, idCol: String, clusters: DataFrame,
                    scoreOf: Column): DataFrame = {
    val w = Window
      .partitionBy(col("__grp"))
      .orderBy(scoreOf.desc, col(idCol).asc)
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("__grp", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_kept", row_number().over(w) === 1)
      .drop("__grp")
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥ `minOverlap`
    * distinct word n-grams with ANY benchmark doc (the train/test-leak
    * check every LLM corpus ships with — asymmetric, unlike
    * [[ngramJaccard]]'s within-corpus pairs).
    *
    * Shape for 100 TB corpus vs tiny benchmark set: both sides explode
    * to (id, shingle); the equi-join shuffles the corpus ONLY on
    * matching shingles (the benchmark shingle set acts as a semi-join
    * filter — with a small benchmark side Catalyst broadcasts it, so the
    * corpus never shuffles at all), then one map-side-combined count per
    * (corpus_id, bench_id). `maxShingleDf` drops stop-shingles from
    * MATCHING only, same guard + bounded-recall contract as
    * [[ngramCandidates]].
    *
    * @return (corpus id, bench_id, n_shared) — one row per contaminated
    *         (corpus doc, benchmark doc) pair
    */
  def contaminationFlags(corpus: DataFrame, benchmarks: DataFrame,
                         idCol: String, textCol: String, shingleN: Int,
                         minOverlap: Int,
                         maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // snapshot: with the df cap on, corpus shingles feed both the df
    // count and the match join — derive once (see the caching NOTE)
    val c = snapshot(explodedShingles(corpus, idCol, textCol, shingleN))
    val b0 = explodedShingles(benchmarks, idCol, textCol, shingleN)
      .withColumnRenamed("id", "bench_id")
    // df computed on the CORPUS side — that's where the mass is
    val b = capByKey(b0, c, Seq("tok"), maxShingleDf)
    c.join(b, Seq("tok"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Exact Jaccard for (id_a, id_b) candidate pairs against the exploded
    * shingle table: |∩| by a 3-way equi-join + count, |∪| = na+nb−|∩|.
    * Pure codegen'd joins/hash-aggs — no array payloads in any shuffle.
    * Pairs sharing zero shingles drop out (jaccard 0 < any threshold).
    */
  def verifyJaccardByJoin(cand: DataFrame, exploded: DataFrame,
                          threshold: Double): DataFrame = {
    val sizes = exploded.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val ea = exploded.select(col("id").as("id_a"), col("tok"))
    val eb = exploded.select(col("id").as("id_b"), col("tok"))
    cand
      .join(ea, Seq("id_a"))
      .join(eb, Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fuzzy dedup, edit-distance verified: MinHash-LSH candidate pairs
    * scored by NORMALIZED Levenshtein similarity
    * `1 − dist/max(len_a, len_b)` over whitespace-normalized text — the
    * character-level verifier pipelines reach for when shingle Jaccard
    * is too coarse (near-identical docs differing by small in-place
    * edits: dates, names, numbers). Every candidate pair is emitted
    * with its distance, similarity, and an `is_dup` verdict (≥
    * `minEditSim`) rather than pre-filtered, so the caller audits what
    * the verifier rejected.
    *
    * Plan shape: candidate generation is [[minHashCandidates]] (banded
    * equi-join, `maxBandBucket`-capped — linear, skew-safe); the text
    * joins back ONLY for candidate pairs (two hash joins on id), so the
    * O(len²) Levenshtein kernel runs once per candidate, never per
    * cross-pair, and the pair count is bounded by the band-bucket cap.
    * At 100 TB the cap is what stands between one viral template and
    * b²/2 quadratic edit-distance calls. Both engines compute integer
    * edit distance, so the one double division is bit-identical.
    */
  def fuzzyDedupPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6,
                      minEditSim: Double = 0.8,
                      baseHash: Column => Column = xxBase,
                      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // NO shingle snapshot here: unlike minHashLsh (whose verify joins
    // re-read the exploded frame), the shingles feed exactly one
    // consumer — minHashTable inside minHashCandidates, which snapshots
    // its own signature table — so a localCheckpoint would materialize
    // the largest intermediate for nothing
    val exploded = explodedShingles(df, idCol, textCol, shingleN)
    val cand = minHashCandidates(exploded, numHashes, bands, baseHash, maxBandBucket)
    // normalize once per doc (matches the shingle normalization), join
    // the normalized text back per candidate side
    val norm = df.select(col(idCol).as("id"),
      lower(trim(col(textCol))).as("__nt"))
    cand
      .join(norm.select(col("id").as("id_a"), col("__nt").as("__ta")), Seq("id_a"))
      .join(norm.select(col("id").as("id_b"), col("__nt").as("__tb")), Seq("id_b"))
      // explicit width for the CPU-bound DP stage (the q222 note: AQE
      // coalesces the byte-small candidate frame onto too few tasks)
      .repartition(cand.sparkSession.sparkContext.defaultParallelism)
      // UNBOUNDED fast kernel: the audit contract emits the exact
      // distance for rejected pairs too, so no early-exit — the win
      // here is FastLevenshtein's packed-int DP vs the builtin's
      // per-cell UTF-8 re-decode.
      .withColumn("edit_dist", graft.functions.TextFns.fastLevenshtein(
        col("__ta"), col("__tb"), lit(-1)).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)).cast("double"))
      .withColumn("is_dup", col("edit_sim") >= minEditSim)
      .select("id_a", "id_b", "edit_dist", "edit_sim", "is_dup")
  }

  /** Candidate pairs sharing ≥1 shingle with doc-frequency ≤
    * `maxShingleDf` — the blocked candidate stage of [[ngramJaccard]],
    * exposed for scale probing. A shingle with doc frequency f
    * contributes f²/2 candidate rows, so ONE stop-shingle ("of the …
    * of the") with f = 10⁶ yields 5·10¹¹ candidates at corpus scale;
    * the df cap removes exactly those from candidate GENERATION (df is
    * computed in the same pass over the persisted exploded table).
    * Verification still scores full shingle sets, so a dropped pair is
    * only lost if it shares NO sub-cap shingle — near-dups at any
    * useful threshold share many rare shingles, which bounds the
    * recall loss to pairs related only through stop-phrases.
    */
  def ngramCandidates(exploded: DataFrame, maxShingleDf: Int): DataFrame = {
    val source = capByKey(exploded, exploded, Seq("tok"), maxShingleDf)
    val x = source.select(col("tok"), col("id").as("id_a"))
    val y = source.select(col("tok"), col("id").as("id_b"))
    x.join(y, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Blocked exact n-gram-Jaccard near-dup: pairs sharing ≥1 shingle
    * (equi-join block on exploded shingles), then exact Jaccard ≥
    * threshold. Deterministic (no hashing) → DuckDB-oracle-friendly.
    * `maxShingleDf` caps candidate generation (see [[ngramCandidates]]).
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val exploded = snapshot(explodedShingles(df, idCol, textCol, shingleN))
    verifyJaccardByJoin(ngramCandidates(exploded, maxShingleDf), exploded, threshold)
  }

  /** 64-bit SimHash fingerprint over the token multiset: per bit, the
    * sign of Σ±1 across token hashes. Expression form (interpreted
    * higher-order lambdas) — use [[simHashTable]] for bulk computation.
    */
  def simHash(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val n      = size(hashes)
    (0 until 64)
      .map { b =>
        val setCnt = aggregate(hashes, lit(0L), (s, v) => s + shiftright(v, b).bitwiseAND(lit(1L)))
        when(setCnt * 2 >= n, lit(1L << b)).otherwise(lit(0L))
      }
      .reduce((x, y) => x.bitwiseOR(y))
  }

  /** SimHash fingerprints as a table (id, fp) via explode + one hash
    * aggregate with `bits` codegen'd conditional sums — the scale path
    * (identical result to [[simHash]], ~10× faster than interpreted
    * lambda aggregation). `tokenHash`/`bits` default to the xxhash64
    * 64-bit form; pass [[md5Hash60]]/60 for the engine-portable variant
    * the DuckDB oracle can reproduce.
    */
  def simHashTable(df: DataFrame, idCol: String, textCol: String,
                   tokenHash: Column => Column = xxhash64(_),
                   bits: Int = 64): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val bitSums = (0 until bits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"c_$b"))
    val counted = exploded.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val fp = (0 until bits)
      .map(b => when(col(s"c_$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    counted.select(col("id"), fp.as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the fingerprint into nChunks chunks
    * (pigeonhole: hamming < nChunks ⇒ some chunk equal — recall is
    * EXACT only when maxHamming < nChunks), equi-join on chunks, verify
    * by hamming distance.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   tokenHash: Column => Column = xxhash64(_),
                   bits: Int = 64, nChunks: Int = 4): DataFrame =
    hammingPairs(snapshot(simHashTable(df, idCol, textCol, tokenHash, bits)),
      maxHamming, bits, nChunks)

  /** The banded hamming join shared by every 64-bit-fingerprint family
    * (simhash over tokens, phash over media features): band the
    * fingerprint into nChunks chunks, equi-join on (chunk, value),
    * verify by hamming distance — EXACT recall when
    * maxHamming < nChunks (pigeonhole). `base` must be an (id, fp)
    * frame, fp in the low `bits` bits.
    */
  def hammingPairs(base: DataFrame, maxHamming: Int,
                   bits: Int = 64, nChunks: Int = 4): DataFrame = {
    require(bits % nChunks == 0, s"bits ($bits) must divide into nChunks ($nChunks)")
    val chunkBits = bits / nChunks
    // mask built with >>> not <<: (1L << 64) shift-wraps to 1, so a
    // single-chunk config would mask every fingerprint to cv = 0 — one
    // global bucket, silent all-pairs join
    val chunkMask = -1L >>> (64 - chunkBits)
    val chunkStructs = (0 until nChunks).map(c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("fp"), c * chunkBits)
          .bitwiseAND(lit(chunkMask)).as("cv")))
    val banded = base.select(col("id"), col("fp"),
      explode(array(chunkStructs: _*)).as("b"))
      .select(col("id"), col("fp"), col("b.chunk").as("chunk"), col("b.cv").as("cv"))
    val a = banded.select(col("chunk"), col("cv"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("chunk"), col("cv"), col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hammingDist(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---- incremental (batch-vs-corpus) exact dedup -----------------------

  private def expr(c: Column) =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnBridge.column(e)

  /** Serialized Bloom filter over a LONG key column — one map-side-
    * combined aggregation pass over the corpus, collected as a single
    * binary sketch (`org.apache.spark.util.sketch.BloomFilter`, bit
    * size ≈ 1.44·log₂(1/fpp)·expectedItems).
    */
  def buildBloom(keys: DataFrame, keyCol: Column, expectedItems: Long): Array[Byte] = {
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expr(keyCol), expectedItems).toAggregateExpression()
    keys.select(asCol(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** `might_contain` probe against a serialized Bloom sketch — the
    * codegen'd Catalyst predicate Spark itself injects for runtime
    * row-group filtering, usable inline in a 100 TB scan stage.
    */
  def mightContain(bloom: Array[Byte], keyCol: Column): Column =
    asCol(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expr(lit(bloom)), expr(keyCol)))

  /** Incremental exact dedup: the rows of `newBatch` whose `keyOf` value
    * does NOT already exist in `corpus` — the "which of today's crawl is
    * genuinely new" primitive for append-only corpus building.
    *
    * Semantics are EXACT (a plain anti-join); the Bloom sketch is purely
    * a pruning pre-filter. A Bloom negative is proof the key is absent
    * (no false negatives) → the row skips the join entirely and its
    * payload never shuffles. Only Bloom positives — true dups plus an
    * `fpp`-sized slice of false positives — reach the anti-join, so the
    * wide document payload that shuffles is ~dup_rate+fpp of the batch
    * instead of all of it. The corpus side ships 8-byte keys only.
    *
    * `expectedItems` sizes the sketch (collected to the driver and
    * broadcast as a literal: ~1.2 MB per 10⁶ keys at the default 3%
    * fpp — size for the corpus-partition a job actually screens
    * against, not a whole 10¹⁰-key corpus in one sketch).
    */
  def newKeysOnly(newBatch: DataFrame, corpus: DataFrame, keyOf: Column,
                  expectedItems: Long): DataFrame = {
    require(expectedItems > 0, s"expectedItems ($expectedItems) must be positive")
    val corpusKeys = corpus.select(keyOf.as("__key"))
    val bloom = buildBloom(corpusKeys, col("__key"), expectedItems)
    // empty corpus (or all-null keys): the aggregate evals to a NULL
    // sketch — everything in the batch is new; probing lit(null) would
    // null-out BOTH branches and return an empty frame instead
    if (bloom == null) return newBatch
    val keyed = newBatch.withColumn("__key", keyOf)
    // null-key rows probe NULL: coalesce them into the definitely-new
    // branch — a null key never equals any corpus key under SQL
    // equality, which is exactly what the plain anti-join would keep
    val probe = coalesce(mightContain(bloom, col("__key")), lit(false))
    val definitelyNew = keyed.filter(!probe)
    val confirmedNew = keyed.filter(probe)
      .join(corpusKeys, Seq("__key"), "left_anti")
    definitelyNew.unionByName(confirmedNew).drop("__key")
  }

  /** Exact duplicate-span detection — the word-level form of
    * ExactSubstr dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2021): every maximal run of token
    * positions covered by a `gramSize`-token window whose text occurs
    * at least `minCount` times ANYWHERE in the corpus (across docs or
    * repeated within one). Emits one row per merged span: (id,
    * span_start, span_end, n_span_tokens), token positions 1-based
    * inclusive — the mask a training pipeline cuts out of each doc.
    *
    * Plan shape: one window-explode producing (id, start, gramKey) →
    * map-side-combined count per gramKey → the `>= minCount` survivors
    * join back (keys only — gram text never shuffles when `gramKeyOf`
    * hashes) → per-doc gaps-and-islands over the DUPLICATED starts
    * only (running max-end window, then a hash aggregate per island).
    * The per-doc window sees just the duplicated positions, not the
    * corpus, so the sort is bounded by a doc's own span count.
    *
    * `gramKeyOf` defaults to xxhash64 (8-byte shuffle keys; at 10¹²
    * grams the ~2⁻⁶⁵·n² birthday collisions mis-flag a vanishing
    * fraction of windows as duplicated — acceptable for masking). Pass
    * [[md5Hash60]] for engine-portable results, or `identity` to group
    * by the raw gram text for exact semantics at ~4× the shuffle bytes.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     gramSize: Int, minCount: Long = 2L,
                     gramKeyOf: Column => Column = xxhash64(_)): DataFrame = {
    require(gramSize > 0, s"gramSize ($gramSize) must be positive")
    require(minCount >= 2, s"minCount ($minCount) must be at least 2")
    val toks = graft.functions.TextFns.tokens(col(textCol))
    // (id, start, key): one row per gramSize-token window; docs shorter
    // than gramSize emit nothing (null text tokenizes to null → the
    // isNotNull guard keeps sequence() from fabricating a window)
    // snapshot: the window table feeds BOTH the dup-key aggregate and
    // the join back — without it the corpus explode + per-window hash
    // (the operator's dominant cost) runs twice (compute-once contract,
    // [[minHashLsh]])
    val windows = snapshot(docs
      .select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"), explode(
        when(col("__toks").isNotNull && size(col("__toks")) >= gramSize,
          sequence(lit(1), size(col("__toks")) - gramSize + 1))
          .otherwise(array().cast("array<int>"))).as("start"),
        col("__toks"))
      .select(col("id"), col("start"),
        gramKeyOf(array_join(slice(col("__toks"), col("start"), lit(gramSize)), " "))
          .as("__gk")))
    val dupKeys = windows.groupBy(col("__gk")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select(col("__gk"))
    val dupStarts = windows.join(dupKeys, Seq("__gk")).select(col("id"), col("start"))
    mergeSpans(dupStarts, idCol, gramSize)
  }

  /** Gaps-and-islands over flagged window starts: a new span begins
    * where this window's start clears the running max end of all
    * earlier windows by ≥ 2 (touching or overlapping windows fuse into
    * one maximal span). The per-doc window sees just the flagged
    * positions — the sort is bounded by a doc's own span count.
    * Shared by [[duplicateSpans]] and [[contaminatedSpans]].
    */
  private def mergeSpans(dupStarts: DataFrame, idCol: String,
                         gramSize: Int): DataFrame = {
    val wPrev = Window.partitionBy(col("id")).orderBy(col("start").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("id")).orderBy(col("start").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    dupStarts
      .withColumn("__newSpan",
        when(col("start") > coalesce(max(col("start") + gramSize - 1).over(wPrev),
          lit(Int.MinValue)) + 1, 1).otherwise(0))
      .withColumn("__span", sum(col("__newSpan")).over(wRun))
      .groupBy(col("id"), col("__span"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + gramSize - 1).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_span_tokens"))
  }

  /** Span-level benchmark decontamination — the surgical form of [[
    * contaminationFlags]] (which flags whole docs): every maximal token
    * span of `corpus` covered by a `gramSize`-gram that appears ANYWHERE
    * in `bench` is emitted as a mask (id, span_start, span_end,
    * n_span_tokens) — cut the spans, keep the doc (the eval-overlap
    * scrub of Lee et al. 2021 §4 / open corpus pipelines, span-level so
    * one leaked test question doesn't delete a whole web page).
    *
    * Plan shape: the benchmark side reduces to DISTINCT 8-byte gram keys
    * (broadcast by contract — eval suites are small); the corpus makes
    * one window explode, keeps hash-key hits only, and the span merge is
    * [[duplicateSpans]]'s bounded per-doc islands pass. The corpus never
    * shuffles gram text and is scanned once.
    */
  def contaminatedSpans(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, gramSize: Int,
                        gramKeyOf: Column => Column = xxhash64(_)): DataFrame = {
    require(gramSize > 0, s"gramSize ($gramSize) must be positive")
    def windowsOf(df: DataFrame, idAs: String): DataFrame = {
      val toks = graft.functions.TextFns.tokens(col(textCol))
      df.select(col(idCol).as(idAs), toks.as("__toks"))
        .select(col(idAs), explode(
          when(col("__toks").isNotNull && size(col("__toks")) >= gramSize,
            sequence(lit(1), size(col("__toks")) - gramSize + 1))
            .otherwise(array().cast("array<int>"))).as("start"),
          col("__toks"))
        .select(col(idAs), col("start"),
          gramKeyOf(array_join(slice(col("__toks"), col("start"), lit(gramSize)), " "))
            .as("__gk"))
    }
    val benchKeys = windowsOf(bench, "__bid").select(col("__gk")).distinct()
    val hits = windowsOf(corpus, "id")
      .join(broadcast(benchKeys), Seq("__gk"))
      .select(col("id"), col("start"))
    mergeSpans(hits, idCol, gramSize)
  }

  /** Fixed-size token-block paragraphs: the segmentation convention of
    * [[graft.operators.Curation.boilerplateSegments]], exposed so
    * [[paragraphDedup]] can run on corpora without layout (the
    * synthetic word-salad tables have no newlines). Real documents pass
    * `split(col, "\n{2,}")` instead — the operator only needs SOME
    * array of paragraph strings.
    */
  def tokenBlocks(text: Column, blockTokens: Int): Column = {
    val toks = tokens(text)
    when(text.isNotNull,
      letCol(toks)(tk =>
        transform(sequence(lit(1), greatest(size(tk), lit(1)), lit(blockTokens)),
          i => array_join(slice(tk, i, lit(blockTokens)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Paragraph-level dedup, keep-FIRST occurrence — the Dolma pipeline's
    * paragraph dedup step (Soldaini et al. 2024, arXiv:2402.00159 §2:
    * duplicate paragraphs are marked via a Bloom filter and removed,
    * first writer wins) made exact: a paragraph survives only in the
    * globally first document/position that contains it (order = (doc id,
    * paragraph position)); every later occurrence — in other docs or
    * later in the same doc — is dropped. Sits between
    * [[exact]] (whole-doc) and [[duplicateSpans]] (free-position grams):
    * layout-aligned repeated units die, the rest of each doc survives.
    *
    * `paragraphsOf` maps the text column to `array<string>` of
    * paragraphs ([[tokenBlocks]] or a newline split); `keyOf` is the
    * 8-byte grouping key ([[md5Hash60]] for oracle portability,
    * xxhash64 in production — paragraph TEXT never crosses a shuffle
    * except inside the surviving doc rebuild).
    *
    * Plan shape: posexplode → map-side-combined `min(struct(doc, pos))`
    * per key (the whole "first occurrence" decision — no window over
    * the corpus, no global sort) → one join back on the 8-byte key →
    * per-doc rebuild bounded by the doc's own paragraph count. At
    * 100 TB the exact agg is one shuffle of 16-byte rows; the
    * streaming/incremental regime swaps the agg for [[newKeysOnly]]'s
    * Bloom probe (accepting its false-positive drop rate, as Dolma
    * does).
    *
    * Returns one row per input doc: (id, n_paragraphs, n_dropped,
    * clean_text = surviving paragraphs in original order).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     paragraphsOf: Column => Column,
                     keyOf: Column => Column = xxhash64(_)): DataFrame = {
    val paras = docs
      .select(col(idCol).as("__id"), posexplode(paragraphsOf(col(textCol)))
        .as(Seq("pos", "para")))
      .withColumn("__pk", keyOf(col("para")))
    val firsts = paras
      .groupBy(col("__pk"))
      .agg(min(struct(col("__id"), col("pos"))).as("__first"))
    val perDoc = paras.join(firsts, Seq("__pk"))
      .withColumn("__keep",
        struct(col("__id"), col("pos")) === col("__first"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(when(not(col("__keep")), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("para"))))),
          p => p.getField("para")), " ").as("clean_text"))
    docs.select(col(idCol)).join(perDoc, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_paragraphs"), lit(0L)).as("n_paragraphs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        col("clean_text"))
  }

  /** MinHash estimator-accuracy audit — the sketch-error twin of the
    * ANN recall audits (q107/q111/q116): for every pair in a SAMPLED
    * doc block, the signature-agreement estimate ĵ = |{s : mhₐ[s] =
    * mh_b[s]}| / H next to the exact shingle Jaccard, so the expected
    * |ĵ − J| ≈ √(J(1−J)/H) error bound is measurable on real data
    * before anyone trusts an H for production LSH thresholds.
    *
    * All-pairs by contract: callers pass a bounded sample (audits
    * measure a sample, they don't sweep the corpus); the op is O(n²)
    * in the block size and says so, which is the honest shape — the
    * production pair generator stays [[minHashCandidates]].
    */
  def minHashAccuracyAudit(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int,
                           baseHash: Column => Column = xxBase): DataFrame = {
    require(shingleN > 0 && numHashes > 0,
      s"shingleN ($shingleN) and numHashes ($numHashes) must be positive")
    val d = docs
      .select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig", minHashSignature(col("__sh"), numHashes, baseHash))
    val a = d.select(col("__id").as("id_a"), col("__sh").as("__sha"),
      col("__sig").as("__siga"))
    val b = d.select(col("__id").as("id_b"), col("__sh").as("__shb"),
      col("__sig").as("__sigb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("__siga"), col("__sigb"),
          (x, y) => x === y), eq => eq)).cast("long").as("n_agree"),
        size(array_intersect(col("__sha"), col("__shb"))).cast("double")
          ./(size(array_union(col("__sha"), col("__shb"))).cast("double"))
          .as("__j"))
      .select(col("id_a"), col("id_b"), col("n_agree"),
        round(col("n_agree").cast("double") / lit(numHashes.toDouble), 6)
          .as("est_r"),
        round(col("__j"), 6).as("jaccard_r"))
  }

  /** Directional containment join — near-superset / quote detection:
    * for each `quotes` row, every `corpus` doc whose gram set covers at
    * least `minContainment` of the quote's grams, with
    * C(q→d) = |grams(q) ∩ grams(d)| / |grams(q)|. Resemblance (Jaccard,
    * the MinHash estimand) goes to ~0 when a short quote sits inside a
    * long doc; containment is the asymmetric measure that still reads
    * 1.0 — Broder 1997 §2's second measure, the one plagiarism/quote
    * pipelines actually want.
    *
    * Grams with corpus doc-frequency > `dfCap` are dropped from BOTH
    * sides (numerator and denominator), which (a) bounds the candidate
    * fanout per gram to dfCap² — the standard sub-quadratic guard this
    * codebase applies to every similarity self-join — and (b) is the
    * stopword-removal semantics quote detection wants anyway. A quote
    * gram absent from the corpus entirely still counts in the
    * denominator (it is evidence AGAINST containment); only
    * high-frequency corpus grams are vocabulary-excluded.
    *
    * Plan shape: both sides reduce to distinct 8-byte (id, gram-key)
    * pairs in the scan stage (gram text never shuffles); the high-df
    * vocabulary is one map-side-combined count + two anti-joins; the
    * intersection is one equi-join on the 8-byte key, aggregated with
    * partial combine. Containment is a single exact-int division,
    * engine-portable for the oracle.
    */
  def containmentJoin(quotes: DataFrame, corpus: DataFrame,
                      quoteIdCol: String, corpusIdCol: String,
                      textCol: String, gramSize: Int, dfCap: Long,
                      minContainment: Double,
                      gramKeyOf: Column => Column = xxhash64(_)): DataFrame = {
    require(gramSize > 0, s"gramSize ($gramSize) must be positive")
    require(dfCap > 0, s"dfCap ($dfCap) must be positive")
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment ($minContainment) must be in (0, 1]")
    def gramsOf(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol),
        explode(shingles(col(textCol), gramSize)).as("__g"))
        .select(col(idCol), gramKeyOf(col("__g")).as("__gk"))
        .distinct() // shingles are per-doc distinct; this folds key collisions
    val cg = snapshot(gramsOf(corpus, corpusIdCol))
    val highDf = cg.groupBy(col("__gk")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > dfCap).select(col("__gk"))
    val qk = gramsOf(quotes, quoteIdCol)
      .join(highDf, Seq("__gk"), "left_anti")
    val ck = cg.join(highDf, Seq("__gk"), "left_anti")
    val qSize = qk.groupBy(col(quoteIdCol)).agg(count(lit(1)).as("q_size"))
    qk.join(ck, Seq("__gk"))
      .groupBy(col(quoteIdCol), col(corpusIdCol))
      .agg(count(lit(1)).as("n_inter"))
      .join(qSize, Seq(quoteIdCol))
      .withColumn("containment",
        col("n_inter").cast("double") / col("q_size").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col(quoteIdCol), col(corpusIdCol), col("n_inter"),
        col("q_size"), col("containment"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * §3, the MOSS local algorithm): hash every `gramSize`-token gram,
    * slide a window of `window` consecutive gram hashes, and in each
    * full window select the minimum hash — rightmost occurrence on
    * ties — then keep the distinct selected (position, hash) pairs.
    * The guarantee (Theorem 1): any shared token run of length ≥
    * window + gramSize − 1 between two documents yields at least one
    * shared fingerprint, with an expected density of 2/(window+1) —
    * the sub-linear sketch that makes all-pairs substring matching a
    * fingerprint equi-join instead of a gram equi-join.
    *
    * Plan shape: one explode to gram hashes (8-byte, text never
    * shuffles), one per-doc window pass ordered by position — bounded
    * by each doc's own gram count, never a global sort. The
    * rightmost-min selection is a single `min(struct(hash, -pos))`
    * over the sliding frame: struct ordering compares hash first, then
    * the negated position, so ties resolve to the LARGEST position in
    * one codegen'd aggregate instead of a second ranking pass.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         gramSize: Int, window: Int,
                         gramKeyOf: Column => Column = xxhash64(_)): DataFrame = {
    require(gramSize > 0, s"gramSize ($gramSize) must be positive")
    require(window > 0, s"window ($window) must be positive")
    val toks = tokens(col(textCol))
    val grams = docs
      .select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"), explode(
        when(col("__toks").isNotNull && size(col("__toks")) >= gramSize,
          sequence(lit(1), size(col("__toks")) - gramSize + 1))
          .otherwise(array().cast("array<int>"))).as("pos"),
        col("__toks"))
      .select(col("id"), col("pos"),
        gramKeyOf(array_join(slice(col("__toks"), col("pos"), lit(gramSize)), " "))
          .as("__gk"))
    val wSlide = Window.partitionBy(col("id")).orderBy(col("pos").asc)
      .rowsBetween(-(window - 1), 0)
    grams
      .withColumn("__sel", min(struct(col("__gk").as("h"),
        (-col("pos")).as("np"))).over(wSlide))
      // positions are dense 1..nGrams, so pos >= window ⇔ full window
      .filter(col("pos") >= window)
      .select(col("id").as(idCol), (-col("__sel.np")).as("fp_pos"),
        col("__sel.h").as("fp"))
      .distinct()
  }

  /** Winnowing overlap pairs — the MOSS report step over
    * [[winnowFingerprints]] ("which documents share VERBATIM token
    * runs, and how much"): a candidate pair survives iff the two docs
    * share ≥ `minShared` distinct selected fingerprints, which by the
    * winnowing guarantee certifies ≥ minShared shared token runs of
    * length ≥ window + gramSize − 1 each. The substring-plagiarism
    * join the gram-level equi-join can't afford: fingerprint density
    * is 2/(window+1), so the join input is ~25× smaller than the gram
    * table at window 7.
    *
    * Plan shape: the fingerprint table (8-byte hashes, text never
    * shuffles), a df cap on the fingerprint (a boilerplate run shared
    * by b docs would otherwise build a b² bucket — same guard family
    * as the shingle-df cap in [[ngramJaccard]]), one self equi-join on
    * the hash, one count aggregate per surviving pair.
    */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         gramSize: Int, window: Int, minShared: Long,
                         gramKeyOf: Column => Column = xxhash64(_),
                         maxFpDf: Long = 200L): DataFrame = {
    require(minShared >= 1, s"minShared ($minShared) must be >= 1")
    require(maxFpDf >= 2, s"maxFpDf ($maxFpDf) must be >= 2")
    val fps = winnowFingerprints(docs, idCol, textCol, gramSize, window,
        gramKeyOf)
      .select(col(idCol).as("id"), col("fp")).distinct()
      .mat
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxFpDf)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Dedup savings report over a (id, cluster_id, size) assignment —
    * the capacity-planning readout every dedup run ends with: the
    * cluster-size histogram (how duplicated IS the corpus) and the
    * bytes/tokens reclaimed by keeping one representative (min id)
    * per cluster. Input is any cluster labeling ([[dupClusters]]
    * output joined to sizes, or a content-hash grouping); this
    * operator only aggregates, so it composes with every dedup family.
    *
    * Plan: one hash agg to clusters, one to the size histogram
    * (bounded by max cluster size), one scalar row appended via a
    * cheap union — no corpus rescan.
    *
    * @return histogram rows (cluster_size, n_clusters, n_docs,
    *         reclaimed) ordered by size, where `reclaimed` sums the
    *         size column over NON-representative members
    */
  def dedupSavings(assign: DataFrame, idCol: String, clusterCol: String,
                   sizeCol: String): DataFrame = {
    val clusters = assign.select(col(clusterCol).as("__c"),
        col(idCol).as("__id"), col(sizeCol).cast("long").as("__s"))
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("__n"), sum(col("__s")).as("__bytes"),
        min(struct(col("__id"), col("__s"))).as("__rep"))
    clusters
      .groupBy(col("__n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__n")).as("n_docs"),
        sum(col("__bytes") - col("__rep.__s")).as("reclaimed"))
  }

  /** Per-doc n-gram novelty against all earlier docs (id order): the
    * fraction of a doc's distinct shingles whose FIRST corpus
    * occurrence is this doc — the marginal-contribution score that
    * ranks near-duplicates low without ever forming pairs (a dedup
    * signal that stays linear when the duplicate clusters are huge,
    * where pairwise verification is quadratic in cluster size).
    *
    * Plan shape: one shingle explode, one min-id hash aggregate per
    * distinct gram (vocabulary-bounded shuffle), one equi-join back,
    * one per-doc fold. novelty_q = ⌊10⁶·novel/n_grams⌋ — one exact-long
    * division.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    require(n > 0, s"n ($n) must be positive")
    val grams = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("g"))
    val firstDoc = grams.groupBy(col("g")).agg(min(col("id")).as("first_id"))
    val perDoc = grams.join(firstDoc, Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("novel_grams"))
      .withColumn("novelty_q",
        floor(lit(1000000.0) * col("novel_grams").cast("double") /
          col("n_grams").cast("double")).cast("long"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .na.fill(0L, Seq("n_grams", "novel_grams"))
      .withColumnRenamed("id", idCol)
  }

  /** EXACT threshold set-similarity self-join via prefix filtering
    * (the AllPairs/PPJoin family) — every pair with shingle Jaccard ≥
    * `threshold`, with NO probabilistic miss (MinHash) and NO df-cap
    * truncation (q23's capped candidates): the third point in the
    * dedup design space, for when the pipeline must certify "no
    * near-duplicate above t survives".
    *
    * Prefix theorem: order the universe of shingles globally by
    * (document frequency asc, shingle asc) — rarest first. If
    * J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so B must hit one of A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles in that order. Candidates = pairs
    * sharing ≥1 PREFIX shingle; verification is the exact count-based
    * join ([[verifyJaccardByJoin]] — no shingle arrays cross a
    * shuffle).
    *
    * Scale shape: prefixes select the RAREST shingles, so candidate
    * volume is Σ_prefix-tok df² over small dfs — the frequent-shingle
    * quadratic that forces q23's cap never enters a prefix. The
    * inherent worst case (N near-identical docs) is output-bound:
    * those candidates ARE result pairs. One df aggregate, one per-DOC
    * window (bounded by doc length), one equi-join on prefix shingle.
    */
  def prefixJaccard(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    val exploded = snapshot(explodedShingles(df, idCol, textCol, shingleN))
    val dfreq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("id")).orderBy(col("__df"), col("tok"))
    val sized = exploded.join(dfreq, Seq("tok"))
      .withColumn("__pos", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("id"))))
    val prefix = sized.filter(
      col("__pos") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
    val cand = prefix.select(col("id").as("id_a"), col("tok"))
      .join(prefix.select(col("id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccardByJoin(cand, exploded, threshold)
  }

  /** Soft (probabilistic) dedup: instead of keeping exactly one doc per
    * exact-duplicate cluster, each member survives with probability
    * ≈ 1/clusterSize — preserving the duplication signal's EXPECTED
    * unit mass while still killing the over-representation (the
    * SoftDeDup idea: hard dedup erases the fact that duplicated text
    * is common text, which is itself training signal). The canonical
    * member (min id) is always kept, so no cluster vanishes; each
    * NON-canonical member is kept iff
    *
    *   (md5₆₀(id:"soft") mod 10⁶) · clusterSize  <  10⁶
    *
    * — a deterministic engine-portable coin (same md5 device as the
    * split/sample kernels), so reruns and engines agree doc-by-doc.
    *
    * Plan shape: one hash agg on the content hash (cluster size +
    * canonical id), broadcast-free self-join back on the hash (same
    * key, co-partitioned), scan-stage coin — two shuffles total on the
    * content hash.
    *
    * @return (id, content_hash, cluster_size, is_canonical, kept)
    */
  def softDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
      md5Hash60(coalesce(
        graft.functions.TextFns.normalizeText(col(textCol)), lit("")))
        .as("content_hash"))
    val clusters = hashed.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("cluster_size"), min(col("id")).as("__keeper"))
    val coin = pmod(
      md5Hash60(concat(col("id").cast("string"), lit(":soft"))),
      lit(1000000L))
    hashed.join(clusters, Seq("content_hash"))
      .select(col("id"), col("content_hash"), col("cluster_size"),
        (col("id") === col("__keeper")).as("is_canonical"),
        (col("id") === col("__keeper") ||
          coin * col("cluster_size") < lit(1000000L)).as("kept"))
  }

  /** Per-group duplicate token mass: what fraction of each source's
    * TOKENS lives in non-canonical exact-duplicate documents (clusters
    * over the WHOLE corpus by normalized content hash, canonical = min
    * id) — the number a curation dashboard actually wants from exact
    * dedup: not "how many dup docs" but "how much training signal is
    * repeated", attributed to the source that contributed it.
    *
    * Plan: one content-hash agg for cluster keepers (the [[exact]]
    * shape), an id-join back, then a per-group token-mass rollup —
    * token counts ride the scan ([[graft.functions.TextFns.tokenCount]]
    * is codegen'd), sums in decimal past long at corpus scale.
    *
    * @return (group, n_docs, n_dup_docs, tokens, dup_tokens,
    *         dup_ratio_q)
    */
  def duplicateMass(df: DataFrame, groupCol: String, idCol: String,
                    textCol: String): DataFrame = {
    val hashed = df.select(col(groupCol), col(idCol).as("id"),
      graft.functions.TextFns.tokenCount(col(textCol)).cast("long")
        .as("__tok"),
      md5Hash60(coalesce(
        graft.functions.TextFns.normalizeText(col(textCol)), lit("")))
        .as("__h"))
    val keepers = hashed.groupBy(col("__h"))
      .agg(min(col("id")).as("__keeper"))
    hashed.join(keepers, Seq("__h"))
      .withColumn("__dup", col("id") =!= col("__keeper"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("__tok").cast("decimal(38,0)")).as("__t"),
        sum(when(col("__dup"), col("__tok")).otherwise(0L)
          .cast("decimal(38,0)")).as("__dt"))
      .select(col(groupCol), col("n_docs"), col("n_dup_docs"),
        col("__t").cast("long").as("tokens"),
        col("__dt").cast("long").as("dup_tokens"),
        when(col("__t") > 0,
          floor(lit(1000000.0) * col("__dt").cast("double") /
            col("__t").cast("double")).cast("long")).as("dup_ratio_q"))
  }

  /** Sorted-neighborhood record linkage: order the corpus by a
    * blocking key (here: the first `keyLen` chars of the normalized
    * text), then compare each doc ONLY to its `windowSize` successors
    * in that order — the classic SNM blocking that catches near-dups
    * whose PREFIX agrees (OCR rescans, versioned re-crawls) at O(n·w)
    * comparisons, complementary to MinHash (set overlap) and SimHash
    * (bit distance). Verified by normalized Levenshtein similarity.
    *
    * NO global single-partition sort: the global position decomposes
    * as (count of rows at strictly smaller keys) + (row_number within
    * the key block) — the first addend lives on the distinct-key grid
    * (one window over grid rows), the second is a window PARTITIONED
    * BY key. Neighbor pairs are `windowSize` shifted equi-joins on the
    * position (the lag-join shape), so every shuffle is on a key or an
    * integer — nothing is ever gathered to one partition.
    *
    * @return (id_a, id_b, gap, edit_sim_q) for pairs within the
    *         window with similarity ≥ minEditSim; gap = position
    *         distance in the sort order
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
                         keyLen: Int, windowSize: Int,
                         minEditSim: Double): DataFrame = {
    require(windowSize >= 1 && windowSize <= 16,
      s"windowSize ($windowSize) must be in [1, 16]")
    val norm = graft.functions.TextFns.normalizeText(col(textCol))
    val base = df.select(col(idCol).as("id"),
        coalesce(norm, lit("")).as("__t"))
      .withColumn("__key", substring(col("__t"), 1, keyLen))
      .mat
    val grid = base.groupBy(col("__key")).agg(count(lit(1)).as("__n"))
    val wg = Window.orderBy(col("__key").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grid
      .withColumn("__before", coalesce(sum(col("__n")).over(wg), lit(0L)))
      .select(col("__key"), col("__before"))
    val wb = Window.partitionBy(col("__key")).orderBy(col("id").asc)
    val positioned = base.join(offsets, Seq("__key"))
      .withColumn("__pos", col("__before") + row_number().over(wb))
      .select(col("id"), col("__t"), col("__pos"))
      .mat
    val pairs = (1 to windowSize).map { g =>
      positioned.select(col("id").as("id_a"), col("__t").as("__ta"),
          (col("__pos") + g).as("__pos"))
        .join(positioned.select(col("id").as("id_b"), col("__t").as("__tb"),
          col("__pos")), Seq("__pos"))
        .select(col("id_a"), col("id_b"), lit(g).as("gap"),
          col("__ta"), col("__tb"))
    }.reduce(_ unionByName _)
    // Thresholded Levenshtein early-exit: sim_q ≥ ms ⟺ d ≤
    // ⌊L·(10⁶−ms)/10⁶⌋ (all-integer algebra, L = max len > 0), so the
    // 3-arg banded form — O(thr·len) instead of O(len²), returning −1
    // past the bound — drops EXACTLY the pairs the final filter drops.
    // ADAPTIVE: the band only wins when it's narrow. At minEditSim <
    // 0.5 the band covers > half the DP matrix and the banded kernel's
    // per-cell overhead makes it SLOWER than the plain form (measured
    // 3.5 s → 6.5 s at the q222 gate's 0.3 cut), so loose cuts keep
    // the unbounded kernel; both paths emit identical rows.
    val ms = (minEditSim * 1000000).toLong
    // Scan-cost candidate pruning BEFORE the O(len²) DP: sim_q ≥ ms ⟺
    // dist ≤ thr = ⌊L·(10⁶−ms)/10⁶⌋ (all-integer algebra, L = max
    // len), and the native bag-distance bound (TextExpressions) is a
    // guaranteed lower bound on the distance — a pair with bag > thr
    // CANNOT pass the cut, so dropping it before the kernel is
    // output-identical. On the q222 gate this prunes ~99% of the
    // window pairs at O(len) each.
    // Explicit width for the DP stage: the candidate frame is small in
    // BYTES (AQE coalesces a ~10 MB shuffle output to one task) but
    // heavy in CPU (O(len²) per pair) — a user repartition is exempt
    // from AQE coalescing, so the kernel keeps session parallelism.
    val scored = pairs
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__len",
        greatest(length(col("__ta")), length(col("__tb"))).cast("long"))
      .withColumn("__thr",
        functions.expr(s"int((__len * ${1000000L - ms}L) div 1000000L)"))
      .filter(graft.functions.TextFns.bagDistBound(col("__ta"), col("__tb"))
        <= col("__thr"))
    // Survivors run the native fast kernel (FastLevenshtein: one-pass
    // code-point packing, two-row int DP, row-min early exit at __thr)
    // — value-identical to the builtin, without its per-cell UTF-8
    // re-decode.
    val withDist = scored.withColumn("__dist",
      graft.functions.TextFns.fastLevenshtein(
        col("__ta"), col("__tb"), col("__thr").cast("int")))
    // A threshold-miss (−1) maps to NULL sim so the final ≥ms filter
    // drops it. localCheckpoint before the filter: predicate pushdown
    // would otherwise substitute the sim ALIAS into the Filter and
    // evaluate the O(len²) kernel twice per pair (measured 3.9 s →
    // 6.9 s). The checkpointed frame is the O(n·w) candidate set
    // projected to 4 scalar columns — bounded at any corpus size.
    val simmed = withDist
      .select(col("id_a"), col("id_b"), col("gap"),
        when(col("__dist") < 0, lit(null).cast("long"))
          .when(col("__len") === 0, lit(1000000L))
          .otherwise(floor(lit(1000000.0) *
            (lit(1.0) - col("__dist").cast("double") /
              col("__len").cast("double"))).cast("long"))
          .as("edit_sim_q"))
      .mat
    simmed.filter(col("edit_sim_q") >= ms)
  }

  /** Fellegi–Sunter record-linkage weights from a labeled candidate
    * pair table: per comparison field, the match/unmatch agreement
    * probabilities (add-one smoothed — a zero cell must not blow up
    * the log-odds) and the two log₂-free weights in nats,
    *
    *   w_agree    = ln(m/u),   m = (a_m+1)/(n_m+2), u = (a_u+1)/(n_u+2)
    *   w_disagree = ln((1−m)/(1−u))
    *
    * evaluated as ln of ONE exact integer ratio (decimal(38,0)
    * products, one division, one ln — the standing ln-on-exact-inputs
    * contract), quantized ⌊10⁶·.⌋. The sum of a candidate pair's
    * per-field weights is its linkage score; the cut thresholds are a
    * policy choice left to the caller.
    *
    * Plan: ONE aggregate row over the pair table (2k+2 conditional
    * sums, map-side combined), exploded to k bounded field rows — the
    * pair table is scanned exactly once regardless of field count.
    * NULL agreement values count as disagreement on both engines.
    */
  def fellegiSunter(pairs: DataFrame, matchCol: Column,
                    fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter needs at least one field")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mt = when(matchCol, 1L).otherwise(0L)
    val aggCols =
      Seq(sum(mt).as("__nm"), sum(lit(1L) - mt).as("__nu")) ++
      fields.zipWithIndex.flatMap { case ((_, f), i) =>
        val ag = when(coalesce(f, lit(false)), 1L).otherwise(0L)
        Seq(sum(mt * ag).as(s"__am$i"), sum((lit(1L) - mt) * ag).as(s"__au$i"))
      }
    val one = pairs.agg(aggCols.head, aggCols.tail: _*)
    val fieldStructs = fields.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("field"), col(s"__am$i").as("__am"),
        col(s"__au$i").as("__au"))
    }
    def lnRatioQ(p: Column, q: Column): Column =
      floor(lit(1000000.0) * log(p.cast("double") / q.cast("double")))
        .cast("long")
    one.select(col("__nm"), col("__nu"),
        explode(array(fieldStructs: _*)).as("__f"))
      .select(col("__f.field").as("field"), col("__nm").as("n_match"),
        col("__nu").as("n_unmatch"), col("__f.__am").as("agree_m"),
        col("__f.__au").as("agree_u"))
      .select(col("field"), col("n_match"), col("n_unmatch"),
        col("agree_m"), col("agree_u"),
        lnRatioQ(
          dec(col("agree_m") + 1) * dec(col("n_unmatch") + 2),
          dec(col("agree_u") + 1) * dec(col("n_match") + 2))
          .as("w_agree_q"),
        lnRatioQ(
          dec(col("n_match") + 1 - col("agree_m")) *
            dec(col("n_unmatch") + 2),
          dec(col("n_unmatch") + 1 - col("agree_u")) *
            dec(col("n_match") + 2)).as("w_disagree_q"))
      .orderBy(col("field"))
  }
}
