package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Scale probe for the near-dup candidate-generation guards: measures
  * candidate-pair counts and wall time for the uncapped vs guarded
  * configurations across a 10× corpus growth (sf0.01 → sf0.1).
  *
  * The documents corpus is made ADVERSARIAL by appending one common
  * stop-phrase to every doc — the resulting hot 5-grams have doc
  * frequency = N, so uncapped candidate generation must produce all
  * N(N-1)/2 pairs (the 100 TB failure mode: one viral phrase → 10¹²
  * candidates). The df cap drops exactly those shingles from candidate
  * generation, leaving the natural (df ≤ ~4) shingle pairs — growth
  * returns to ~linear. For embeddings, the fixed-plane LSH bucket join
  * is compared against the scale rule (planes = planesFor(n), bucket
  * cap): fixed planes grow candidates ~N²/2^planes, the scale rule
  * holds expected bucket size constant.
  *
  * Output: one line per (probe, scale, config) with candidate count and
  * seconds — the numbers quoted in COVERAGE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def timedCount(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$label%-46s candidates=$n%10d  time=${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    /** mult copies with disjoint id ranges (stride 10M), persisted. */
    def replicate(df: org.apache.spark.sql.DataFrame, idCol: String,
                  mult: Int): org.apache.spark.sql.DataFrame = {
      val out = (0 until mult).map(r =>
        df.withColumn(idCol, col(idCol) + lit(r * 10000000L)))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }

    // SPARK_GRAFT_PROBE=neardup|corpus|v6lpm runs one section (default all)
    val only = sys.env.get("SPARK_GRAFT_PROBE")
    def section(name: String): Boolean = only.forall(_ == name)

    if (section("neardup")) for (sf <- Seq("sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .withColumn("text",
          concat(col("text"), lit(" the of the of the end")))
      val exploded = Dedup.explodedShingles(docs, "doc_id", "text", 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exploded.count()
      timedCount(s"ngram   $sf uncapped",
        Dedup.ngramCandidates(exploded, Int.MaxValue))
      timedCount(s"ngram   $sf maxShingleDf=50",
        Dedup.ngramCandidates(exploded, 50))
      exploded.unpersist()

      // minhash mega-bucket: exact-duplicate docs collapse into ONE
      // band bucket per band — b replicas → b²/2 candidates uncapped;
      // replica count is the scale axis, so sf0.01 only
      for (reps <- Seq(16, 64) if sf == "sf0.01") {
        val dups = (0 until reps).map(r =>
          docs.limit(50).select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
            col("text")))
          .reduce(_ unionByName _)
        val ex = Dedup.explodedShingles(dups, "doc_id", "text", 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ex.count()
        timedCount(s"minhash $sf ${reps}x-dups uncapped",
          Dedup.minHashCandidates(ex, 12, 6, Dedup.md5Base))
        timedCount(s"minhash $sf ${reps}x-dups maxBandBucket=50",
          Dedup.minHashCandidates(ex, 12, 6, Dedup.md5Base, maxBandBucket = 50))
        ex.unpersist()
      }

      // distributed connected-components regime: a pure CHAIN is the
      // worst case (diameter = n); pointer jumping must still converge
      // in ~log2(n) rounds, not n. Probe counts rounds via wall time
      // growth: 10× nodes should add a few rounds, not 10× time.
      if (sf == "sf0.01") {
        for (chain <- Seq(1000, 10000)) {
          val pairsDf = spark.range(1, chain)
            .select((col("id") - 1).as("id_a"), col("id").as("id_b"))
          val t0 = System.nanoTime()
          val labels = Dedup.dupClusters(pairsDf, driverEdgeLimit = 0)
          val allMin = labels.agg(max(col("cluster_id"))).collect()(0).getLong(0)
          println(f"ccomp   chain n=$chain%6d distributed: all-min=${allMin == 0L}%5s" +
            f"  time=${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
      }

      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      timedCount(s"cosine  $sf fixed planes=6 uncapped",
        Similarity.cosineCandidates(emb, 64, 6, 1, Int.MaxValue))
      val p = Similarity.planesFor(n, targetBucket = 16)
      timedCount(s"cosine  $sf planesFor(n)=$p cap=64 tables=2",
        Similarity.cosineCandidates(emb, 64, p, 2, 64))
      emb.unpersist()
    }
    // round-4 corpus ops: all designed corpus-LINEAR (scan/window/join
    // shapes with no quadratic tail) — verify wall time tracks a 10×
    // corpus replication roughly linearly
    if (section("corpus")) {
    val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val bench10 = docs0.filter(col("doc_id") % 17 === 0) // fixed benchmark set
    for (mult <- Seq(1, 10)) {
      val docs = replicate(docs0, "doc_id", mult)
      timedCount(s"pack    ${mult}x docs budget=512 shards=32",
        graft.operators.Packing.packByTokenBudget(docs, "doc_id", "text", 512, 32))
      timedCount(s"cap     ${mult}x docs k=25/source",
        graft.operators.Packing.capPerGroup(docs, "source", "doc_id", 25))
      val w = docs.select(col("source")).distinct()
        .withColumn("weight", lit(0.5) + substring(col("source"), 4, 10).cast("int") % 4 * lit(0.75))
      timedCount(s"mix     ${mult}x docs weighted",
        graft.operators.Packing.mixByWeight(docs, "source", "doc_id", w))
      timedCount(s"decontm ${mult}x docs vs fixed benchmark",
        Dedup.contaminationFlags(docs, bench10, "doc_id", "text", 5, 5, maxShingleDf = 50 * mult))
      docs.unpersist()
    }
    }

    // round-5: IPv6 LPM scale path. A ≥100k-row v6 dim makes the
    // broadcast nested-loop (lpmRange: |probes|·|dim| range compares)
    // the round-4 scale-killer; lpmByExpansionBinary is |probes|·|lens|
    // hashed candidate rows → must grow LINEARLY in probes. The range
    // row runs at 10× FEWER probes and still loses — the cliff the
    // equi-join path removes.
    if (section("v6lpm")) {
      import graft.ip.IpKit
      import graft.operators.LpmJoin
      val dim = IpKit.withPrefixRange(
        spark.range(150000).select(
          format_string("2001:%x:%x:%x::/%d",
            col("id") % 64, (col("id") / lit(64)).cast("long") % 4096, col("id") % 16,
            lit(48) + (col("id") % 3) * lit(8)).as("prefix")), "prefix")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"v6lpm   dim rows=${dim.count()} lens=48/56/64")
      def probesOf(n: Long) = spark.range(n).select(
        col("id"),
        format_string("2001:%x:%x:%x:%x::1",
          col("id") % 64, (col("id") * 7) % 4096, col("id") % 16,
          col("id") % 7).as("ip"))
        .withColumn("addr", IpKit.inetNum(col("ip")))
      for (n <- Seq(100000L, 1000000L))
        timedCount(f"v6lpm   expansion probes=$n%8d dim=150k",
          LpmJoin.lpmByExpansionBinary(probesOf(n), Seq("id"), "addr",
            dim, "ip_start", "ip_len", payload = Seq("prefix"), tieBreakAsc = "prefix"))
      timedCount(f"v6lpm   rangeNLJ  probes=${10000}%8d dim=150k (10x fewer)",
        LpmJoin.lpmRange(probesOf(10000), Seq("id"), "addr",
          dim, "ip_start", "ip_end", "ip_len",
          extraCond = length(col("addr")) === length(col("ip_start"))))
      dim.unpersist()
    }

    // round-6: as-of join — union+window scan, so cost must track
    // (|L|+|R|) log, i.e. ~linear in the left side at fixed right.
    if (section("asof")) {
      import graft.operators.AsOfJoin
      val right = spark.range(500000).select(
        (col("id") % 5000L).as("k"),
        (col("id") * 13L % 1000000L).as("rt"),
        (col("id") % 997L).as("payload"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"asof    right rows=${right.count()} keys=5k")
      for (n <- Seq(1000000L, 10000000L)) {
        val left = spark.range(n).select(
          (col("id") % 5000L).as("k"), (col("id") * 7L % 1000000L).as("lt"))
        // count(payload), not count(*): a bare count lets Catalyst prune
        // the carry-forward window away and times an empty shell
        val t0 = System.nanoTime()
        val matched = AsOfJoin.asOf(left, right, Seq("k"), "lt", "rt", Seq("payload"))
          .agg(count(col("payload"))).collect()(0).getLong(0)
        println(f"asof    left=$n%9d right=500k               matched=$matched%10d" +
          f"  time=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      right.unpersist()
    }

    // round-6: covering join at real ROA scale. A 500k-row dim makes
    // the broadcast NLJ |facts|·|dim| range compares — the same cliff
    // the LPM NLJ hit; coveringJoinByExpansion is |facts|·|lens| hashed
    // rows and must grow LINEARLY in facts. The NLJ row runs at 100×
    // FEWER facts for the cliff compare.
    if (section("covering")) {
      import graft.operators.LpmJoin
      val roas = spark.range(500000).select(
        (lit(8) + col("id") % 17L).cast("int").as("rlen"),
        (col("id") * 2654435761L % 4294967296L).as("raddr"))
        .withColumn("rstep", pow(lit(2.0), lit(32) - col("rlen")).cast("long"))
        .withColumn("rstart", col("raddr") - col("raddr") % col("rstep"))
        .withColumn("rend", col("rstart") + col("rstep") - 1)
        .withColumn("maxlen", col("rlen") + lit(2))
        .select("rstart", "rend", "rlen", "maxlen")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"covering dim rows=${roas.count()} lens=8..24")
      def factsOf(n: Long) = spark.range(n).select(
        col("id"),
        (lit(10) + col("id") % 19L).as("len"),
        (col("id") * 7741L % 4294967296L).as("addr"))
        .withColumn("step", pow(lit(2.0), lit(32) - col("len")).cast("long"))
        .withColumn("rib_start", col("addr") - col("addr") % col("step"))
        .withColumn("rib_end", col("rib_start") + col("step") - 1)
      for (n <- Seq(1000000L, 10000000L))
        timedCount(f"covering expansion facts=$n%9d dim=500k",
          LpmJoin.coveringJoinByExpansion(factsOf(n), "rib_start", "len",
            roas, "rstart", "rlen", "maxlen", bits = 32))
      timedCount(f"covering rangeNLJ  facts=${100000}%9d dim=500k (100x fewer)",
        LpmJoin.coveringJoin(factsOf(100000), "rib_start", "rib_end", "len",
          roas, "rstart", "rend", "maxlen"))
      roas.unpersist()
    }

    // round-6: curation ops. All designed corpus-LINEAR — repetition
    // signals are explode + two hash aggregates (the explode multiplies
    // rows ~3× tokens but every downstream stage is map-side combined);
    // chunking/split are scan-stage-only; centroid outliers are one
    // posexplode aggregate + a broadcast join + a per-LABEL window.
    if (section("curation")) {
      import graft.operators.{Curation, Similarity}
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      // 10×/100× (not 1×/10×): at sf0.1 these ops are so cheap that the
      // 1× point measures codegen compile, not data — push the lower
      // point past the overhead floor so the ratio reflects growth
      for (mult <- Seq(10, 100)) {
        val docs = replicate(docs0, "doc_id", mult)
        timedCount(s"repet   ${mult}x docs n-grams 2/3/5",
          Curation.repetitionSignals(docs, "doc_id", "text"))
        timedCount(s"chunk   ${mult}x docs size=32 stride=24",
          Curation.chunkTokens(docs, "doc_id", "text", 32, 24))
        timedCount(s"split   ${mult}x docs 80/10/10",
          Curation.stratifiedSplit(docs, "text"))
        docs.unpersist()
      }
      for (mult <- Seq(10, 100)) {
        val docs = replicate(docs0, "doc_id", mult)
        timedCount(s"tfidf   ${mult}x docs top-3",
          Curation.tfIdfTopTerms(docs, "doc_id", "text", 3,
            docCount = Some(5000L * mult)))
        docs.unpersist()
      }
      val ev0r = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val ev0 = ev0r.select(col("event_id"), col("user_id"),
        graft.operators.TimeAgg.epochMicros(ev0r).as("ts_us"))
      for (mult <- Seq(10, 100)) {
        val ev = replicate(ev0, "event_id", mult)
        timedCount(s"session ${mult}x events gap=30000s",
          graft.operators.TimeAgg.sessionize(ev, Seq("user_id"), "ts_us",
            30000000000L, Seq("event_id")))
        ev.unpersist()
      }
      val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      for (mult <- Seq(10, 100)) {
        val emb = replicate(emb0, "vec_id", mult)
        timedCount(s"outlier ${mult}x embeddings 10 labels",
          Similarity.centroidOutliers(emb, "vec_id", "embedding", "label"))
        emb.unpersist()
      }
    }

    // round-7: distributed BPE training. Per-merge cost must be FLAT —
    // one linear scan of the distinct-word table per merge regardless
    // of how many merges were already learned (the localCheckpoint
    // lineage cut is what makes this true; without it merge N replans
    // N stacked UDF layers). time(2k merges) ≈ 2 × time(k merges), and
    // the per-merge second scales ~linearly in vocab rows, not worse.
    if (section("bpe")) {
      import graft.operators.Bpe
      // driver round-trips per learned merge: each trainDistributed
      // round is one collect job (+ lazy checkpoint materializations),
      // so the Spark job count ≈ rounds — the number that must stay
      // ~numMerges/|batch| for a 32k-vocab production train to be
      // feasible (sequential = one job PER merge)
      val jobCount = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobCount.incrementAndGet()
        })
      val n = 100000L
      // synthetic Zipf vocab: hex-ish words share a 17-char alphabet,
      // so pair statistics stay rich deep into the merge sequence
      val wf = spark.range(n).select(
        format_string("w%x", col("id")).as("word"),
        ((lit(n) / (col("id") + 1)) + 1).cast("long").as("freq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      wf.count()
      val merges = 1000
      val seqM = Bpe.train(wf, merges) // driver reference for overlap
      for ((exact, label) <- Seq((true, "exact"), (false, "greedy"))) {
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        val m = Bpe.trainDistributed(wf, merges, exact = exact)
        val jobs = jobCount.get() - j0
        val overlap = m.map(x => (x.left, x.right)).toSet
          .intersect(seqM.map(x => (x.left, x.right)).toSet).size
        println(f"bpe     vocab=$n%8d mode=$label%-6s merges=$merges%4d" +
          f" learned=${m.size}%4d  jobs=$jobs%5d" +
          f" (${m.size.toDouble / jobs}%5.1f merges/job)" +
          f"  seq-overlap=${overlap.toDouble / seqM.size}%5.3f" +
          f"  time=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      wf.unpersist()
    }

    if (section("funnel")) {
      // Round-8: the COMPOSED pipelines (q91 dedup keep-best, q99
      // curation funnel) at 10×/100×. Per-stage probes (curation3)
      // bound each stage alone; composition is where cap interactions
      // (LSH bucket cap × cluster size × keep rule; hash-join fan-in
      // of four verdict branches) could reintroduce a super-linear
      // tail invisible per-stage. Exact-twin replication remains the
      // candidate-stage worst case.
      import graft.operators.{Curation, Dedup}
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      for (mult <- Seq(10, 100)) {
        val docs = replicate(docs0, "doc_id", mult)
        // q91 composition: LSH pairs → connected components → keep-best
        // (cap scales ×mult as the operator contract prescribes for a
        // corpus duplicated ×mult — same rule as the curation3 rows)
        timedCount(s"keep-best ${mult}x docs",
          {
            val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
              shingleN = 3, numHashes = 12, bands = 6, threshold = 0.3,
              maxBandBucket = 50 * mult)
            val clusters = Dedup.dupClusters(pairs.select(col("id_a"), col("id_b")))
            Dedup.dedupKeepBest(docs, "doc_id", clusters, length(col("text")))
              .filter(xxhash64(col("cluster_id"), col("is_kept")) =!= 42)
          })
        // q99 composition: gopher ∧ blocklist ∧ exact-dedup canonical ∧
        // stratified split — four scan/agg branches joined on doc_id
        timedCount(s"funnel    ${mult}x docs",
          {
            val g = Curation.gopherRules(docs, "doc_id", "text", stop)
              .select(col("doc_id"), col("passes_gopher"))
            val b = Curation.blocklistFilter(docs, "doc_id", "text", Seq("dup"))
              .select(col("doc_id"), col("passes_blocklist"))
            val keepers = Dedup.exact(docs, md5(col("text")), "doc_id")
              .select(col("content_hash"), col("keeper_id"))
            val sp = Curation.stratifiedSplit(docs, "text")
              .select(col("doc_id"), col("split"))
            docs.select(col("doc_id"), md5(col("text")).as("__h"))
              .join(keepers, col("__h") === col("content_hash"), "left")
              .select(col("doc_id"),
                (col("doc_id") === col("keeper_id")).as("is_canonical"))
              .join(g, Seq("doc_id")).join(b, Seq("doc_id")).join(sp, Seq("doc_id"))
              .withColumn("selected",
                col("passes_gopher") && col("passes_blocklist") &&
                  col("is_canonical") && col("split") === "train")
              .filter(xxhash64(col("selected"), col("split")) =!= 42)
          })
        docs.unpersist()
      }
    }

    if (section("curation2")) {
      // round-6 session-3 ops. Replication makes every copy an exact
      // twin, so EVERY window/segment is corpus-duplicated — the probe
      // measures the WORST-case duplicated mass (all positions survive
      // the df filter, every island merges), not a lucky sparse case.
      import graft.operators.{Curation, Dedup}
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      for (mult <- Seq(10, 100)) {
        val docs = replicate(docs0, "doc_id", mult)
        // count() alone would let Catalyst prune the whole aggregate
        // through the final unique-key left join — the unfoldable hash
        // filter forces the computed columns to actually materialize
        timedCount(s"boiler  ${mult}x docs seg=4",
          Curation.boilerplateSegments(docs, "doc_id", "text", 4)
            .filter(xxhash64(col("clean_text"), col("n_boiler")) =!= 42))
        timedCount(s"unigram ${mult}x docs fit+score",
          Curation.unigramScore(docs, Curation.fitUnigramLm(docs, "text"),
            "doc_id", "text")
            .filter(xxhash64(col("logprob_mean").cast("string"), col("n_tokens")) =!= 42))
        timedCount(s"spans   ${mult}x docs k=6",
          Dedup.duplicateSpans(docs, "doc_id", "text", 6))
        docs.unpersist()
      }
    }
    if (section("curation3")) {
      // round-7 ops. Exact-twin replication is the WORST case for the
      // candidate stages (every copy pairs with every other inside the
      // band-bucket/term caps), so growth here bounds real-data growth.
      import graft.operators.{Dedup, Retrieval, Similarity}
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      for (mult <- Seq(10, 100)) {
        val docs = replicate(docs0, "doc_id", mult)
        // fixed caps on an exact-twin corpus zero the candidate stage
        // (every bucket/term overflows — the guard working); scaling
        // the caps with the data instead measures candidate growth
        timedCount(s"fuzzy   ${mult}x docs cap=${50 * mult}",
          Dedup.fuzzyDedupPairs(docs, "doc_id", "text",
            maxBandBucket = 50 * mult))
        // sparse cap stays sub-linear in mult: candidates grow with
        // Σ_term df² — a linearly-raised cap on a duplicated corpus
        // re-admits the quadratic (measured once: cap 400·100 at 100×
        // = 312M pairs / 468 s; that measurement is WHY the cap is an
        // absolute knob, not a fraction of the corpus)
        timedCount(s"sparse  ${mult}x docs cap=${400 * math.min(mult, 10)} t=0.9",
          Similarity.sparseCosinePairs(docs, "doc_id", "text",
            400 * math.min(mult, 10), 0.9))
        timedCount(s"bm25    ${mult}x docs q=20 k=5 cap=${500 * mult}",
          Retrieval.bm25TopK(docs.filter(col("doc_id") < 20), docs,
            "doc_id", "text", k = 5, maxTermDf = 500 * mult))
        docs.unpersist()
      }
      for (mult <- Seq(10, 100)) {
        val emb = replicate(emb0, "vec_id", mult)
        timedCount(s"kmeans  ${mult}x vecs k=8 iters=2",
          Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 2))
        emb.unpersist()
      }
    }
    if (section("sketchann")) {
      // round-8 session-2 ops: composed IVF-PQ, JL projection, the
      // two-pass rank family, and the fixed-size sketches. Docs get a
      // per-replica length suffix so quality scores SPREAD across
      // replicas (exact twins would pile every doc into one coarse
      // bucket — legal, but then the probe measures the skew caveat,
      // not the operator's growth).
      import graft.operators.{Pq, Quantiles, Sketches}
      val emb0 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      val docs0 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      for (mult <- Seq(1, 10)) {
        val emb = replicate(emb0, "vec_id", mult)
        timedCount(s"ivfpq   ${mult}x vecs m=4 ksub=8 nprobe=4/16 q=10",
          Pq.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
            "embedding", dim = 64, m = 4, ksub = 8, iters = 1,
            nClusters = 16, nprobe = 4, k = 5))
        timedCount(s"jlproj  ${mult}x vecs 64->16",
          Similarity.signProject(emb, "vec_id", "embedding", 64, 16))
        emb.unpersist()
      }
      for (mult <- Seq(1, 10, 100)) {
        val docs = (0 until mult).map(r =>
          docs0.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", concat(col("text"),
              lit(" " + Seq.fill(r % 7)("pad").mkString(" ")))))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        timedCount(s"currbin ${mult}x docs nBins=16",
          graft.operators.Curation.curriculumBins(docs, "doc_id", "text",
            Seq("the", "a", "of", "and", "to", "in", "is"), nBins = 16))
        timedCount(s"quantl  ${mult}x docs p50/p90/p99 by source",
          Quantiles.exactQuantiles(
            docs.select(col("source"),
              graft.functions.TextFns.tokenCount(col("text")).as("v")),
            "source", "v", bucketWidth = 8L,
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))))
        val occ = docs.select(explode(graft.functions.TextFns.tokens(col("text")))
          .as("term")).filter(length(col("term")) > 0)
        timedCount(s"cms     ${mult}x docs 4x64 counters",
          Sketches.cmsCounters(occ, "term", 64, 4))
        timedCount(s"hll     ${mult}x docs m=64 by source",
          Sketches.hllEstimate(Sketches.hllRegisters(
            docs.select(col("source"),
              explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
              .filter(length(col("term")) > 0),
            "term", "source", 64), "source", 64))
        docs.unpersist()
      }
    }

    if (section("session3")) {
      // round-8 session-3 ops: decontamination span masks, winnowing,
      // containment quotes (fixed probe side, growing corpus), and the
      // pure-projection shuffling/sharding family. Replica texts get a
      // per-replica token salt so gram tables grow with data (exact
      // twins would only grow the dup tail).
      val docs0 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      val bench = docs0.filter(col("doc_id") < 25)
      val quotes = graft.operators.Curation.chunkTokens(
        docs0.filter(col("doc_id") < 10), "doc_id", "text", 20, 20)
        .select((col("doc_id") * 1000 + col("start_tok")).as("quote_id"),
          col("chunk_text").as("text"))
      for (mult <- Seq(1, 10)) {
        val docs = (0 until mult).map(r =>
          docs0.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", concat(col("text"), lit(s" salt$r end$r"))))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        timedCount(s"contam  ${mult}x corpus vs fixed bench 4-grams",
          Dedup.contaminatedSpans(docs, bench, "doc_id", "text", 4))
        timedCount(s"winnow  ${mult}x corpus k=3 w=4",
          Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4))
        timedCount(s"containq ${mult}x corpus, fixed 20-tok quotes",
          Dedup.containmentJoin(quotes, docs, "quote_id", "doc_id",
            "text", gramSize = 3, dfCap = 1000, minContainment = 0.5))
        timedCount(s"vocab   ${mult}x corpus by source",
          graft.operators.Curation.vocabStats(docs, "text", "source"))
        docs.unpersist()
      }
      for (mult <- Seq(1, 10, 100)) {
        val n = 500L * mult
        val ids = spark.range(n).toDF("doc_id")
        timedCount(s"feistel ${mult}x ids, key+sort",
          graft.operators.Packing.feistelShuffle(ids, "doc_id", n, 42)
            .orderBy("shuffle_key"))
        timedCount(s"rendez  ${mult}x ids, 8 shards",
          graft.operators.Packing.rendezvousAssign(ids, "doc_id",
            (0 until 8).map(i => s"n$i")))
      }
    }

    if (section("session4")) {
      // round-8 session-4 ops: PMI pairs (the explode is the linear
      // term; pair aggregate is vocab²-bounded and map-side combined),
      // QL retrieval vs a fixed query set, embedding decontamination
      // vs a fixed benchmark, z-scores / k-anon / time split (scan +
      // tiny-agg shapes). Token-salted replicas as in session3.
      val docs0 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      val queries = docs0.filter(col("doc_id") < 20)
      for (mult <- Seq(1, 10)) {
        val docs = (0 until mult).map(r =>
          docs0.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", concat(col("text"), lit(s" salt$r end$r"))))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        timedCount(s"pmi     ${mult}x corpus w=2 minCount=5",
          graft.operators.Curation.pmiPairs(docs, "doc_id", "text", 2, 5L))
        timedCount(s"ql      ${mult}x corpus, fixed 20 queries",
          graft.operators.Retrieval.qlTopK(queries, docs, "doc_id", "text",
            k = 5, maxTermDf = 500))
        timedCount(s"zscore  ${mult}x corpus by source",
          graft.operators.Curation.sourceZScores(docs, "doc_id", "text",
            "source"))
        timedCount(s"ranknm  ${mult}x corpus by source",
          graft.operators.Quantiles.exactRanks(
            docs.select(col("doc_id"), col("source"),
              graft.functions.TextFns.tokenCount(col("text")).cast("long")
                .as("n_tok")),
            "source", "n_tok", 8L, Seq("doc_id")))
        timedCount(s"keyness ${mult}x corpus top-10/source",
          graft.operators.Curation.keyness(docs, "text", "source", 5L, 10))
        timedCount(s"mlm     ${mult}x corpus 15%",
          graft.operators.Curation.mlmMaskPlan(docs, "doc_id", "text"))
        timedCount(s"vcov    ${mult}x corpus top-1k vocab",
          graft.operators.Curation.vocabCoverage(docs, "text", "source",
            1000))
        timedCount(s"burst   ${mult}x corpus top-50 VMR",
          graft.operators.Curation.burstiness(docs, "doc_id", "text",
            500L * mult, 5L, 50))
        timedCount(s"health  ${mult}x corpus card",
          graft.operators.Curation.corpusHealthCard(docs, "doc_id",
            "text", "source", 1000))
        timedCount(s"hh      ${mult}x token stream den=100",
          graft.operators.Sketches.heavyHitters(
            docs.select(explode(graft.functions.TextFns.tokens(
              col("text"))).as("term"))
              .filter(length(col("term")) > 0), "term", 100))
        timedCount(s"cswitch ${mult}x corpus 20-tok chunks",
          graft.operators.Curation.codeSwitchSignals(docs, "doc_id",
            "text"))
        timedCount(s"spanc   ${mult}x corpus rate .05",
          graft.operators.Curation.spanCorruptPlan(docs, "doc_id",
            "text"))
        timedCount(s"pref    ${mult}x corpus by source",
          graft.operators.Curation.preferencePairs(docs, "doc_id",
            "text", "source"))
        timedCount(s"auc     ${mult}x corpus quality-vs-lang",
          graft.operators.Eval.aucExact(
            docs.select(floor(lit(1000000.0) *
              graft.functions.TextFns.qualityScore(col("text"),
                Seq("the", "a", "of", "and", "to", "in", "is")))
              .cast("long").as("s_q"), col("lang")),
            "s_q", col("lang") === "en"))
        docs.unpersist()
      }
      val emb0 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      val benchV = emb0.filter(col("vec_id") < 10)
      for (mult <- Seq(1, 10)) {
        val emb = replicate(emb0.filter(col("vec_id") >= 10), "vec_id", mult)
        timedCount(s"edecon  ${mult}x vecs vs fixed 10-vec bench",
          graft.operators.Similarity.embedDecontaminate(emb, benchV,
            "vec_id", "embedding", 0.3))
        emb.unpersist()
      }
      val ev0 = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      for (mult <- Seq(1, 10, 100)) {
        val ev = replicate(
          ev0.select(col("event_id"), col("event_type"), col("user_id"),
            operators.TimeAgg.epochMicros(ev0).as("ts_us")),
          "event_id", mult)
        timedCount(s"kanon   ${mult}x events k=5",
          graft.operators.Curation.kAnonSuppress(ev,
            Seq("event_type", "user_id"), 5))
        timedCount(s"tsplit  ${mult}x events 4/5 + embargo",
          graft.operators.Curation.timeSplit(ev, "ts_us", 4, 5,
            21600000000L))
        ev.unpersist()
      }
      // batch-3 ops: winsorize + user features on growing event logs;
      // labelDisagreement over a linearly-growing ranked frame (the
      // knn arm's own growth is probed with its gate family)
      for (mult <- Seq(1, 10, 100)) {
        val ev = replicate(
          ev0.select(col("event_id"), col("event_type"), col("user_id"),
            col("value"), operators.TimeAgg.epochMicros(ev0).as("ts_us")),
          "event_id", mult)
        timedCount(s"anomaly ${mult}x events 60s w=30",
          graft.operators.TimeAgg.rateAnomaly(ev, "event_type", "ts_us",
            60L, 30))
        timedCount(s"funnel  ${mult}x events 24h horizon",
          graft.operators.TimeAgg.funnel(ev, "user_id", "ts_us",
            "event_type", Seq("view", "click", "purchase"),
            86400000000L))
        timedCount(s"cohort  ${mult}x events daily",
          graft.operators.TimeAgg.cohortRetention(ev, "user_id", "ts_us",
            86400L))
        timedCount(s"winsor  ${mult}x events p05/p95",
          graft.operators.Quantiles.winsorize(
            ev.select(col("event_id"), col("event_type"),
              floor(col("value") * lit(100.0)).cast("long").as("vq")),
            "event_type", "vq", 1000L, (1, 20), (19, 20)))
        timedCount(s"ufeat   ${mult}x events 30-min gap",
          graft.operators.TimeAgg.userActivityFeatures(ev, "user_id",
            "ts_us", "event_type", "value", 1800000000L, Seq("event_id")))
        ev.unpersist()
      }
      for (mult <- Seq(1, 10, 100)) {
        val n = 500L * mult
        val knn = spark.range(n).select(col("id").as("query_id"))
          .crossJoin(spark.range(5).select((col("id") + 1).cast("int")
            .as("rank")))
          .withColumn("neighbor_id",
            pmod(col("query_id") * 31 + col("rank"), lit(n)))
        val labels = spark.range(n).select(col("id").as("vec_id"),
          pmod(col("id"), lit(7)).cast("int").as("label"))
        timedCount(s"lnoise  ${mult}x ranked rows (n=$n, k=5)",
          graft.operators.Similarity.labelDisagreement(knn, labels,
            "vec_id", "label", 5))
      }
    }

    // round-8 session-5 operators: interval join, sequence profiles,
    // drift, resampling, margin mining
    if (section("session5")) {
      // interval overlap: events replicated with DISJOINT time ranges
      // (each copy shifted by the span) — candidate volume must grow
      // ~linearly because per-chunk density stays constant
      for (mult <- Seq(1, 4, 16)) {
        val ev0 = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        val base = ev0.select(col("event_id"), col("user_id"),
          col("event_type"), operators.TimeAgg.epochMicros(ev0).as("ts_us"))
        val shift = 3000000000000L // ~35 days in micros, past the range
        val ev = (0 until mult).map(r => base
          .withColumn("event_id", col("event_id") + lit(r * 10000000L))
          .withColumn("ts_us", col("ts_us") + lit(r * shift)))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ev.count()
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            col("ts_us").as("ps"), (col("ts_us") + lit(7200000000L)).as("pe"))
        val r = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("rid"), col("user_id"),
            col("ts_us").as("rs"), (col("ts_us") + lit(3600000000L)).as("re"))
        timedCount(s"ivjoin  ${mult}x events 2h/1h windows",
          operators.IntervalJoin.overlapJoin(p, r, Seq("user_id"),
            "ps", "pe", "rs", "re", 3600000000L))
        // grid resample + cusum on the same replicated frame (synthetic
        // integer metric — the probe measures movement, not semantics)
        timedCount(s"grid    ${mult}x events daily LOCF+linear",
          operators.TimeAgg.gridResample(
            ev.withColumn("value_q", col("event_id") % 1000L),
            "user_id", "ts_us", "value_q", 86400000000L, "event_id"))
        val hourly = ev.withColumn("bucket",
            operators.TimeAgg.timeBucketSec(col("ts_us"), 3600))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("x"))
        timedCount(s"cusum   ${mult}x hourly buckets",
          operators.TimeAgg.cusumShift(hourly, "event_type", "bucket",
            "x", 3L, 20L))
        ev.unpersist()
      }
      // sequence profiles ride the scan: linear in corpus bytes
      for (sf <- Seq("sf0.01", "sf0.1")) {
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        timedCount(s"vgrow   $sf",
          operators.Segments.vocabGrowth(docs, "doc_id", "text"))
        timedCount(s"maxrun  $sf",
          operators.Segments.maxTokenRun(docs, "doc_id", "text"))
        timedCount(s"ksdrift $sf n_chars vs rest",
          operators.Robust.ksDrift(docs, "source", "n_chars"))
      }
      // graph ops over a synthetic kNN frame (k=5): mutual edges are
      // ≤ n·k, wedges ≤ n·k² — both linear in vertices at fixed k
      for (mult <- Seq(1, 4, 16)) {
        val n = 500L * mult
        val knn = spark.range(n).select(col("id").as("query_id"))
          .crossJoin(spark.range(5).select((col("id") + 1).as("r")))
          .withColumn("neighbor_id",
            pmod(col("query_id") * 31L + col("r") * 7L, lit(n)))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select("query_id", "neighbor_id")
        val edges = operators.Graph.mutualEdges(knn)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        timedCount(s"trigfx  ${mult}x vertices (n=$n, k=5)",
          operators.Graph.triangleStats(edges))
        timedCount(s"lprop   ${mult}x vertices 2 rounds",
          operators.Graph.labelPropagate(knn,
            spark.range(0, n, 5).select(col("id"),
              pmod(col("id"), lit(7)).cast("int").as("label")),
            "id", "label", 2))
        edges.unpersist()
      }
      // margin mining: the brute crossTopK stage is quadratic BY DESIGN
      // (baseline path; swap in ivfTopK at retrieval scale) — probe
      // documents the growth so the cap story is explicit
      for (mult <- Seq(1, 2, 4)) {
        val emb = replicate(
          spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"),
          "vec_id", mult)
        timedCount(s"margin  ${mult}x embeddings k=4 (brute baseline)",
          operators.Similarity.marginPairs(
            emb.filter(col("label") % 2 === 0),
            emb.filter(col("label") % 2 === 1),
            "vec_id", "embedding", 4, 1000000L))
        emb.unpersist()
      }
    }

    if (section("knnprof")) {
      // attribute the full-corpus kNN cost: raw pair scoring vs the
      // salted top-k reduction vs the whole cosineTopK — the graph
      // gates (q195/q210/q185/q186) all pay this prefix
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val q = broadcast(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        operators.Similarity.norm(col("embedding")).as("__qn")))
      val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        operators.Similarity.norm(col("embedding")).as("__cn"))
      val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          when(col("__qn") * col("__cn") > 0,
            operators.Similarity.dot(col("qv"), col("cv"))
              / (col("__qn") * col("__cn"))))
      timedCount("knnprof scan: 2000x2000 pair scoring only",
        scored.filter(col("cos") > -2.0))
      timedCount("knnprof scan+filter: cos > 0.9 band",
        scored.filter(col("cos") > 0.9))
      timedCount("knnprof full cosineTopK k=5",
        operators.Similarity.cosineTopK(emb, emb, "vec_id", "embedding", 5))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("__salt"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      timedCount("knnprof stage1 salt window only",
        scored.select(col("query_id"), col("cos"), col("neighbor_id"))
          .withColumn("__salt", pmod(xxhash64(col("neighbor_id")), lit(64)))
          .withColumn("__r", row_number().over(ws))
          .filter(col("__r") <= 5))
      timedCount("knnprof scan via select-only (no filter)",
        scored.select(col("query_id"), col("cos"), col("neighbor_id")))
      val narrow = scored.select(col("query_id"), col("cos"),
        col("neighbor_id"))
        .withColumn("__salt", pmod(xxhash64(col("neighbor_id")), lit(64)))
      timedCount("knnprof exchange+sort only (no window)",
        narrow.repartition(col("query_id"), col("__salt"))
          .sortWithinPartitions(col("query_id"), col("__salt"),
            col("cos").desc, col("neighbor_id"))
          .filter(col("cos").isNotNull))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      timedCount("knnprof single window by query (no salt)",
        narrow.withColumn("__r", row_number().over(wq))
          .filter(col("__r") <= 5))
      println(operators.Similarity.cosineTopK(emb, emb, "vec_id",
          "embedding", 5)
        .queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("WindowGroupLimit") || l.contains("Window")
          || l.contains("Sort") || l.contains("Exchange"))
        .mkString("\n"))
    }

    if (section("session7")) {
      // HITS rides the same Pregel shape as PageRank: linear in |E|
      for (mult <- Seq(1, 4, 16)) {
        val n = 500L * mult
        val e = spark.range(n).select(col("id").as("src"))
          .crossJoin(spark.range(5).select((col("id") + 1).as("r")))
          .withColumn("dst", pmod(col("src") * 31L + col("r") * 7L, lit(n)))
          .filter(col("dst") =!= col("src"))
          .select("src", "dst")
        timedCount(s"hits    ${mult}x vertices (n=$n, k=5) 2 rounds",
          operators.Graph.hits(e, 2))
      }
      // sorted-neighborhood: pairs = n·w by construction — replicated
      // corpora grow candidates linearly, never quadratically
      for (mult <- Seq(1, 4, 16)) {
        val docs = replicate(
          spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select(col("doc_id"), col("text")), "doc_id", mult)
        timedCount(s"snm     ${mult}x docs w=3",
          operators.Dedup.sortedNeighborhood(docs, "doc_id", "text",
            keyLen = 16, windowSize = 3, minEditSim = 0.3))
        docs.unpersist()
      }
      // one-scan audit shapes ride the corpus size
      for (sf <- Seq("sf0.01", "sf0.1")) {
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        val toksDf = docs.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        timedCount(s"jsd     $sf source vs rest",
          operators.Stats.jsDivergence(toksDf, "source", "tok"))
        timedCount(s"dngram  $sf n=1,2,3",
          operators.Segments.distinctNgramRatio(docs, "source", "text",
            Seq(1, 2, 3)))
        timedCount(s"gturing $sf per source",
          operators.Segments.goodTuring(docs, "source", "text"))
        val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        timedCount(s"pcapow  $sf dims=6 iters=3",
          operators.Stats.pcaPower(emb, "embedding", 6, 3))
      }
    }

    if (section("session6")) {
      // PageRank over the synthetic mutual-kNN graph: each round is one
      // edge join + one agg on checkpointed inputs — linear in |E|
      for (mult <- Seq(1, 4, 16)) {
        val n = 500L * mult
        val knn = spark.range(n).select(col("id").as("query_id"))
          .crossJoin(spark.range(5).select((col("id") + 1).as("r")))
          .withColumn("neighbor_id",
            pmod(col("query_id") * 31L + col("r") * 7L, lit(n)))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select("query_id", "neighbor_id")
        timedCount(s"prank   ${mult}x vertices (n=$n, k=5) 3 rounds",
          operators.Graph.pageRank(operators.Graph.mutualEdges(knn), 3))
      }
      // audit battery: one-scan shapes must ride the corpus size
      for (sf <- Seq("sf0.01", "sf0.1")) {
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        timedCount(s"chi2    $sf source x lang",
          operators.Stats.chiSquare(docs, "source", "lang"))
        timedCount(s"minfo   $sf source x lang",
          operators.Stats.mutualInfo(docs, "source", "lang"))
        timedCount(s"mannw   $sf n_chars one-vs-rest",
          operators.Stats.mannWhitney(docs, "source", "n_chars"))
        val toks = docs.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        timedCount(s"tvd     $sf term dist vs corpus",
          operators.Stats.tvdVsCorpus(toks, "source", "tok"))
        timedCount(s"ctrig   $sf top-5 per lang",
          operators.Segments.charNgramProfile(docs, "lang", "text", 3, 5))
        timedCount(s"zipf    $sf top-100 terms",
          operators.Segments.zipfSlope(docs, "text", 100))
        timedCount(s"nfcfold $sf nfc+strip_accents scan",
          docs.select(functions.TextFns.nfc(col("text")).as("a"),
            functions.TextFns.stripAccents(col("text")).as("b"))
            .filter(length(col("a")) >= 0 && length(col("b")) >= 0))
      }
      // association rules: replicated USERS (baskets grow, item vocab
      // fixed) — pair grid stays constant-size, scan grows linearly
      for (mult <- Seq(1, 4, 16)) {
        val ev = replicate(
          spark.read.parquet("/root/testdata/sf0.01/events.parquet")
            .select(col("user_id"), col("event_type")),
          "user_id", mult)
        timedCount(s"assoc   ${mult}x users minCount=5",
          operators.TimeAgg.assocRules(ev, "user_id", "event_type", 5L))
        ev.unpersist()
      }
      // Theil-Sen: pairs are quadratic IN THE BUCKET GRID by design —
      // replicated disjoint time ranges grow the grid linearly, the
      // pair frame quadratically; the probe documents that the cost is
      // grid-bound (B²), never corpus-bound
      for (mult <- Seq(1, 2, 4)) {
        val ev0 = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        val base = ev0.select(col("event_type"),
          operators.TimeAgg.epochMicros(ev0).as("ts_us"))
        val shift = 3000000000000L
        val ev = (0 until mult).map(r => base
          .withColumn("ts_us", col("ts_us") + lit(r * shift)))
          .reduce(_ unionByName _)
        val daily = ev.withColumn("bucket",
            operators.TimeAgg.timeBucketSec(col("ts_us"), 86400))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("x"))
        timedCount(s"theils  ${mult}x bucket grid (daily)",
          operators.Robust.theilSen(daily, "event_type", "bucket", "x"))
      }
    }

    if (section("layout")) {
      // file-skipping evidence: range-partition+sort events by the
      // Morton vs Hilbert key (16 "files"), then count files whose
      // per-file (u, d) min/max envelope intersects a box predicate —
      // exactly the column-stats pruning a parquet reader does. The
      // Hilbert claim: no diagonal jumps → tighter envelopes → fewer
      // files touched for the same boxes.
      val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val base = ev0
        .withColumn("u", pmod(col("user_id"), lit(256L)))
        .withColumn("d", pmod(
          operators.TimeAgg.epochMicros(ev0) / lit(86400000000L), lit(256L))
          .cast("long"))
        .select(col("u"), col("d"))
        .persist()
      base.count()
      def envelopes(key: org.apache.spark.sql.Column, nFiles: Int) =
        operators.Layout.zOrdered(base.withColumn("k", key), "k", nFiles)
          .select(col("u"), col("d")).rdd.mapPartitions { it =>
            val v = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
            if (v.isEmpty) Iterator.empty
            else Iterator.single((v.map(_._1).min, v.map(_._1).max,
              v.map(_._2).min, v.map(_._2).max))
          }.collect()
      // u spans the full 0..255 bucket range; d (epoch days mod 256)
      // only the corpus' ~month — keep boxes inside the populated region
      val boxes = for (i <- 0 until 8) yield
        (i * 29L % 224, i * 29L % 224 + 31, i * 3L % 24, i * 3L % 24 + 7)
      def touched(env: Array[(Long, Long, Long, Long)]): Double = {
        val counts = boxes.map { case (ul, uh, dl, dh) =>
          env.count { case (u0, u1, d0, d1) =>
            u1 >= ul && u0 <= uh && d1 >= dl && d0 <= dh }
        }
        counts.sum.toDouble / boxes.size
      }
      for (nFiles <- Seq(16, 64)) {
        val z = envelopes(
          operators.Layout.zOrderKey(Seq(col("u"), col("d")), 8), nFiles)
        val h = envelopes(
          operators.Layout.hilbertKey(col("u"), col("d"), 8), nFiles)
        val lin = envelopes(col("u") * 256L + col("d"), nFiles)
        println(f"layout  nFiles=$nFiles%-3d box32 avg files touched: " +
          f"zorder=${touched(z)}%5.2f  hilbert=${touched(h)}%5.2f  " +
          f"rowmajor=${touched(lin)}%5.2f")
      }
      base.unpersist()
    }

    if (section("session9")) {
      // winnowOverlapPairs: growth under corpus replication. Replicas
      // carry the SAME text, so every fingerprint's df multiplies by
      // mult — the fp-df cap must flatten pair growth the way the
      // shingle-df cap does for q23 (uncapped: pairs ~ mult², capped:
      // the viral fingerprints drop out entirely once df > cap)
      for (mult <- Seq(1, 2, 4)) {
        val docs = replicate(
          spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select(col("doc_id"), col("text")), "doc_id", mult)
        timedCount(s"winnow  ${mult}x docs capped df<=200",
          Dedup.winnowOverlapPairs(docs, "doc_id", "text", 3, 4, 1L,
            Dedup.md5Hash60, maxFpDf = 200L))
        timedCount(s"winnow  ${mult}x docs capped df<=${4 * mult}",
          Dedup.winnowOverlapPairs(docs, "doc_id", "text", 3, 4, 1L,
            Dedup.md5Hash60, maxFpDf = 4L * mult))
        docs.unpersist()
      }
      // poissonBootstrap: cost is reps × one scan — linear in reps by
      // construction; the probe documents the constant-per-rep slope.
      // (filter on the computed CI forces evaluation — a bare count()
      // would prune the aggregate, the knnprof lesson)
      for (reps <- Seq(8, 32, 128)) {
        val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        timedCount(s"pboot   reps=$reps on sf0.1 events",
          operators.Stats.poissonBootstrap(ev, "event_id", "user_id",
            reps, "probe").filter(col("ci_lo_q").isNotNull))
      }
      // textRank: the pageRank rounds run on the VOCABULARY edge frame
      // — corpus replication multiplies edge SUPPORT, not edge count,
      // so round cost should stay flat while the explode scales
      for (mult <- Seq(1, 4)) {
        val docs = replicate(
          spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select(col("doc_id"), col("text")), "doc_id", mult)
        timedCount(s"trank   ${mult}x docs window=2 minCount=5",
          operators.Segments.textRank(docs, "doc_id", "text", 2,
            5L * mult, 3).filter(col("rank_q") > 0))
        docs.unpersist()
      }
    }

    if (section("session10")) {
      // RM3: the first pass is bm25TopK (probed shape); what's new is
      // the SECOND corpus scan for feedback-doc tf — the broadcast
      // semi-join prunes to <= |queries|·fbDocs docs before the
      // explode, so corpus growth should cost ~one extra scan, flat
      // expansion output. Token-salted replicas (session3 recipe).
      val docs0 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select(col("doc_id"), col("text"))
      val queries = docs0.filter(col("doc_id") < 10)
      for (mult <- Seq(1, 4, 10)) {
        val docs = (0 until mult).map(r =>
          docs0.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", concat(col("text"), lit(s" salt$r end$r"))))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        // df cap is corpus-relative (the q23 probe convention): a
        // fixed cap on a replicated corpus just prunes the workload
        timedCount(s"rm3     ${mult}x corpus, 10 queries fb=3",
          operators.Retrieval.rm3Expansion(queries, docs, "doc_id",
            "text", fbDocs = 3, fbTerms = 10, maxTermDf = 500 * mult))
        // stupid backoff: three explodes over the fit half (gram
        // tables grow ~linearly with salted data), gram-keyed joins
        // for the scored half — expect ~linear total
        timedCount(s"sbscore ${mult}x corpus even-fit odd-score",
          operators.Curation.stupidBackoffScore(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
            docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
            "doc_id", "text").filter(col("n_trigrams") >= 0))
        docs.unpersist()
      }
      // survival: the duration GRID is span-bounded (days), so 10x
      // events should cost one bigger scan + the same windowed grid
      for (mult <- Seq(1, 10)) {
        val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        val ev = (0 until mult).map(r =>
          ev0.withColumn("user_id", col("user_id") + lit(r * 10000000L))
            .withColumn("event_id", col("event_id") + lit(r * 1000000000L)))
          .reduce(_ unionByName _)
          .withColumn("ts_us", operators.TimeAgg.epochMicros(ev0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ev.count()
        val durs = operators.TimeAgg.interEventDurations(ev, "user_id",
          "event_id", "ts_us")
          .withColumn("grp", pmod(col("user_id"), lit(2L)))
        timedCount(s"logrank ${mult}x sf0.1 events parity cohorts",
          operators.TimeAgg.logRank(durs, "__t", "__obs", "grp"))
        timedCount(s"naalen  ${mult}x sf0.1 events",
          operators.TimeAgg.nelsonAalen(durs, "__t", "__obs"))
        ev.unpersist()
      }
      // bradleyTerry: rounds run on the matchup table (bounded by
      // item-pair types, here source², never raw comparisons) — 10x
      // comparisons should cost one bigger first agg, flat rounds
      for (mult <- Seq(1, 10)) {
        val docs = (0 until mult).map(r =>
          spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select(col("doc_id"), col("source"), col("text"))
            .withColumn("doc_id", col("doc_id") + lit(r * 10000000L)))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val tk = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            graft.functions.TextFns.tokenCount(col("text")).as("score"))
        val paired = tk
          .select(col("doc_id").as("id_a"), col("source").as("src_a"),
            col("score").as("sc_a"),
            // pair WITHIN each replica block so comparisons scale
            (expr("(doc_id div 10000000L) * 10000000L") +
              pmod(expr("doc_id % 10000000L") * 7 + 13, lit(500L)))
              .as("id_b"))
          .join(tk.select(col("doc_id").as("id_b"),
            col("source").as("src_b"), col("score").as("sc_b")), Seq("id_b"))
          .filter(col("src_a") =!= col("src_b"))
        val comps = paired.select(
          when(col("sc_a") > col("sc_b"), col("src_a"))
            .otherwise(col("src_b")).as("winner"),
          when(col("sc_a") > col("sc_b"), col("src_b"))
            .otherwise(col("src_a")).as("loser"))
        timedCount(s"bterry  ${mult}x comparisons 5 MM rounds",
          operators.Eval.bradleyTerry(comps, "winner", "loser", 5))
        docs.unpersist()
      }
    }

    if (section("session11")) {
      // naive bayes: two explodes + a term-keyed join — expect
      // ~linear in corpus; the class table stays 5 rows.
      // wjaccard: per-term fan-out is (#sources with term)² — sources
      // fixed at 20, so 10x data = 10x scan, bounded join width.
      // randomization: rows×reps fan-out into ONE hash agg.
      // hodgesLehmann: value-grid² — n_chars cardinality is ~560
      // regardless of row count, so growth should be scan-only.
      for (mult <- Seq(1, 4, 10)) {
        val docs = (0 until mult).map(r =>
          spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", concat(col("text"), lit(s" salt$r end$r"))))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        timedCount(s"nbayes  ${mult}x even-fit odd-score",
          operators.Classify.naiveBayes(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 0 &&
              col("lang").isNotNull),
            docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
            "doc_id", "text", "lang"))
        timedCount(s"wjacc   ${mult}x 20-source matrix",
          operators.Curation.sourceWeightedJaccard(docs, "source", "text"))
        timedCount(s"randtst ${mult}x 200 reps",
          operators.Stats.randomizationTest(docs, "doc_id", "n_chars",
            col("lang") === "en", reps = 200))
        timedCount(s"hlmed   ${mult}x value-grid",
          operators.Robust.hodgesLehmann(docs, "lang", "n_chars"))
        docs.unpersist()
      }
    }

    if (section("session12")) {
      // modularity: symmetrize + 2 label joins + community-grid agg —
      // expect linear in edges, flat in communities (label count fixed).
      // harmonic h=2: frontier joins bounded by n·k² on a kNN graph —
      // expect ~linear in vertices.
      // ewma: per-key sequential fold over the bounded bucket grid —
      // flat in events (grid fixed), linear in keys.
      for (mult <- Seq(1, 4, 10)) {
        val emb0 = spark.read
          .parquet("/root/testdata/sf0.01/embeddings.parquet")
        val emb = (0 until mult).map(r =>
          emb0.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
            // rotate one dimension per replica so copies aren't twins
            .withColumn("embedding", org.apache.spark.sql.functions.expr(
              s"concat(slice(embedding, ${1 + (r % 4)}, " +
                s"size(embedding) - ${r % 4}), " +
                s"slice(embedding, 1, ${r % 4}))")))
          .reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        emb.count()
        val knn = operators.Similarity.cosineTopK(emb, emb, "vec_id",
          "embedding", k = 5)
        val canonical = knn.select(
            least(col("query_id"), col("neighbor_id")).as("a"),
            greatest(col("query_id"), col("neighbor_id")).as("b"))
          .distinct().localCheckpoint(eager = false)
        timedCount(s"modul   ${mult}x vertices (10 labels)",
          operators.Graph.modularity(canonical,
            emb.select(col("vec_id"), col("label")), "vec_id", "label"))
        timedCount(s"harm2   ${mult}x vertices h=2",
          operators.Graph.harmonicCentrality(canonical, hops = 2))
        emb.unpersist()
      }
      val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val evs = ev.withColumn("ts_us", operators.TimeAgg.epochMicros(ev))
      for (keys <- Seq(5, 50)) {
        val hourly = evs
          .withColumn("k", pmod(col("user_id"), lit(keys.toLong)))
          .withColumn("bucket",
            operators.TimeAgg.timeBucketSec(col("ts_us"), 3600))
          .groupBy(col("k"), col("bucket")).agg(count(lit(1)).as("x"))
        timedCount(s"ewma    $keys keys hourly grid",
          operators.TimeAgg.ewmaDyadic(hourly, "k", "bucket", "x", 3))
      }
    }

    spark.stop()
  }
}
