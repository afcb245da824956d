package graft

import org.apache.spark.sql.functions._

import graft.operators.Packing

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packByTokenBudget fills bins contiguously per shard") {
    // one shard, 4 docs × 3 tokens, budget 5:
    //   doc 0: before=0 → bin 0; doc 1: before=3 → bin 0
    //   doc 2: before=6 → bin 1; doc 3: before=9 → bin 1
    val docs = (0L to 3L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val r = Packing.packByTokenBudget(docs, "doc_id", "text", budget = 5, shards = 1)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(r === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("shards pack independently; oversize doc still gets a bin") {
    val docs = Seq(
      (0L, "one two"), (2L, "three four"),            // shard 0
      (1L, Seq.fill(20)("w").mkString(" ")), (3L, "x") // shard 1; doc 1 oversize
    ).toDF("doc_id", "text")
    val r = Packing.packByTokenBudget(docs, "doc_id", "text", budget = 8, shards = 2)
      .select("doc_id", "shard", "bin").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(0L) === ((0L, 0L)))
    assert(r(2L) === ((0L, 0L)))
    assert(r(1L) === ((1L, 0L))) // oversize doc heads its own bin
    assert(r(3L) === ((1L, 2L))) // 20 tokens before → bin 2
  }

  test("capPerGroup: deterministic k per group, stable across input order") {
    val docs = (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "source")
    val r1 = Packing.capPerGroup(docs, "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1.size === 10) // 5 per source × 2 sources
    // same result from reversed input order — hash order, not input order
    val r2 = Packing.capPerGroup(docs.orderBy(col("doc_id").desc), "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1 === r2)
    // k larger than the group keeps everything
    assert(Packing.capPerGroup(docs, "source", "doc_id", 100).count() === 40L)
  }

  test("mixByWeight: integer weights exact, fractional hash-decided, w<1 downsamples") {
    val docs = (1L to 100L).map(i => (i, if (i <= 50) "up" else "down"))
      .toDF("doc_id", "source")
    val weights = Seq(("up", 2.0), ("down", 0.5)).toDF("source", "weight")
    val r = Packing.mixByWeight(docs, "source", "doc_id", weights)
    val perDoc = r.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    // weight 2.0: exactly 2 copies each, copy_id 1 and 2
    assert((1L to 50L).forall(perDoc(_) === 2L))
    // weight 0.5: subset kept with exactly 1 copy; roughly half survive
    val kept = (51L to 100L).filter(perDoc.contains)
    assert(kept.forall(perDoc(_) === 1L))
    assert(kept.size > 10 && kept.size < 40)
    // deterministic: identical second run
    val r2 = Packing.mixByWeight(docs, "source", "doc_id", weights)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(perDoc === r2)
  }

  test("profileNumeric: exact counters, mean, percentiles; nulls counted not averaged") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", Some(4.0)),
      ("a", None), ("b", Some(10.0))).toDF("k", "v")
    val r = Packing.profileNumeric(df, Seq("k"), "v").orderBy("k").collect()
    val a = r(0)
    assert(a.getAs[Long]("n_rows") === 5L)
    assert(a.getAs[Long]("n_null") === 1L)
    assert(a.getAs[Long]("n_distinct") === 4L)
    assert(a.getAs[Double]("mean_v") === 2.5)
    assert(a.getAs[Double]("p50") === 2.5)  // interpolated between 2 and 3
    assert(math.abs(a.getAs[Double]("p95") - 3.85) < 1e-9) // pos 0.95·3 = 2.85 → interpolate
    assert(r(1).getAs[Double]("p50") === 10.0)
  }

  // ---- sampleToBudget --------------------------------------------------

  test("sampleToBudget: absent source keeps nothing, over-budget source keeps all") {
    val docs = Seq(
      (1L, "a b c", "in"), (2L, "d e", "in"),      // 5 tokens, target huge
      (3L, "f g h i", "out"), (4L, "j", "out")     // no weight entry
    ).toDF("doc_id", "text", "source")
    val r = Packing.sampleToBudget(docs, "doc_id", "text", "source",
      weights = Map("in" -> 1.0), budgetTokens = 1000L)
      .orderBy("doc_id").collect()
    assert(r.filter(_.getAs[String]("source") == "in")
      .forall(_.getAs[Boolean]("selected")))
    assert(r.filter(_.getAs[String]("source") == "out")
      .forall(row => !row.getAs[Boolean]("selected") &&
        row.getAs[Long]("tgt_tokens") == 0L))
  }

  test("sampleToBudget: target is exact ⌊budget·w⌋, not the double product") {
    // 9999999999999999 · 0.3: double arithmetic floors to 3000000000000000,
    // exact decimal to 2999999999999999 — pins the BigDecimal target path.
    // tgt·10⁶ ≈ 3·10²¹ also exceeds Long.MaxValue, exercising the
    // decimal(38,0) comparison that a long product would overflow.
    val docs = Seq((1L, "a b", "s")).toDF("doc_id", "text", "source")
    val r = Packing.sampleToBudget(docs, "doc_id", "text", "source",
      weights = Map("s" -> 0.3), budgetTokens = 9999999999999999L).collect()
    assert(r(0).getAs[Long]("tgt_tokens") === 2999999999999999L)
    assert(r(0).getAs[Boolean]("selected")) // mass 2 ≪ target → keep all
  }

  test("temperatureMix: isqrt-proportional targets, every source participates") {
    // masses: a=16, b=4, c=1 → isqrt 4,2,1, denom 7
    // budget 700 → targets ⌊700·4/7⌋=400, ⌊700·2/7⌋=200, ⌊700·1/7⌋=100
    val docs = Seq(
      (1L, Seq.fill(16)("w").mkString(" "), "a"),
      (2L, Seq.fill(4)("w").mkString(" "), "b"),
      (3L, "w", "c")).toDF("doc_id", "text", "source")
    val r = Packing.temperatureMix(docs, "doc_id", "text", "source", 700L)
      .orderBy("doc_id").collect()
    assert(r.map(x => x.getAs[String]("source") -> x.getAs[Long]("tgt_tokens")).toMap
      === Map("a" -> 400L, "b" -> 200L, "c" -> 100L))
    // α=0.5 flattening: the raw-mass share of a is 16/21 ≈ 0.76, the
    // flattened share is 4/7 ≈ 0.57 — tail sources gained
    assert(r.forall(_.getAs[Long]("tgt_tokens") > 0L))
  }

  test("temperatureMix: deterministic, partition-order free, empty corpus rejected") {
    val docs = (1L to 120L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "), s"s${i % 5}"))
      .toDF("doc_id", "text", "source")
    val one = Packing.temperatureMix(docs.coalesce(1), "doc_id", "text",
      "source", 200L).orderBy("doc_id").collect().toSeq
    val many = Packing.temperatureMix(docs.repartition(13), "doc_id", "text",
      "source", 200L).orderBy("doc_id").collect().toSeq
    assert(one === many)
    intercept[IllegalArgumentException] {
      Packing.temperatureMix(docs.filter(col("doc_id") < 0), "doc_id", "text",
        "source", 200L)
    }
  }

  test("sampleToBudget: deterministic and partition-order free") {
    val docs = (1L to 200L)
      .map(i => (i, Seq.fill((i % 9 + 1).toInt)("w").mkString(" "), s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val w = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125)
    val one = Packing.sampleToBudget(docs.coalesce(1), "doc_id", "text", "source",
      w, 300L).orderBy("doc_id").collect().toSeq
    val many = Packing.sampleToBudget(docs.repartition(13), "doc_id", "text",
      "source", w, 300L).orderBy("doc_id").collect().toSeq
    assert(one === many)
    // a mid-rate source actually splits: some kept, some dropped
    val s0 = one.filter(_.getAs[String]("source") == "src0")
    assert(s0.exists(_.getAs[Boolean]("selected")) &&
      s0.exists(!_.getAs[Boolean]("selected")))
  }

  // ---- repeatToBudget ----------------------------------------------------

  test("repeatToBudget: hand-computed whole epochs and remainder split") {
    // srcA mass = 5 tokens, target ⌊23·1.0⌋ = 23 → full = 4, rem = 3;
    // srcB mass = 4, unweighted → full = 0, repeats 0
    val docs = Seq((1L, "a b c", "srcA"), (2L, "d e", "srcA"),
      (3L, "f g h i", "srcB")).toDF("doc_id", "text", "source")
    val r = Packing.repeatToBudget(docs, "doc_id", "text", "source",
      Map("srcA" -> 1.0), 23L).orderBy("doc_id").collect()
    val a = r.filter(_.getAs[String]("source") == "srcA")
    assert(a.forall(_.getAs[Long]("full_epochs") == 4L))
    assert(a.forall(_.getAs[Long]("tgt_tokens") == 23L))
    assert(a.forall(_.getAs[Long]("src_tokens") == 5L))
    assert(a.forall(x => x.getAs[Long]("n_repeats") == 4L ||
      x.getAs[Long]("n_repeats") == 5L))
    val b = r.filter(_.getAs[String]("source") == "srcB")
    assert(b.forall(_.getAs[Long]("full_epochs") == 0L))
    assert(b.forall(_.getAs[Long]("n_repeats") == 0L))
  }

  test("repeatToBudget: remainder selection matches the sampleToTargets kernel") {
    val docs = (1L to 80L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "), s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    // budget below one epoch for every source ⇒ full = 0 everywhere and
    // n_repeats ∈ {0,1} must equal sampleToBudget's keep/drop decision
    val w = Map("src0" -> 0.4, "src1" -> 0.3)
    val rep = Packing.repeatToBudget(docs, "doc_id", "text", "source", w, 100L)
      .orderBy("doc_id").collect()
    val sel = Packing.sampleToBudget(docs, "doc_id", "text", "source", w, 100L)
      .orderBy("doc_id").collect()
    assert(rep.forall(_.getAs[Long]("full_epochs") == 0L))
    assert(rep.map(_.getAs[Long]("n_repeats")).toSeq ===
      sel.map(r => if (r.getAs[Boolean]("selected")) 1L else 0L).toSeq)
  }

  test("repeatToBudget: exact ⌊budget·w⌋ targets and partition-order freedom") {
    val docs = (1L to 60L)
      .map(i => (i, "x " * (i % 5 + 1).toInt, s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val one = Packing.repeatToBudget(docs.coalesce(1), "doc_id", "text",
      "source", Map("s0" -> 0.3, "s1" -> 0.7), 1000001L)
      .orderBy("doc_id").collect().toSeq
    val many = Packing.repeatToBudget(docs.repartition(9), "doc_id", "text",
      "source", Map("s0" -> 0.3, "s1" -> 0.7), 1000001L)
      .orderBy("doc_id").collect().toSeq
    assert(one === many)
    // decimal targets: 1000001·0.3 = 300000.3 floors to 300000 exactly
    assert(one.filter(_.getAs[String]("source") == "s0")
      .forall(_.getAs[Long]("tgt_tokens") == 300000L))
    assert(one.filter(_.getAs[String]("source") == "s1")
      .forall(_.getAs[Long]("tgt_tokens") == 700000L))
  }

  test("feistelShuffleKey: bijection on the full a*b domain, injection on [0,n)") {
    val n = 1000L
    val a = math.ceil(math.sqrt(n.toDouble)).toLong // 32
    val b = (n + a - 1) / a                         // 32
    val m = a * b
    // over the FULL domain the network is a permutation: every key in
    // [0, m) appears exactly once
    val full = spark.range(m).select(
      Packing.feistelShuffleKey(col("id"), n, seed = 7).as("k"))
    assert(full.agg(countDistinct(col("k"))).first().getLong(0) === m)
    assert(full.agg(min(col("k")), max(col("k"))).first() ===
      org.apache.spark.sql.Row(0L, m - 1))
    // restricted to [0, n) it is injective (a sub-permutation)
    val sub = spark.range(n).select(
      Packing.feistelShuffleKey(col("id"), n, seed = 7).as("k"))
    assert(sub.agg(countDistinct(col("k"))).first().getLong(0) === n)
  }

  test("feistelShuffle: deterministic per seed, different across seeds") {
    val docs = spark.range(257).toDF("doc_id")
    def order(seed: Long): Seq[Long] =
      Packing.feistelShuffle(docs, "doc_id", 257L, seed)
        .orderBy("shuffle_key").select("doc_id")
        .as[Long].collect().toSeq
    assert(order(3) === order(3))             // retry-stable
    assert(order(3) !== order(4))             // epochs differ
    assert(order(3).sorted === (0L until 257L)) // still a full pass
    // the shuffle actually shuffles: identity order would be useless
    assert(order(3) !== (0L until 257L))
  }

  test("weightedSample: weight-proportional inclusion, deterministic, no replacement") {
    // 100 heavy docs (w=9) + 100 light (w=1): a 40-sample should be
    // dominated by heavy docs (E[heavy] = 40·9/ (9+1) scaled ≈ 36 ±
    // binomial noise; the draw is DETERMINISTIC given the hash so the
    // assertion is stable)
    val docs = (1L to 200L)
      .map(i => (i, if (i <= 100) "h " * 9 else "l"))
      .toDF("doc_id", "text")
    val s1 = Packing.weightedSample(docs, "doc_id",
      graft.functions.TextFns.tokenCount(col("text")), k = 40)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1.distinct.size === 40)             // without replacement
    assert(s1.count(_ <= 100L) >= 30)           // heavy docs dominate
    // same salt → same sample regardless of partitioning; new salt →
    // a fresh draw
    val s2 = Packing.weightedSample(docs.repartition(13), "doc_id",
      graft.functions.TextFns.tokenCount(col("text")), k = 40)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1.toSet === s2.toSet)
    val s3 = Packing.weightedSample(docs, "doc_id",
      graft.functions.TextFns.tokenCount(col("text")), k = 40, salt = "es2")
      .select("doc_id").as[Long].collect().toSeq
    assert(s3.toSet !== s1.toSet)
    // zero-weight rows can never be drawn
    val withEmpty = docs.union(Seq((999L, "")).toDF("doc_id", "text"))
    val s4 = Packing.weightedSample(withEmpty, "doc_id",
      graft.functions.TextFns.tokenCount(col("text")), k = 201)
      .select("doc_id").as[Long].collect().toSeq
    assert(!s4.contains(999L) && s4.size === 200)
  }

  test("lengthBucketedBatches: hand-computed batches; beats naive id-order padding") {
    // lengths: doc1→5, doc2→5, doc3→3, doc4→1; B=2
    // sorted (len desc, id): [1,2], [3,4] → waste 0 and (3*2-4)=2
    val docs = Seq((1L, "a a a a a"), (2L, "b b b b b"), (3L, "c c c"),
      (4L, "d")).toDF("doc_id", "text")
    val r = Packing.lengthBucketedBatches(docs, "doc_id", "text", 2)
      .orderBy("batch_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r === Seq((0L, 2L, 5L, 10L, 10L, 0L), (1L, 2L, 3L, 4L, 6L, 2L)))
    // interleaved long/short docs: naive id-order batching pads every
    // batch to 9; bucketed batching separates the length classes
    val skew = (1L to 32L)
      .map(i => (i, if (i % 2 == 0) "x " * 9 else "y"))
      .toDF("doc_id", "text")
    val bucketedWaste = Packing.lengthBucketedBatches(skew, "doc_id", "text", 4)
      .agg(sum(col("waste_tokens"))).first().getLong(0)
    val naiveWaste = skew
      .select(graft.functions.TextFns.tokenCount(col("text")).cast("long")
        .as("t"), ((col("doc_id") - 1) / 4).cast("long").as("b"))
      .groupBy("b").agg((max(col("t")) * count(lit(1)) - sum(col("t"))).as("w"))
      .agg(sum(col("w"))).first().getLong(0)
    assert(bucketedWaste === 0L)
    assert(naiveWaste > 0L)
  }

  test("strideInterleave: every prefix holds the target mixture; exact vt") {
    // weights a:2, b:1 → lcm 2, strides a=1, b=2
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (5L, "b"), (6L, "b"), (7L, "c")).toDF("doc_id", "source")
    val r = Packing.strideInterleave(docs, "doc_id", "source",
      Map("a" -> 2, "b" -> 1))
      .select("source", "doc_id", "vt").as[(String, Long, Long)]
      .collect().toSeq
    // vt: a→1,2,3,4  b→2,4; order (vt, source): a a b a a b; 'c' dropped
    assert(r === Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 5L, 2L),
      ("a", 3L, 3L), ("a", 4L, 4L), ("b", 6L, 4L)))
    // the prefix property: after any even prefix, a:b counts are 2:1
    val srcs = r.map(_._1)
    assert(srcs.take(3).count(_ == "a") === 2)
    assert(srcs.take(6).count(_ == "a") === 4)
  }

  test("rendezvousAssign: only the removed shard's keys move") {
    val keys = spark.range(300).toDF("k")
    val all = (0 until 5).map(i => s"sh$i")
    val with5 = Packing.rendezvousAssign(keys, "k", all)
      .as[(Long, String)].collect().toMap
    val with4 = Packing.rendezvousAssign(keys, "k", all.filterNot(_ == "sh2"))
      .as[(Long, String)].collect().toMap
    with5.foreach { case (k, s) =>
      if (s == "sh2") assert(with4(k) !== "sh2")
      else assert(with4(k) === s) // untouched assignments are stable
    }
    // and the hash spreads: every shard owns something at n=300
    assert(with5.values.toSet === all.toSet)
  }

  test("feistelShuffle: no shuffle in the key plan (pure projection)") {
    val docs = spark.range(100).toDF("doc_id")
    val plan = Packing.feistelShuffle(docs, "doc_id", 100L, seed = 1)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"))
    assert(!plan.toLowerCase.contains("repartition"))
  }

  test("neymanAllocation: budget follows the spread, caps at stratum size") {
    // A: values {0, 10} → N·σ weight = √(2·100 − 100) = 10
    // B: constant {5, 5} → weight 0
    val df = Seq(("A", 0L), ("A", 10L), ("B", 5L), ("B", 5L))
      .toDF("src", "v")
    val out = Packing.neymanAllocation(df, "src", "v", totalN = 5L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out("A") === ((2L, 10L, 5L, 2L))) // target 5, capped at 2 docs
    assert(out("B") === ((2L, 0L, 0L, 0L)))
  }

  test("neymanAllocation: largest-remainder apportionment sums to totalN") {
    // weights 1:1:1 over totalN=10 → base 3 each, extra to smallest name
    val df = Seq(("a", 0L), ("a", 2L), ("b", 0L), ("b", 2L),
      ("c", 0L), ("c", 2L)).toDF("src", "v")
    val out = Packing.neymanAllocation(df, "src", "v", totalN = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(out.values.sum === 10L)
    assert(out("a") === 4L) // tie on remainder → name ascending
    assert(out("b") === 3L)
    assert(out("c") === 3L)
  }

  test("neymanAllocation: all-constant strata fall back to proportional") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("b", 1L))
      .toDF("src", "v")
    val out = Packing.neymanAllocation(df, "src", "v", totalN = 4L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(out("a") === ((3L, 3L))) // weight = N_h when every σ = 0
    assert(out("b") === ((1L, 1L)))
  }


  test("systematicSample: equal sizes pick every (total/n)-th item, " +
      "weights = total/(n*size)") {
    val df = (1L to 4L).map(i => (i, 10L)).toDF("doc_id", "n_chars")
    val out = Packing.systematicSample(df, "doc_id", "n_chars", n = 2,
      offset = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDecimal(3).longValue)).toList
    assert(out === List((1L, 1L, 2000000L), (3L, 1L, 2000000L)))
  }

  test("systematicSample: an item wider than the stride is drawn " +
      "multiple times with weight capped at 1") {
    val df = Seq((1L, 5L), (2L, 100L), (3L, 5L)).toDF("doc_id", "n_chars")
    val out = Packing.systematicSample(df, "doc_id", "n_chars", n = 4,
      offset = 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDecimal(3).longValue))).toMap
    // total=110, grid 0/27.5/55/82.5: doc1 covers 0; doc2 covers the rest
    assert(out === Map(1L -> ((1L, 5500000L)), 2L -> ((3L, 1000000L))))
    assert(out.values.map(_._1).sum === 4L)
  }

  test("systematicSample: draw count is exactly n and zero-size rows " +
      "never selected, across offsets and bucket widths") {
    val df = (1L to 50L).map(i => (i, if (i % 7 == 0) 0L else i % 5 + 1))
      .toDF("doc_id", "n_chars")
    for (off <- Seq(0L, 3L, 17L); bw <- Seq(4L, 64L)) {
      val out = Packing.systematicSample(df, "doc_id", "n_chars", n = 10,
        offset = off, idBucketWidth = bw).collect()
      assert(out.map(_.getLong(2)).sum === 10L, s"off=$off bw=$bw")
      assert(out.forall(_.getLong(1) > 0L))
    }
  }

  // ---- temperatureMix --------------------------------------------------------

  test("temperatureMix: alpha=1/2 compresses the mixture toward uniform") {
    // sizes 10000 vs 100: natural ratio 100:1, sqrt ratio 10:1
    val df = (1L to 10000L).map(i => ("big", 1L)) ++
      (1L to 100L).map(i => ("small", 1L))
    val out = Packing.temperatureMix(df.toDF("source", "sz"),
        "source", "sz")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (bigT, bigS, bigW, bigNat) = out("big")
    val (smallT, smallS, smallW, smallNat) = out("small")
    assert(bigT === 10000L && smallT === 100L)
    assert(bigS === 100000000L && smallS === 10000000L) // exact sqrts
    assert(bigW === 909090L && smallW === 90909L)       // 10:1 smoothed
    assert(bigNat === 990099L && smallNat === 9900L)    // 100:1 natural
  }

  test("negativeSampling: count^(3/4) via exact sqrt chain, 1e-9 shares") {
    val docs = Seq((1L, "a a a a b")).toDF("doc_id", "text")
    val out = Packing.negativeSampling(docs, "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 4^(3/4) = 2*sqrt(2): floor(1e6 * 2.8284271247461903) = 2828427
    assert(out("a") === ((4L, 2828427L,
      (BigInt(1000000000) * 2828427 / 3828427).toLong)))
    assert(out("b") === ((1L, 1000000L,
      (BigInt(1000000000) * 1000000 / 3828427).toLong)))
    val s = out.values.map(_._3).sum
    assert(s > 999999997L && s <= 1000000000L)
  }

  test("temperatureMix: weights are deterministic and sum to ~1e6") {
    val df = Seq(("a", 7L), ("b", 19L), ("c", 3L), ("a", 11L))
      .toDF("source", "sz")
    val w1 = Packing.temperatureMix(df, "source", "sz")
      .collect().map(r => (r.getString(0), r.getLong(4))).sortBy(_._1)
    val w2 = Packing.temperatureMix(df, "source", "sz")
      .collect().map(r => (r.getString(0), r.getLong(4))).sortBy(_._1)
    assert(w1.toSeq === w2.toSeq)
    val s = w1.map(_._2).sum
    assert(s > 1000000L - 3 && s <= 1000000L, "floor-div loses < k units")
  }

  // ------------------------------------------------- unimaxAllocation

  private def unimax(masses: Seq[(String, Int)], budget: Long,
                     epochs: Int): Map[String, (Long, Long)] = {
    // one doc per (source, tokens) with that many single-char words
    val docs = masses.zipWithIndex.map { case ((s, m), i) =>
      (i.toLong, Seq.fill(m)("w").mkString(" "), s)
    }.toDF("doc_id", "text", "source")
    Packing.unimaxAllocation(docs, "doc_id", "text", "source",
        budget, epochs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4)))).toMap
  }

  test("unimaxAllocation: water-filling saturates small sources, " +
      "splits the rest evenly") {
    // caps 10, 20, 100 at 1 epoch, budget 60: 10 saturated
    // (10+20·2? A-check), then fair share of the rest
    // A_1 = 10·3 = 30 <= 60 sat; A_2 = 10 + 20·2 = 50 <= 60 sat;
    // A_3 = 30 + 100 = 130 > 60 -> fair = (60-30) div 1 = 30
    val out = unimax(Seq(("s", 10), ("m", 20), ("l", 100)), 60L, 1)
    assert(out("s") === ((10L, 1000000L)))
    assert(out("m") === ((20L, 1000000L)))
    assert(out("l") === ((30L, 300000L)))
  }

  test("unimaxAllocation: budget above total capacity saturates all") {
    val out = unimax(Seq(("a", 5), ("b", 7)), 1000L, 2)
    assert(out("a") === ((10L, 2000000L)))
    assert(out("b") === ((14L, 2000000L)))
  }

  test("unimaxAllocation: tiny budget gives every source the same " +
      "fair share, remainder unallocated") {
    val out = unimax(Seq(("a", 50), ("b", 60), ("c", 70)), 10L, 1)
    // A_1 = 150 > 10 -> none saturated -> each gets 10 div 3 = 3
    assert(out.values.map(_._1).toSeq.sorted === Seq(3L, 3L, 3L))
  }

  test("ipfWeights: balanced table is a fixed point; skewed 2x2 " +
      "matches a BigInt replay of the integer recursion") {
    val Q = BigInt(1000000L)
    val balanced = Seq(("r1", "a"), ("r1", "b"), ("r2", "a"), ("r2", "b"))
      .toDF("r", "c")
    val rb = Packing.ipfWeights(balanced, "r", "c", rounds = 3)
      .collect()
    assert(rb.length === 4 && rb.forall(_.getLong(3) === Q.toLong))
    // counts [[2,1],[1,1]]: replay the exact div chain
    val skew = (Seq.fill(2)(("r1", "a")) ++ Seq(("r1", "b"), ("r2", "a"),
      ("r2", "b"))).toDF("r", "c")
    val out = Packing.ipfWeights(skew, "r", "c", rounds = 3)
      .collect().map(r0 => (r0.getString(0), r0.getString(1)) ->
        BigInt(r0.getLong(3))).toMap
    var w = Map(("r1", "a") -> Q, ("r1", "b") -> Q,
      ("r2", "a") -> Q, ("r2", "b") -> Q)
    val n = Map(("r1", "a") -> BigInt(2), ("r1", "b") -> BigInt(1),
      ("r2", "a") -> BigInt(1), ("r2", "b") -> BigInt(1))
    val (bigN, bigR, bigC) = (BigInt(5), BigInt(2), BigInt(2))
    def stepBy(key: ((String, String)) => String, k: BigInt): Unit = {
      // keys form a SET — map to products via a Seq first, or equal
      // per-cell masses collapse before the sum (the Set.map trap)
      val mass = w.keys.toSeq.groupBy(key).map { case (g, cells) =>
        g -> cells.map(cl => n(cl) * w(cl)).sum }
      w = w.map { case (cl, wv) =>
        cl -> (wv * bigN * Q) / (k * mass(key(cl))) }
    }
    (1 to 3).foreach { _ => stepBy(_._1, bigR); stepBy(_._2, bigC) }
    assert(out === w)
    // after the final column step every column's weighted mass sits
    // within one floor per cell of the uniform target N*Q/C
    val colMass = w.keys.groupBy(_._2).map { case (cv, cells) =>
      cv -> cells.map(cl => n(cl) * w(cl)).sum }
    colMass.values.foreach(m =>
      assert((bigN * Q / bigC - m) >= 0 && (bigN * Q / bigC - m) < 4))
  }

  test("ipfWeights: a singleton cell in a large corpus rakes to its " +
      "huge upweight exactly (decimal carry, no int64 wrap)") {
    // 100k rows in (a,x) + 1 row in (b,y): the row step must hand the
    // singleton its whole marginal target, w ~ N*Q/2 = 5e10 — a 50,000x
    // upweight whose div chain runs through the decimal(38,0) carry.
    // BigInt replay pins every floor; the old long-per-half-step code
    // would only diverge past int64 (N > ~1.8e13 at Q=1e6, untestable
    // in-spec), but this pins the exact arithmetic on the same path.
    val nBig = 100000L
    val df = spark.range(nBig + 1).select(
      when(col("id") < nBig, "a").otherwise("b").as("r"),
      when(col("id") < nBig, "x").otherwise("y").as("c"))
    val out = Packing.ipfWeights(df, "r", "c", rounds = 2)
      .collect().map(r0 => (r0.getString(0), r0.getString(1)) ->
        BigInt(r0.getLong(3))).toMap
    val Q = BigInt(1000000L)
    var w = Map(("a", "x") -> Q, ("b", "y") -> Q)
    val n = Map(("a", "x") -> BigInt(nBig), ("b", "y") -> BigInt(1))
    val (bigN, k) = (BigInt(nBig + 1), BigInt(2))
    def stepBy(key: ((String, String)) => String): Unit = {
      val mass = w.keys.toSeq.groupBy(key).map { case (g, cells) =>
        g -> cells.map(cl => n(cl) * w(cl)).sum }
      w = w.map { case (cl, wv) =>
        cl -> (wv * bigN * Q) / (k * mass(key(cl))) }
    }
    (1 to 2).foreach { _ => stepBy(_._1); stepBy(_._2) }
    assert(out === w)
    // the singleton's weight really is in the ~N*Q/2 regime — the
    // whole point of the fixture
    assert(w(("b", "y")) > Q * 10000)
  }
}
