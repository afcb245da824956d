package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Longest-prefix-match and covering-prefix (containment) joins.
  *
  * Reference semantics:
  *  - LPM: `find_geo_ip(ip)` — `SELECT ip FROM geo_ip WHERE ip && addr
  *    ORDER BY ip desc LIMIT 1` (`/root/reference/database/1_base.sql:66-81`),
  *    i.e. the most-specific stored prefix containing the probe.
  *  - Covering-prefix interval join (RPKI): `p.prefix >>= r.prefix AND
  *    r.prefix_len BETWEEN p.prefix_len AND p.prefix_len_max`
  *    (`2_aggregations.sql:260-265,338-343`).
  *
  * Both operate on the canonical address forms of [[graft.ip.IpKit]]:
  * numeric (start, end, len) for v4, fixed-length binary for v6 and
  * mixed families. Three LPM strategies:
  *
  *  1. `lpmRange` — range-predicate join + `row_number`. The dim side
  *     (geo table, ROAs) is small → `broadcast` makes this a broadcast
  *     nested-loop that never shuffles the 100 TB probe side. Right for
  *     dims up to ~1M rows, either address form.
  *  2. `lpmByExpansionAgg` — explode each numeric probe into one
  *     candidate ancestor per dim-present length and equi-join on
  *     (start, len); the winner is one max() hash aggregate. Scales to
  *     huge dim tables where a nested loop would be quadratic.
  *  3. `lpmByExpansionBinary` — the same expansion over the binary form,
  *     for v6 and mixed families.
  *
  * The covering join has the same split: `coveringJoin` (broadcast
  * range NLJ) and `coveringJoinByExpansion` (numeric equi-join).
  */
object LpmJoin {

  /** Strategy 1: broadcast range join + top-1 per probe.
    *
    * @param probes   fact side; must carry `probeKey` (unique) + `probeAddr`
    * @param prefixes dim side with numeric [startCol, endCol] + lenCol
    * @param tieBreak extra deterministic ordering after len desc
    * @param extraCond additional join predicate ANDed to the range test —
    *                  e.g. an address-family guard when probe and dim mix
    *                  v4 (4-byte) and v6 (16-byte) binary forms, where raw
    *                  lexicographic compare would produce cross-family
    *                  false matches (reference `inet &&` never matches
    *                  across families, `1_base.sql:66-81`)
    */
  def lpmRange(probes: DataFrame, probeKey: Seq[String], probeAddr: String,
               prefixes: DataFrame, startCol: String, endCol: String, lenCol: String,
               tieBreak: Seq[Column] = Nil, broadcastDim: Boolean = true,
               extraCond: Column = lit(true)): DataFrame = {
    val dim  = if (broadcastDim) broadcast(prefixes) else prefixes
    val cond = col(probeAddr) >= col(startCol) && col(probeAddr) <= col(endCol) && extraCond
    val w = Window
      .partitionBy(probeKey.map(col): _*)
      .orderBy(col(lenCol).desc +: col(startCol).desc +: tieBreak: _*)
    probes
      .join(dim, cond, "inner")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Static candidate array: one (len, alignedStart) struct per length
    * ACTUALLY PRESENT in the dim (collected once — the distinct-length
    * set of a routing table is tiny, e.g. ~25 for real BGP). Static
    * literals keep the whole expansion inside whole-stage codegen
    * (loop-unrolled); the generic `transform(sequence(...))` lambda is
    * interpreted and ~10× slower at 10M+ probes.
    */
  private def candidateArray(probeAddr: String, lens: Seq[Int], bits: Int): Column = {
    val structs = lens.sorted.map { l =>
      val step = 1L << (bits - l)
      struct(lit(l).as("len"),
        (col(probeAddr) - pmod(col(probeAddr), lit(step))).as("start"))
    }
    array(structs: _*)
  }

  private def dimLens(prefixes: DataFrame, lenCol: String): Seq[Int] =
    prefixes.select(col(lenCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Strategy 2: ancestor-expansion LPM — equi-join scale path.
    *
    * Probe address `a` can only match a dim prefix at length L whose
    * start is `(a >> (B-L)) << (B-L)`; generating that candidate per
    * dim-present length turns LPM into an equi-join on (start, len)
    * followed by max-length-wins. `bits` = size of the address space
    * (32, or smaller for test domains). The dim is first deduped to one
    * row per (start, len) keeping the minimum of `tieBreakAsc` (plus its
    * payload), then the per-probe winner is a single hash aggregate
    * instead of a window sort. Map-side partial aggregation means the
    * shuffle carries one row per probe. Result is identical to
    * `lpmRange` with tieBreak = (tieBreakAsc asc).
    *
    * @param payload dim columns to carry to the output (must include
    *                tieBreakAsc if wanted in the result)
    */
  def lpmByExpansionAgg(probes: DataFrame, probeKey: Seq[String], probeAddr: String,
                        prefixes: DataFrame, startCol: String, lenCol: String,
                        bits: Int, payload: Seq[String], tieBreakAsc: String,
                        broadcastDim: Boolean = true): DataFrame = {
    // winner selection packs (len, start) into ONE bigint so the
    // per-probe reduction is a plain codegen'd max() HASH aggregate —
    // max_by over a struct would force a SortAggregate (struct buffer),
    // i.e. a full sort of all matched rows. Needs len+addr to fit a
    // long: 6 bits of len + `bits` of start ≤ 63.
    require(bits <= 57, s"lpmByExpansionAgg supports numeric spaces up to 57 bits (got $bits); use lpmRange on the binary form for IPv6")
    val dimDedup = prefixes
      .groupBy(col(startCol), col(lenCol))
      .agg(min_by(struct(payload.map(col): _*), col(tieBreakAsc)).as("__payload"))
    val dim = if (broadcastDim) broadcast(dimDedup) else dimDedup
    val candidates = probes.withColumn(
      "__cand",
      explode(candidateArray(probeAddr, dimLens(prefixes, lenCol), bits)))
    val probeCarry = probes.columns.filterNot(probeKey.contains)
    val packed = candidates
      .join(dim,
        col("__cand.len") === col(lenCol) && col("__cand.start") === col(startCol),
        "left_semi")
      .withColumn("__pack",
        shiftleft(col("__cand.len").cast("long"), bits) + col("__cand.start"))
    val winners = packed
      .groupBy(probeKey.map(col): _*)
      .agg(max(col("__pack")).as("__pk"),
        probeCarry.toIndexedSeq.map(c => first(col(c)).as(c)): _*)
      .withColumn(lenCol, shiftrightunsigned(col("__pk"), bits).cast("int"))
      .withColumn(startCol, col("__pk") - shiftleft(shiftrightunsigned(col("__pk"), bits), bits))
      .drop("__pk")
    winners
      .join(dim, Seq(startCol, lenCol))
      .select(probeKey.map(col) ++ probeCarry.map(col) ++
        Seq(col(lenCol), col(startCol)) ++
        payload.filterNot(p => p == lenCol || p == startCol)
          .map(p => col(s"__payload.$p").as(p)): _*)
  }

  /** Expansion LPM over the fixed-length BINARY address form — the
    * IPv6 (and mixed-family) equi-join scale path.
    *
    * The 62-bit limit of the numeric variants comes from long
    * arithmetic; the binary form has no such limit — the aligned
    * ancestor at each dim-present length is computed by the codegen'd
    * [[graft.plans.InetAligned]] (mask bytes, zero host bits), and the
    * join is a plain equi-join on (start: Binary, len: Int). Winner
    * selection exploits a structural fact: within one probe each
    * candidate LENGTH yields exactly one aligned start, so the LPM
    * winner is just `max(len)` — a codegen'd int hash aggregate with
    * map-side partial aggregation (the shuffle carries one row per
    * probe) — and the winning start is RECOMPUTED from the probe
    * address afterwards instead of being carried through the shuffle.
    * No 128-bit packing, no window sort, no broadcast nested-loop: at
    * 10⁹ probes × 10⁶-row v6 dim this is |probes|·|lens| hashed rows
    * instead of |probes|·|dim| range comparisons.
    *
    * Family safety is structural: binary widths are fixed per family
    * (4 vs 16 bytes), so cross-family equality is impossible, and a
    * candidate length beyond the probe's width yields null (dropped by
    * the pre-join filter). IPv4-mapped probes are 16-byte and so match
    * only v6 dims — Postgres `family()` semantics
    * (`/root/reference/database/1_base.sql:66-81`).
    *
    * @param payload dim columns carried to the output (must include
    *                tieBreakAsc if wanted in the result)
    */
  def lpmByExpansionBinary(probes: DataFrame, probeKey: Seq[String], probeAddr: String,
                           prefixes: DataFrame, startCol: String, lenCol: String,
                           payload: Seq[String], tieBreakAsc: String,
                           broadcastDim: Boolean = true): DataFrame = {
    // dirty dim rows (unparseable prefix → null start/len from the
    // IpKit derivations) simply never match, exactly as in lpmRange —
    // they must not NPE the length collect or poison the join keys
    val cleanDim = prefixes.filter(col(startCol).isNotNull && col(lenCol).isNotNull)
    val dimDedup = cleanDim
      .groupBy(col(startCol), col(lenCol))
      .agg(min_by(struct(payload.map(col): _*), col(tieBreakAsc)).as("__payload"))
    val dim = if (broadcastDim) broadcast(dimDedup) else dimDedup
    val lens0 = dimLens(cleanDim, lenCol)
    // an empty/all-dirty dim must yield an empty result, not an
    // unanalyzable zero-length candidate array: one placeholder length
    // keeps the plan valid and joins against zero dim rows
    val lens = if (lens0.isEmpty) Seq(0) else lens0
    val candStructs = lens.sorted.map { l =>
      struct(lit(l).as("len"),
        graft.ip.IpKit.inetAligned(col(probeAddr), lit(l)).as("start"))
    }
    val candidates = probes
      .withColumn("__cand", explode(array(candStructs: _*)))
      .filter(col("__cand.start").isNotNull)
    val probeCarry = probes.columns.filterNot(probeKey.contains).toIndexedSeq
    val matched = candidates
      .join(dim,
        col("__cand.len") === col(lenCol) && col("__cand.start") === col(startCol),
        "left_semi")
    val winners = matched
      .groupBy(probeKey.map(col): _*)
      .agg(max(col("__cand.len")).as(lenCol),
        probeCarry.map(c => first(col(c)).as(c)): _*)
      .withColumn(startCol, graft.ip.IpKit.inetAligned(col(probeAddr), col(lenCol)))
    winners
      .join(dim, Seq(startCol, lenCol))
      .select(probeKey.map(col) ++ probeCarry.map(col) ++
        Seq(col(lenCol), col(startCol)) ++
        payload.filterNot(p => p == lenCol || p == startCol)
          .map(p => col(s"__payload.$p").as(p)): _*)
  }

  /** Covering-prefix containment join (J6, RPKI-style): every (fact,dim)
    * pair where dim's range contains fact's range and fact length falls
    * in [dim minLen, dim maxLen]. Inner join, all matches (the RPKI
    * validation then reduces per fact key).
    */
  def coveringJoin(facts: DataFrame, factStart: String, factEnd: String, factLen: String,
                   dims: DataFrame, dimStart: String, dimEnd: String, dimMaxLen: String,
                   broadcastDim: Boolean = true): DataFrame = {
    val dim = if (broadcastDim) broadcast(dims) else dims
    facts.join(
      dim,
      col(factStart) >= col(dimStart) && col(factEnd) <= col(dimEnd) &&
        col(factLen) <= col(dimMaxLen),
      "inner")
  }

  /** Covering join, equi-join scale path — [[coveringJoin]] is a
    * broadcast nested loop (|facts| · |dims| range compares), which hits
    * the same cliff the v4/v6 LPM NLJ did once the ROA table passes
    * ~100k rows. When dim ranges are CIDR-ALIGNED (real ROAs are), the
    * containment test factors exactly like LPM: dim covers fact ⟺
    * fact's ancestor at dim's length equals dim's start AND
    * factLen ≥ dimLen — so each fact explodes into one candidate per
    * DISTINCT dim length and the join is a hash equi-join on
    * (start, len). Unlike LPM there is no top-1 reduction: every match
    * survives (RPKI wants all covering ROAs), so the output is the same
    * row set as [[coveringJoin]] restricted to aligned dims
    * (LpmJoinSpec property). Cost: |facts| · |dimLens| hashed rows —
    * linear in facts, and the dim side shuffles/broadcasts once.
    *
    * @param dimLenCol the dim PREFIX length (the lower BETWEEN bound of
    *                  the reference predicate `2_aggregations.sql:338-343`;
    *                  `dimMaxLen` remains the upper bound on factLen)
    * @param bits      address-space width (≤ 62; v6/mixed prefixes take
    *                  [[coveringJoin]] over the binary form)
    */
  def coveringJoinByExpansion(facts: DataFrame, factStart: String, factLen: String,
                              dims: DataFrame, dimStart: String, dimLenCol: String,
                              dimMaxLen: String, bits: Int,
                              broadcastDim: Boolean = true): DataFrame = {
    require(bits <= 62, s"coveringJoinByExpansion supports numeric spaces up to 62 bits (got $bits); use coveringJoin on the binary form for IPv6")
    val dim = if (broadcastDim) broadcast(dims) else dims
    facts
      .withColumn("__cand",
        explode(candidateArray(factStart, dimLens(dims, dimLenCol), bits)))
      // a dim can only cover an EQUAL-OR-NARROWER fact; without this the
      // aligned start of a WIDER fact would false-match its sub-prefix dim
      .filter(col("__cand.len") <= col(factLen))
      .join(dim,
        col("__cand.len") === col(dimLenCol) && col("__cand.start") === col(dimStart),
        "inner")
      .filter(col(factLen) <= col(dimMaxLen))
      .drop("__cand")
  }
}
