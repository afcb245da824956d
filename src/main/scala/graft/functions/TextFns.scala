package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristics, document fingerprinting. All
  * codegen'd built-ins — designed to run inline in the parquet scan
  * stage over a 100 TB `documents` table (no UDF, no shuffle).
  */
object TextFns {

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count — native codegen'd byte scan
    * ([[graft.plans.TokenCount]]): no regex, no lowercased copy, no
    * token array, identical result semantics to
    * `when(length(trim(t)) === 0, 0).otherwise(size(tokens(t)))`
    * (equivalence locked by TextFnsSpec).
    */
  def tokenCount(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.TokenCount(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Unicode NFC canonical composition — native codegen'd
    * ([[graft.plans.NfcNormalize]]): ASCII fast path with zero
    * allocation, UAX #15 NFC otherwise, value-identical to DuckDB's
    * `nfc_normalize`. Run before any byte-level hash/fingerprint so
    * precomposed and combining-mark renderings of the same text
    * collide.
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.NfcNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Accent folding — native codegen'd ([[graft.plans.StripAccents]]):
    * NFD → drop non-spacing marks → NFC, value-identical to DuckDB's
    * `strip_accents` on decomposable sequences; ASCII zero-copy fast
    * path. The canonical pre-pass for diacritic-insensitive blocking
    * keys and fuzzy linkage.
    */
  def stripAccents(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.StripAccents(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Jaro–Winkler similarity — native codegen'd
    * ([[graft.plans.JaroWinklerSim]]): textbook Winkler variant
    * (boost threshold 0.7, prefix cap 4), value-identical to DuckDB's
    * `jaro_winkler_similarity`.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.JaroWinklerSim(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Upper bound on Jaro–Winkler — native codegen'd
    * ([[graft.plans.JaroWinklerUpperBound]]): O(n) byte-walk
    * common-character bound, guaranteed ≥ the true similarity. The
    * scan-cost pre-filter in front of the full greedy-matching kernel
    * in blocked linkage.
    */
  def jaroWinklerBound(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.JaroWinklerUpperBound(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Bag-distance lower bound on Levenshtein — native codegen'd
    * ([[graft.plans.BagDistanceBound]]): O(n) byte-walk character-bag
    * difference, guaranteed ≤ the true edit distance. The scan-cost
    * pre-filter in front of any O(n²) edit-distance verify stage.
    */
  def bagDistBound(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.BagDistanceBound(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Levenshtein distance, native fast kernel
    * ([[graft.plans.FastLevenshtein]]): one-pass code-point packing +
    * two-row int DP — value-identical to the builtin, ~10× faster (the
    * builtin re-decodes UTF-8 per DP cell). `thr` ≥ 0 adds the builtin
    * 3-arg early-exit contract (−1 beyond the threshold); pass a
    * negative literal for the unbounded form.
    */
  def fastLevenshtein(a: Column, b: Column, thr: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.FastLevenshtein(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b),
        org.apache.spark.sql.GraftColumnBridge.expression(thr)))

  /** Sliding character n-grams, native codegen'd
    * ([[graft.plans.CharNgrams]]): one byte walk + offset table —
    * value-identical to `transform(sequence(1, length(t)−n+1),
    * i -> substring(t, i, n))`, which re-scans the string from byte 0
    * per window (O(len²) on the q207 profile).
    */
  def charNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.CharNgrams(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** Distinct word n-gram shingles, native codegen'd
    * ([[graft.plans.WordNgrams]]): one byte walk — value-identical to
    * the composable `array_distinct(transform(sequence(...),
    * i -> array_join(slice(split(lower(trim(t)), "\s+"), i, n), " ")))`
    * form, which materializes a token array plus a slice copy and an
    * array_join build per window (the q23 shingle-construction cost).
    * NULL text → NULL (see [[graft.operators.Dedup.shingles]] for the
    * NULL→empty coercion the dedup pipelines layer on).
    */
  def wordNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.WordNgrams(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** BPE-ish subword count estimate: word-piece regex split (letters /
    * digits / other runs), the standard pre-tokenizer shape.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0))

  /** Distinct-token / total-token ratio (type-token ratio). Blank text
    * is 0, not 1: `split("")` yields `[""]` (one "distinct token"), which
    * would hand empty documents a perfect diversity score — and through
    * [[qualityScore]]'s 0.3 weight rank them above real short text.
    */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    when(length(trim(text)) === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
  }

  /** Ratio of tokens in the stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
      .cast("double") / size(toks).cast("double")
  }

  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(toks).cast("double")
  }

  /** Composite quality score in [0,1]-ish: rewards sane length, token
    * diversity and stopword presence — the usual pre-filter features for
    * corpus curation (heuristic; weights are explicit and documented).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    least(length(text).cast("double") / lit(500.0), lit(1.0)) * lit(0.4) +
      typeTokenRatio(text) * lit(0.3) +
      least(stopwordRatio(text, stopwords) * lit(5.0), lit(1.0)) * lit(0.3)

  /** Marker-word hit counts for one language. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers.map(lit): _*)))

  val EnMarkers = Seq("the", "and", "of", "to", "a", "in", "is")
  val EsMarkers = Seq("el", "la", "de", "los", "las", "que", "y")
  val DeMarkers = Seq("der", "die", "das", "und", "ist", "nicht")
  val FrMarkers = Seq("le", "la", "les", "des", "et", "est")

  /** N-gram/marker language-ID heuristic: argmax of marker-hit counts,
    * 'und' (undetermined) when all zero, NULL for NULL text (every
    * `when` condition is null on null counts, so a bare `otherwise`
    * would classify every null document as the last language).
    */
  def langId(text: Column): Column = {
    val en = markerHits(text, EnMarkers)
    val es = markerHits(text, EsMarkers)
    val de = markerHits(text, DeMarkers)
    val fr = markerHits(text, FrMarkers)
    val mx = greatest(en, es, de, fr)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(es === mx, lit("es"))
      .when(de === mx, lit("de"))
      .when(fr === mx, lit("fr")) // null mx falls through → null
  }

  // ---- PII redaction / normalization ----------------------------------

  /** Redaction patterns: deliberately RE2-compatible (character classes
    * and bounded repetition only — no lookaround, no backrefs), so the
    * IDENTICAL pattern strings run under Java regex (Spark, codegen'd
    * regexp_replace in the scan stage) and RE2 engines (the DuckDB
    * oracle, or a downstream Go/C++ scrubber). Conservative by design:
    * favors precision (no lookbehind-based context) — a corpus scrubber
    * runs these inline at scan time over 100 TB, so patterns must stay
    * linear-time.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+"
  val Ipv4Pattern  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\+[0-9]{7,15}\\b"

  /** Scrub emails / IPv4 literals / international-format phone numbers,
    * in that order (emails first — their domains contain dots that the
    * IP pattern must never see as already-rewritten text).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Per-kind PII hit count (on the RAW text, before redaction). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Canonical whitespace/case normalization for hashing & exact dedup:
    * lowercase, trim, collapse any whitespace run to a single space.
    * Composes with [[redactPii]] for scrub-then-hash pipelines.
    */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic rolling document fingerprint over tokens:
    * acc = (acc * 131 + (ascii(first) + ascii(last) + len)) mod 1e9+7.
    * Pure integer arithmetic → reproducible across engines (the DuckDB
    * oracle computes the identical fold with list_reduce).
    */
  def fingerprint(text: Column): Column = {
    val toks = tokens(text)
    val tokVal = (t: Column) => ascii(t) + ascii(substring(t, -1, 1)) + length(t)
    aggregate(toks, lit(0L), (acc, t) => (acc * 131 + tokVal(t).cast("long")) % 1000000007L)
  }

  // ---- Readability -----------------------------------------------------

  /** Sentence count: runs of terminal punctuation, clamped to >= 1 for
    * non-empty text (a fragment with no terminator is one sentence —
    * the Flesch denominator must never be 0). RE2-compatible pattern.
    */
  def sentenceCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(greatest(
        size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"),
        lit(1L)))

  /** Syllable proxy: vowel-group count over the lowercased text — the
    * standard dictionary-free estimator (each maximal [aeiouy]+ run ≈
    * one syllable). Exact syllabification needs a pronunciation
    * lexicon; this proxy is monotone with it and engine-portable.
    */
  def syllableProxy(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long")

  /** Flesch reading-ease over the proxies: 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W), null for empty text (no words → undefined). The
    * two divisions and the affine combination are literal-identical
    * IEEE double expressions on any engine, so a 6-dp round is
    * oracle-exact (the q28 contract). Pure scan-stage: three regex
    * passes, no shuffle.
    */
  def fleschScore(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = sentenceCount(text).cast("double")
    val syl = syllableProxy(text).cast("double")
    when(w > 0,
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (syl / w))
  }

  /** Count of Unicode replacement characters (U+FFFD) — each one marks
    * a byte sequence some upstream decoder could not interpret; a
    * nonzero count is the cheapest mojibake detector a crawl pipeline
    * has. Length-difference form (no per-char explode); `length` is
    * code points on both engines (DuckDB: `length(t) -
    * length(replace(t, chr(65533), ''))`).
    */
  def replacementCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "\\x{FFFD}", ""))).cast("long")

  /** Count of C0/C1-adjacent control characters excluding tab/LF/CR —
    * binary garbage that leaked into a text column (RE2-compatible
    * class, identical in the DuckDB oracle).
    */
  def controlCharCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")))
      .cast("long")

  /** ⌊10⁶·garbageTokens/tokens⌋, null for empty text — the OCR/mojibake
    * token heuristic: a token is garbage if it mixes letters and
    * digits with a digit INSIDE (`[a-z]+[0-9]+[a-z0-9]*` after
    * lowercasing — "c0rrupted", "li0n"), or runs past 20 chars
    * (de-hyphenation and column-merge artifacts). RE2-compatible, so
    * the oracle replays the same class.
    */
  def garbageTokenRatioQ(text: Column): Column = {
    val toks = filter(tokens(text), t => length(t) > 0)
    val bad = filter(toks, t =>
      t.rlike("^[a-z]+[0-9]+[a-z0-9]*$") || length(t) > 20)
    when(size(toks) > 0,
      floor(lit(1000000.0) * size(bad).cast("double") /
        size(toks).cast("double")).cast("long"))
  }

  /** ⌊10⁶·asciiChars/chars⌋, null for empty text — the blunt
    * script-mix / encoding-health ratio (a nominally-English source
    * drifting below ~0.95 is mis-tagged or mis-decoded).
    */
  def asciiRatioQ(text: Column): Column = {
    val total = length(text)
    val ascii = length(regexp_replace(text, "[^\\x00-\\x7F]", ""))
    when(total > 0,
      floor(lit(1000000.0) * ascii.cast("double") / total.cast("double"))
        .cast("long"))
  }
}
