package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Dedup

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount / subwordCount / ttr") {
    val r = Seq("The quick  brown fox, the fox!").toDF("text")
      .select(
        TextFns.tokenCount(col("text")),
        TextFns.subwordCount(col("text")),
        size(array_distinct(TextFns.tokens(col("text")))))
      .as[(Int, Int, Int)].head()
    assert(r._1 === 6)           // whitespace tokens (double space collapsed)
    assert(r._2 === 6)           // letter/digit runs: the quick brown fox the fox
    assert(r._3 === 5)           // distinct: the, quick, brown, fox, "fox,"... actually fox, vs fox!
  }

  test("langId picks marker-dominant language, und when none") {
    val r = Seq(
      "the cat and the dog of the house",
      "el gato y la casa de los perros",
      "der hund und die katze ist nicht da",
      "xyzzy plugh qwerty").toDF("text")
      .select(TextFns.langId(col("text"))).as[String].collect().toSeq
    assert(r === Seq("en", "es", "de", "und"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fps = Seq("alpha beta gamma", "alpha beta gamma", "gamma beta alpha")
      .toDF("text").select(TextFns.fingerprint(col("text"))).as[Long].collect().toSeq
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
    assert(fps.forall(f => f >= 0 && f < 1000000007L))
  }

  test("native token_count ≡ split-size formula on adversarial whitespace") {
    val cases = Seq(
      "plain words here", "", "   ", "\t", "\t\t", " \t ", "one",
      "\tleading tab", "trailing tab\t", "\tboth\t", "a  b\t\nc",
      "日本語 テキスト", "mixed nbsp stays", // NBSP is NOT \s — one token boundary fewer
      " spaces trimmed \t not this ")
    val df = cases.toDF("t")
    val r = df.select(
      TextFns.tokenCount(col("t")).as("native"),
      when(length(trim(col("t"))) === 0, lit(0))
        .otherwise(size(split(lower(trim(col("t"))), "\\s+"))).as("composed"))
      .collect()
    cases.zip(r).foreach { case (s, row) =>
      assert(row.getInt(0) === row.getInt(1), s"mismatch on ${s.map(_.toInt)}")
    }
    // null passes through
    assert(Seq[String](null).toDF("t").select(TextFns.tokenCount(col("t")))
      .collect()(0).isNullAt(0))
    // SQL registration via GraftFunctions
    graft.plans.GraftFunctions.register(spark)
    assert(spark.sql("SELECT token_count('a b  c')").collect()(0).getInt(0) === 3)
  }

  test("redactPii scrubs emails, IPs, phones; order keeps email domains intact") {
    val r = Seq(
      "mail bob.smith+x@corp.example.co.uk from 10.1.2.3 call +4915112345678 done",
      "no pii here at all").toDF("text")
      .select(TextFns.redactPii(col("text"))).as[String].collect().toSeq
    assert(r(0) === "mail <EMAIL> from <IP> call <PHONE> done")
    assert(r(1) === "no pii here at all")
  }

  test("piiCount counts per kind on raw text") {
    val r = Seq("a@b.com c@d.org 1.2.3.4 +12345678 8.9").toDF("text")
      .select(
        TextFns.piiCount(col("text"), TextFns.EmailPattern),
        TextFns.piiCount(col("text"), TextFns.Ipv4Pattern),
        TextFns.piiCount(col("text"), TextFns.PhonePattern))
      .as[(Int, Int, Int)].head()
    assert(r === ((2, 1, 1))) // "8.9" is not a full dotted quad
  }

  test("normalizeText lowers, trims and collapses whitespace") {
    val r = Seq("  Mixed   CASE\t\ttext \n here ").toDF("text")
      .select(TextFns.normalizeText(col("text"))).as[String].head()
    assert(r === "mixed case text here")
  }

  test("blank text scores zero diversity; null text yields null langId") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val r = Seq(("", "x"), ("   ", "y"), (null, "z")).toDF("text", "tag")
      .select(col("tag"), TextFns.typeTokenRatio(col("text")).as("ttr"),
        TextFns.langId(col("text")).as("lang"))
      .collect().map(x => x.getString(0) -> (x.get(1), x.get(2))).toMap
    assert(r("x")._1 === 0.0) // split("") = [""] must not count as a token
    assert(r("y")._1 === 0.0)
    assert(r("z")._2 == null, "null text must not classify as a language")
  }

  test("stopwordRatio and qualityScore bounded") {
    val r = Seq("the a of and to in is junk").toDF("text")
      .select(TextFns.stopwordRatio(col("text"), TextFns.EnMarkers),
        TextFns.qualityScore(col("text"), TextFns.EnMarkers))
      .as[(Double, Double)].head()
    assert(r._1 === 7.0 / 8.0)
    assert(r._2 > 0 && r._2 <= 1.0)
  }

  test("readability: sentence clamp, syllable proxy, flesch null on empty") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val r = Seq(
      ("no terminator here", "a"),     // 1 sentence (clamped), 3 words
      ("One. Two! Three?? ", "b"),     // 3 sentences
      ("", "c"),                       // empty → 0 sentences, null flesch
      ("rhythm", "d")                  // vowel groups: y → 1 syllable
    ).toDF("text", "tag")
      .select(col("tag"), TextFns.sentenceCount(col("text")).as("s"),
        TextFns.syllableProxy(col("text")).as("syl"),
        TextFns.fleschScore(col("text")).as("f"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), Option(x.get(3))))).toMap
    assert(r("a")._1 === 1L)
    assert(r("b")._1 === 3L)
    assert(r("c") === ((0L, 0L, None)))
    assert(r("d") === ((1L, 1L, r("d")._3)))
    assert(r("d")._3.isDefined)
    // hand check: "one two." → W=2 S=1, vowel groups o|e / o → syl=3 →
    // 206.835 − 1.015·2 − 84.6·(3/2) = 77.905
    val f = Seq("one two.").toDF("text")
      .select(TextFns.fleschScore(col("text"))).as[Double].head()
    assert(math.abs(f - 77.905) < 1e-9)
  }

  test("nfc: composes combining marks, ASCII passes through by reference") {
    import graft.plans.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // e + U+0301 → precomposed é (2 code points → 1)
    assert(NfcNormalize.nfc(UTF8String.fromString("cafe\u0301"))
      .toString === "caf\u00e9")
    // already-NFC non-ASCII: unchanged value
    assert(NfcNormalize.nfc(UTF8String.fromString("caf\u00e9"))
      .toString === "caf\u00e9")
    // pure ASCII fast path: the SAME UTF8String instance comes back
    val ascii = UTF8String.fromString("plain ascii")
    assert(NfcNormalize.nfc(ascii) eq ascii)
    // DataFrame path (codegen): null-safe, composes, length shrinks
    val out = Seq(("a", "e\u0301x"), ("b", "ok"), ("c", null))
      .toDF("id", "t")
      .select(col("id"), TextFns.nfc(col("t")).as("n"),
        length(TextFns.nfc(col("t"))).as("len"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.getString(1)), Option(r.get(2))))).toMap
    assert(out("a") === ((Some("\u00e9x"), Some(2))))
    assert(out("b") === ((Some("ok"), Some(2))))
    assert(out("c") === ((None, None)))
  }

  test("stripAccents: folds both accent renderings, ASCII by reference") {
    import graft.plans.StripAccents
    import org.apache.spark.unsafe.types.UTF8String
    // decomposed AND precomposed renderings both land on the base char
    assert(StripAccents.strip(UTF8String.fromString("cafe\u0301"))
      .toString === "cafe")
    assert(StripAccents.strip(UTF8String.fromString("caf\u00e9"))
      .toString === "cafe")
    // diaeresis: \u00fc \u2192 u
    assert(StripAccents.strip(UTF8String.fromString("u\u0308ber"))
      .toString === "uber")
    // pure ASCII fast path: same instance back
    val ascii = UTF8String.fromString("plain")
    assert(StripAccents.strip(ascii) eq ascii)
    // DataFrame path: null-safe codegen
    val out = Seq(("a", "caf\u00e9"), ("b", null)).toDF("id", "t")
      .select(col("id"), TextFns.stripAccents(col("t")).as("f"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("a") === Some("cafe"))
    assert(out("b") === None)
  }

  test("garbageTokenRatioQ: letter-digit mixes and over-long tokens") {
    val df = Seq(
      ("a", "c0rrupted text here li0n"),       // 2 garbage of 4
      ("b", "the 404 server and x1"),          // 404 pure digits OK; x1 bad
      ("c", "supercalifragilisticexpialidocious ok"), // >20 chars
      ("d", "")).toDF("k", "t")
    val out = df.select(col("k"), TextFns.garbageTokenRatioQ(col("t")))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out("a") === 500000L)
    assert(out("b") === 200000L)
    assert(out("c") === 500000L)
    assert(out("d") === -1L)
  }

  test("encoding audit: replacement, control, ascii ratio") {
    val df = Seq(
      ("a", "ab�c�"),          // two replacement chars
      ("b", "xy\tz\n"),            // one control (tab/LF exempt)
      ("c", "aé"),                  // 1 ascii of 2 chars
      ("d", ""),                         // empty → ratio null
      ("e", "plain ascii")).toDF("k", "t")
    val out = df.select(col("k"),
      TextFns.replacementCount(col("t")),
      TextFns.controlCharCount(col("t")),
      TextFns.asciiRatioQ(col("t")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out("a") === ((2L, 0L, 600000L)))  // 3 ascii of 5
    assert(out("b") === ((0L, 1L, 1000000L))) // controls are ascii
    assert(out("c") === ((0L, 0L, 500000L)))
    assert(out("d") === ((0L, 0L, -1L)))
    assert(out("e") === ((0L, 0L, 1000000L)))
  }

  test("fastLevenshtein ≡ builtin levenshtein on random ASCII, " +
      "multi-byte, and empty inputs; threshold form matches builtin") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdeé漢字 é́"
    def word(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val rows = (1 to 200).map(_ =>
      (word(rnd.nextInt(30)), word(rnd.nextInt(30)))) ++
      Seq(("", ""), ("", "abc"), ("abc", ""), ("é", "e"), ("漢", "字"))
    val df = rows.toDF("a", "b")
    val out = df.select(
      levenshtein(col("a"), col("b")).as("ref"),
      TextFns.fastLevenshtein(col("a"), col("b"), lit(-1)).as("fast"),
      levenshtein(col("a"), col("b"), 5).as("ref5"),
      TextFns.fastLevenshtein(col("a"), col("b"), lit(5)).as("fast5"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(1) === r.getInt(0), s"unbounded mismatch: $r")
      assert(r.getInt(3) === r.getInt(2), s"thr=5 mismatch: $r")
    }
    // null propagation matches the builtin
    val nr = Seq((null: String, "x")).toDF("a", "b")
      .select(TextFns.fastLevenshtein(col("a"), col("b"), lit(-1)))
      .collect().head
    assert(nr.isNullAt(0))
  }

  test("charNgrams ≡ the HOF substring form on ASCII, multi-byte, " +
      "short, and empty inputs") {
    val rows = Seq("hello world", "aé漢字x", "ab", "abc", "", "ééé",
      "mixed é text 漢 with spaces")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = rows.toDF("t")
      val got = df.select(TextFns.charNgrams(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val ref = df.select(
        when(length(col("t")) >= n, expr(
          s"transform(sequence(1, length(t) - ${n - 1}), " +
            s"i -> substring(t, i, $n))"))
          .otherwise(array().cast("array<string>")).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(got === ref, s"n=$n")
    }
    // null propagates
    assert(Seq[String](null).toDF("t")
      .select(TextFns.charNgrams(col("t"), 3)).collect().head.isNullAt(0))
  }

  test("wordNgrams ≡ the HOF split/slice/array_join shingle form on " +
      "random whitespace-heavy unicode and every edge fixture") {
    val rnd = new scala.util.Random(23)
    // alphabet stresses every tokenizer edge: all five Java-\s ASCII
    // whitespace chars, case folding, multi-byte (incl. a char whose
    // lowercase differs), repeated words (distinct-order check)
    val alpha = "aAbB éÉ漢\t\n\f\r  the the"
    def doc(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val rows: Seq[String] = (1 to 300).map(_ => doc(rnd.nextInt(60))) ++
      Seq("", " ", "\t", "a", "a b", "a b c", "\tlead", "trail\t",
        " pad ", "a  b\t\nc", "x x x x", "ÉÉ éé Éé")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = rows.toDF("t")
      val got = df.select(Dedup.shingles(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val ref = df.select(Dedup.shinglesHof(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(got === ref, s"n=$n")
    }
    // NULL text coerces to empty (the HOF when-guard behavior)
    assert(Seq[String](null).toDF("t")
      .select(Dedup.shingles(col("t"), 3)).as[Seq[String]]
      .collect().head === Seq.empty[String])
    // the raw expression propagates NULL (documented contract)
    assert(Seq[String](null).toDF("t")
      .select(TextFns.wordNgrams(col("t"), 3)).collect().head.isNullAt(0))
  }

  test("bagDistBound is a true lower bound on levenshtein and exact " +
      "on permutation-free edits") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcdeé漢 "
    def word(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val rows = (1 to 300).map(_ =>
      (word(rnd.nextInt(25)), word(rnd.nextInt(25))))
    val out = rows.toDF("a", "b").select(
      TextFns.bagDistBound(col("a"), col("b")).as("bag"),
      levenshtein(col("a"), col("b")).as("lev")).collect()
    out.foreach(r => assert(r.getInt(0) <= r.getInt(1),
      s"bag ${r.getInt(0)} > lev ${r.getInt(1)}"))
    // pure insertion: bound is tight
    val t = Seq(("abc", "abcxyz")).toDF("a", "b")
      .select(TextFns.bagDistBound(col("a"), col("b"))).collect().head
    assert(t.getInt(0) === 3)
  }
}
