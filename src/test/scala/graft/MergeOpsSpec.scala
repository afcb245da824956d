package graft

import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.operators.MergeOps.MergePolicy

/** M1-family merge semantics: retain-on-withdraw, CDC predicate (T1),
  * last-write-wins dedup (S5/D2), insert-ignore (M2), stale purge (T9).
  * Mirrors the scenarios of FIXTURES.md §A (advertise → attr change →
  * withdraw → re-advertise).
  */
class MergeOpsSpec extends SparkSpec {
  import spark.implicits._

  val policy = MergePolicy(
    keys = Seq("k"), withdrawnCol = "wd", orderBy = Seq("ts"),
    retainOnWithdraw = Seq("attr"), alwaysUpdate = Seq("ts"))

  // (key, ts, attr, withdrawn)
  def df(rows: (String, Long, String, Boolean)*) =
    rows.toDF("k", "ts", "attr", "wd")

  test("upsert retains attr on withdraw, updates ts/flag") {
    val current = df(("a", 1L, "A1", false), ("b", 1L, "B1", false),
      ("f", 1L, "F1", false))
    val updates = df(("a", 2L, null, true), ("c", 2L, "C1", false),
      ("f", 2L, "", true)) // the wire's withdraw carries an empty attr
    val next = MergeOps.upsert(current, updates, policy)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getBoolean(3))).toSet
    assert(next === Set(
      ("a", 2L, "A1", true),   // withdrawn: ts/flag new, attr retained
      ("b", 1L, "B1", false),  // untouched
      ("c", 2L, "C1", false),  // fresh insert
      ("f", 2L, "F1", true)))  // non-null withdraw attr is not taken
  }

  test("CDC fires on withdraw flip and attr change only; withdraw logs OLD attr") {
    val current = df(("a", 1L, "A1", false), ("b", 1L, "B1", false),
      ("d", 1L, "D1", false), ("f", 1L, "F1", false))
    val updates = df(
      ("a", 2L, null, true),   // flip → log with OLD attr A1
      ("b", 2L, "B1", false),  // no flip, attr unchanged → no log
      ("d", 2L, "D2", false),  // attr change → log new attr
      ("e", 2L, "E1", false),  // fresh advertise → log
      ("f", 2L, "", true))     // flip with empty attr → log OLD attr F1
    val (_, log) = MergeOps.upsertWithLog(current, updates, policy)
    val rows = log.select("k", "attr", "wd").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(rows === Set(("a", "A1", true), ("d", "D2", false), ("e", "E1", false),
      ("f", "F1", true)))
  }

  test("applyOrdered ≡ sequential upserts (batch fold parity)") {
    val updates = Seq(
      ("a", 1L, "A1", false), ("a", 2L, "A2", false), ("a", 3L, null, true),
      ("b", 1L, "B1", false), ("b", 2L, null, true), ("b", 3L, "B2", false),
      ("c", 1L, null, true))
    // sequential: apply one-by-one through upsert
    val empty = df().limit(0)
    val seqState = updates.foldLeft(empty)((cur, u) =>
      MergeOps.upsert(cur, df(u), policy))
    val folded = MergeOps.applyOrdered(updates.toDF("k", "ts", "attr", "wd"), policy)
    val a = seqState.select("k", "ts", "wd", "attr").collect().map(_.toSeq).toSet
    val b = folded.select("k", "ts", "wd", "attr").collect().map(_.toSeq).toSet
    assert(a === b)
    // and the final content is what the reference's CASE would produce
    val m = folded.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getBoolean(2), r.getString(3))).toMap
    assert(m("a") === ((3L, true, "A2")))  // withdrawn, attr from last advertise
    assert(m("b") === ((3L, false, "B2")))
    assert(m("c") === ((1L, true, null)))  // withdraw-first: no attr ever
  }

  test("applyOrdered ≡ sequential upserts when ALL updates for a key are withdraws") {
    // the first withdraw lands with no existing row, so record-by-record
    // upsert writes its incoming (non-null) attr; later withdraws retain
    // it — applyOrdered must reproduce that, not leave attr null
    val updates = Seq(
      ("a", 1L, "A1", true), ("a", 2L, "A2", true), ("a", 3L, null, true))
    val seqState = updates.foldLeft(df().limit(0))((cur, u) =>
      MergeOps.upsert(cur, df(u), policy))
    val folded = MergeOps.applyOrdered(updates.toDF("k", "ts", "attr", "wd"), policy)
    assert(folded.head().getAs[String]("attr") === "A1")
    assert(seqState.head().getAs[String]("attr") === "A1")
    assert(folded.select("k", "ts", "wd", "attr").collect().map(_.toSeq).toSet
      === seqState.select("k", "ts", "wd", "attr").collect().map(_.toSeq).toSet)
  }

  test("applyOrdered keeps a legitimately-null retained value from the last advertise") {
    // advertise(A) → advertise(null) → withdraw: record-by-record leaves
    // attr=null (retained from the 2nd advertise); per-column ignoreNulls
    // would wrongly resurrect "A"
    val updates = df(("a", 1L, "A", false), ("a", 2L, null, false), ("a", 3L, null, true))
    val folded = MergeOps.applyOrdered(updates, policy).head()
    assert(folded.getAs[String]("attr") === null)
    assert(folded.getAs[Boolean]("wd") === true)
    val seqState = updates.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
      .foldLeft(df().limit(0))((cur, u) => MergeOps.upsert(cur, df(u), policy))
    assert(seqState.head().getAs[String]("attr") === null)
  }

  test("dedupToLatest keeps exactly the newest row per key") {
    val d = MergeOps.dedupToLatest(
      df(("a", 1L, "x", false), ("a", 3L, "y", false), ("a", 2L, "z", true)),
      Seq("k"), Seq("ts"))
    assert(d.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      === Seq(("a", 3L, "y")))
  }

  test("insertIgnore never overwrites existing keys (M2 DO NOTHING)") {
    val cur = df(("a", 1L, "OLD", false))
    val upd = df(("a", 9L, "NEW", false), ("b", 1L, "B1", false), ("b", 2L, "B2", false))
    val out = MergeOps.insertIgnore(cur, upd, Seq("k"), Seq("ts"))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(out === Set(("a", "OLD"), ("b", "B1")))
  }

  test("purgeStale drops pre-threshold rows for matched keys only (T9)") {
    val cur = df(("a", 1L, "x", false), ("a", 5L, "y", false), ("b", 1L, "z", false))
    val th = Seq(("a", 3L)).toDF("pk", "pts")
    val out = MergeOps.purgeStale(cur, "k", "ts", th, "pk", "pts")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(("a", 5L), ("b", 1L)))
  }

  test("purgeStale with duplicate threshold rows per key does not multiply survivors") {
    val cur = df(("a", 5L, "y", false))
    // two peer-up messages for one peer (legal on the bus): latest wins,
    // and the surviving row must appear exactly once
    val th = Seq(("a", 2L), ("a", 3L)).toDF("pk", "pts")
    val out = MergeOps.purgeStale(cur, "k", "ts", th, "pk", "pts").collect()
    assert(out.length === 1)
  }

  test("null-key update rows are rejected, not accumulated as junk state") {
    val current = df(("a", 1L, "A1", false))
    val updates = Seq((null.asInstanceOf[String], 2L, "J1", false), ("a", 2L, "A2", false))
      .toDF("k", "ts", "attr", "wd")
    val (next, log) = MergeOps.upsertWithLog(current, updates, policy)
    assert(next.count() === 1) // no null-key row joined in
    assert(next.head().getString(2) === "A2")
    assert(log.filter(col("k").isNull).count() === 0)
    // insertIgnore stays idempotent too (anti-join can't match null keys)
    val once  = MergeOps.insertIgnore(current, updates, Seq("k"), Seq("ts"))
    val twice = MergeOps.insertIgnore(once, updates, Seq("k"), Seq("ts"))
    assert(once.count() === 1 && twice.count() === once.count())
  }

  test("applyOrdered treats a NULL withdrawn flag as an advertise, like upsert") {
    val updates = Seq(
      ("k", 1L, "A", java.lang.Boolean.FALSE),
      ("k", 2L, "B", null.asInstanceOf[java.lang.Boolean]))
      .toDF("k", "ts", "attr", "wd")
    // sequential: the null-flag record lands as an advertise → attr=B
    val folded = MergeOps.applyOrdered(updates, policy).head()
    assert(folded.getAs[String]("attr") === "B")
  }

  // ------------------------------------------------------------------- scd2

  test("scd2: chained validity intervals, open current row") {
    val updates = Seq(("k", 10L, "A", 1L), ("k", 20L, "B", 2L),
      ("k", 30L, "C", 3L)).toDF("key", "ts", "attr", "seq")
    val out = MergeOps.scd2(updates, Seq("key"), "ts", "seq")
      .orderBy("ts")
      .select("attr", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    assert(out === Seq(("A", 10L, 20L, false), ("B", 20L, 30L, false),
      ("C", 30L, -1L, true)))
  }

  test("scd2: same-instant updates collapse to the highest tie, no zero-width row") {
    val updates = Seq(("k", 10L, "old", 1L), ("k", 10L, "new", 2L),
      ("k", 20L, "next", 3L)).toDF("key", "ts", "attr", "seq")
    val out = MergeOps.scd2(updates, Seq("key"), "ts", "seq")
      .orderBy("ts").select("attr").collect().map(_.getString(0)).toSeq
    assert(out === Seq("new", "next"))
  }

  test("scd2: keys intervalize independently") {
    val updates = Seq(("a", 10L, 1L), ("b", 15L, 2L), ("a", 20L, 3L))
      .toDF("key", "ts", "seq")
    val cur = MergeOps.scd2(updates, Seq("key"), "ts", "seq")
      .filter(col("is_current"))
      .select("key", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cur === Set(("a", 20L), ("b", 15L)))
  }
}
