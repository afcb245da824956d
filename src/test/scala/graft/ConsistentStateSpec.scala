package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.MergeOps.MergePolicy
import graft.operators.StateTables
import graft.streaming.ConsistentState

/** The MVCC-parity property ([[ConsistentState]]): a reader that
  * resolved the manifest once can never observe two tables from
  * different commits, and its pinned plans survive a concurrent commit.
  */
class ConsistentStateSpec extends SparkSpec {

  test("readConsistent pins all tables to one commit; concurrent commit cannot tear it") {
    import spark.implicits._
    val root = Files.createTempDirectory("cstate").toString

    // commit 1: rib and peers both at "generation 1" content
    val t1 = ConsistentState.begin(spark, root)
    t1.stage("ip_rib", Seq(("u1", "p1", 1)).toDF("hash_id", "peer_hash_id", "gen"))
    t1.stage("bgp_peers", Seq(("p1", 1)).toDF("hash_id", "gen"))
    t1.commit()

    // a reader opens a consistent snapshot...
    val pinned = ConsistentState.readConsistent(spark, root, Seq("ip_rib", "bgp_peers"))

    // ...while a writer commits generation 2 into BOTH tables
    val t2 = ConsistentState.begin(spark, root)
    t2.stage("ip_rib", Seq(("u1", "p1", 2), ("u2", "p1", 2)).toDF("hash_id", "peer_hash_id", "gen"))
    t2.stage("bgp_peers", Seq(("p1", 2)).toDF("hash_id", "gen"))
    t2.commit() // keepVersions=2 retains v0 → the pinned plans stay readable

    // the pinned reader still sees gen-1 EVERYWHERE — no mix of 1 and 2
    val gens = pinned("ip_rib").select("gen").as[Int].collect().toSet ++
      pinned("bgp_peers").select("gen").as[Int].collect().toSet
    assert(gens === Set(1), s"torn read: $gens")
    assert(pinned("ip_rib").count() === 1)

    // a fresh resolve sees gen-2 everywhere
    val now = ConsistentState.readConsistent(spark, root, Seq("ip_rib", "bgp_peers"))
    assert(now("ip_rib").count() === 2)
    assert(now("bgp_peers").select("gen").as[Int].collect().toSet === Set(2))
  }

  test("uncommitted staging is invisible; replayed staging converges; pruning keeps the window") {
    import spark.implicits._
    val root = Files.createTempDirectory("cstate2").toString

    val t1 = ConsistentState.begin(spark, root)
    t1.stage("t", Seq(1).toDF("x"))
    t1.commit()

    // crash model: a txn stages v1 but never commits
    val crashed = ConsistentState.begin(spark, root)
    crashed.stage("t", Seq(99).toDF("x"))
    assert(ConsistentState.readConsistent(spark, root, Seq("t"))("t")
      .as[Int].collect().toSeq === Seq(1)) // manifest untouched

    // the replayed batch re-stages the SAME version dir and commits once
    val replay = ConsistentState.begin(spark, root)
    replay.stage("t", Seq(2).toDF("x"))
    replay.commit()
    assert(ConsistentState.readConsistent(spark, root, Seq("t"))("t")
      .as[Int].collect().toSeq === Seq(2))

    // keepVersions=2: after commits v0..v2, v0 is pruned, v1 retained
    val t3 = ConsistentState.begin(spark, root)
    t3.stage("t", Seq(3).toDF("x"))
    t3.commit()
    val dirs = new java.io.File(s"$root/t").listFiles().map(_.getName).toSet
    assert(dirs === Set("v1", "v2"), s"unexpected versions: $dirs")

    // an n-bucket table: a reader pinned at N keeps reading its rows
    // through keepVersions − 1 later commits that rewrite its buckets
    val keep = 3
    val policy = MergePolicy(Seq("k"), "wd", Seq("gen"), Nil, Seq("gen"))
    def commitB(gen: Int, keys: Seq[Int]): Unit = {
      val txn = ConsistentState.begin(spark, root)
      StateTables.mergeChangedBuckets(txn, "b", keys.map(k => (k, gen, false)).toDF("k", "gen", "wd"),
        policy, 4)
      txn.commit(keep)
    }
    commitB(1, 0 until 16)
    val pinned = ConsistentState.readConsistent(spark, root, Seq("b"))("b")
    (2 until 1 + keep).foreach(g => commitB(g, 0 until 16))
    assert(pinned.select("k", "gen").as[(Int, Int)].collect().toSet ===
      (0 until 16).map(_ -> 1).toSet)
    // partial rewrites: untouched buckets stay named by newer maps, so
    // pruning keeps exactly the bucket dirs the last `keep` maps name
    (1 + keep until 3 + keep).foreach(g => commitB(g, Seq(0)))
    val v = ConsistentState.readManifest(spark, root)("b")
    val maps = (v - keep + 1 to v).map(w => ConsistentState.bucketMap(spark, root, "b", w).get)
    val named = maps.flatMap(_.versions).map { case (b, w) => s"v$w/__bucket=$b" }.toSet
    val onDisk = new java.io.File(s"$root/b").listFiles().toSeq.flatMap(d =>
      d.listFiles().map(_.getName).filter(_.startsWith("__bucket=")).map(b => s"${d.getName}/$b"))
    assert(onDisk.toSet === named)
    assert(new java.io.File(s"$root/b").listFiles().map(_.getName).toSet ===
      named.map(_.takeWhile(_ != '/')) ++ (v - keep + 1 to v).map(w => s"v$w"))
    assert(ConsistentState.readConsistent(spark, root, Seq("b"))("b")
      .select("k", "gen").as[(Int, Int)].collect().toSet ===
      (1 until 16).map(_ -> keep).toSet + (0 -> (2 + keep)))
  }

  test("two concurrent txns on one root: the second commit refuses loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("cstate4").toString
    val t0 = ConsistentState.begin(spark, root)
    t0.stage("t", Seq(1).toDF("x"))
    t0.commit()

    // both writers open against the same committed state — the
    // single-writer misconfiguration (two apps on one root). They touch
    // DIFFERENT tables, so the damage a lost update would do is purely
    // manifest-level: b's swap would un-publish a's table version.
    val a = ConsistentState.begin(spark, root)
    val b = ConsistentState.begin(spark, root)
    a.stage("ta", Seq(2).toDF("x"))
    b.stage("tb", Seq(99).toDF("x"))
    a.commit()
    // b's manifest base is pre-a; publishing it would drop a's commit
    // from _CURRENT — it must crash, not lose data
    val e = intercept[java.util.ConcurrentModificationException] { b.commit() }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // a's commit survived untouched
    assert(ConsistentState.readConsistent(spark, root, Seq("ta"))("ta")
      .as[Int].collect().toSeq === Seq(2))
  }

  test("manifest swap is atomic: concurrent readers never see a missing manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("cstate3").toString
    val first = ConsistentState.begin(spark, root)
    first.stage("t", Seq(0).toDF("x"))
    first.commit()

    // a delete-then-rename swap has a window where _CURRENT is MISSING —
    // readManifest reads that as "nothing ever committed", un-publishing
    // every table at once. Hammer commits on one thread while polling the
    // manifest from another: with the atomic overwrite the reader must
    // see a non-empty manifest with monotonically advancing versions.
    @volatile var stop = false
    @volatile var torn: Option[String] = None
    val reader = new Thread(() => {
      var last = -1
      while (!stop && torn.isEmpty) {
        val man = ConsistentState.readManifest(spark, root)
        man.get("t") match {
          case None => torn = Some("manifest missing/empty mid-commit")
          case Some(v) =>
            if (v < last) torn = Some(s"version went backwards: $last -> $v")
            last = v
        }
      }
    })
    reader.start()
    try {
      (1 to 60).foreach { i =>
        val txn = ConsistentState.begin(spark, root)
        txn.stage("t", Seq(i).toDF("x"))
        txn.commit()
      }
    } finally { stop = true; reader.join(10000) }
    assert(torn.isEmpty, torn.getOrElse(""))
  }

  test("concurrent stages of distinct tables publish in one commit; a table stages once per txn") {
    import spark.implicits._
    val root = Files.createTempDirectory("cstate5").toString
    val txn = ConsistentState.begin(spark, root)
    val tables = (0 until 8).map(i => s"t$i")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tables.zipWithIndex.map { case (t, i) =>
      new Thread(() => try { txn.stage(t, Seq(i).toDF("x")); () }
        catch { case e: Throwable => failures.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)

    // nothing visible before the one commit; all 8 at once after it
    assert(ConsistentState.readManifest(spark, root).isEmpty)
    assert(txn.commit() === tables.map(_ -> 0).toMap)
    val snap = ConsistentState.readConsistent(spark, root, tables)
    tables.zipWithIndex.foreach { case (t, i) =>
      assert(snap(t).as[Int].collect().toSeq === Seq(i), t)
    }

    // a second stage of one table would race the first over v<N>
    val again = ConsistentState.begin(spark, root)
    again.stage("t", Seq(1).toDF("x"))
    val e = intercept[IllegalArgumentException] { again.stage("t", Seq(2).toDF("x")) }
    assert(e.getMessage.contains("already staged"), e.getMessage)
  }
}
