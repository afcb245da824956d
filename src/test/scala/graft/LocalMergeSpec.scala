package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

import graft.BmpLines._
import graft.operators.StateTables
import graft.streaming.{ConsistentState, GraftApp}

/** What `body` launched per batch pipeline, keyed by the
  * [[GraftApp.TableProperty]] its jobs carry: the task count of each job,
  * and whether any SQL execution of the pipeline planned a shuffle
  * exchange.
  */
object TableTrace {
  final case class Pipeline(tasksPerJob: Seq[Int], shuffles: Boolean) {
    def jobs: Int = tasksPerJob.size
  }

  def apply(spark: SparkSession)(body: => Unit): Map[String, Pipeline] = {
    val sc = spark.sparkContext
    val tag = "graft.test.tableTrace"
    val label = java.util.UUID.randomUUID().toString
    // listener-bus thread only until `drained` opens
    val jobs = mutable.Map.empty[Int, (String, Seq[Int])]
    val execTable = mutable.Map.empty[Long, String]
    val execShuffles = mutable.Map.empty[Long, Boolean].withDefaultValue(false)
    val stageTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    def shuffles(p: SparkPlanInfo): Boolean = p.nodeName == "Exchange" || p.children.exists(shuffles)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        prop(tag) match {
          case Some(`label`) => prop(GraftApp.TableProperty).foreach { t =>
            jobs(j.jobId) = (t, j.stageIds)
            prop("spark.sql.execution.id").foreach(e => execTable(e.toLong) = t)
          }
          case Some(m) if m == label + "/end" => drained.countDown()
          case _ =>
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = stageTasks(t.stageId) += 1
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execShuffles(s.executionId) |= shuffles(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execShuffles(u.executionId) |= shuffles(u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, label)
      body
      sc.setLocalProperty(tag, label + "/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.toSeq.sortBy(_._1).groupBy(_._2._1).map { case (t, js) =>
        t -> Pipeline(js.map(_._2._2.map(stageTasks).sum),
          execTable.collect { case (e, `t`) => execShuffles(e) }.exists(identity))
      }
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}

/** The one-task merge of small 1-bucket tables
  * ([[StateTables.mergesLocally]]) against the shuffled merge: the same
  * rows, and plans without or with a shuffle exchange.
  */
class LocalMergeSpec extends SparkSpec {

  private val Local = Long.MaxValue
  private val Shuffled = -1L

  private def stamp(sec: Int) =
    f"2024-01-01 ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d.000000"

  /** Two seeded every-topic batches: keys from small pools (duplicates
    * within and across batches), withdraws, empty cells as null keys,
    * and peers going up and down. Every line has its own timestamp, so
    * last-write-wins has no ties: batch 1 stamps seconds 1–300, batch 2
    * seconds 301–600 and, last, a peer-up of `p1` at second 700, which
    * purges p1's batch-1 rib rows (T9).
    */
  private def randomBatches(seed: Long): Seq[DataFrame] = {
    val rnd = new Random(seed)
    var secs = Iterator.empty[Int]
    def ts() = stamp(secs.next())
    def key(prefix: String, pool: Int) = if (rnd.nextInt(10) == 0) "" else s"$prefix${rnd.nextInt(pool)}"
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    def batch(from: Int, last: Seq[(String, String)]) = {
      secs = rnd.shuffle((from until from + 300).toList).iterator
      BmpLines.batch(spark, (
        Seq.fill(2)("collector" -> collectorLine(key("c", 2),
          pick("started", "stopped", "heartbeat"), ts())) ++
        Seq.fill(3)("router" -> routerLine(key("r", 2), pick("r-a", "r-b"),
          pick("10.0.0.1", "10.0.0.2"), ts(), pick("init", "term"), pick("c0", "c1"))) ++
        Seq.fill(4) {
          val addr = pick("10.1.1.1", "0.0.0.0")
          "peer" -> peerLine(key("p", 3), pick("r0", "r1"), addr, pick("peer-a", ""), addr, 65001,
            pick("up", "down"), ts())
        } ++
        Seq.fill(6)("base_attribute" -> attrLine(key("a", 4), key("p", 3), 65000L + rnd.nextInt(3),
          ts())) ++
        Seq.fill(40)("unicast_prefix" -> prefixLine(key("u", 15), key("p", 3), key("a", 4),
          s"192.0.${rnd.nextInt(4)}.0", 24, ts(), withdrawn = rnd.nextBoolean())) ++
        Seq.fill(10)("l3vpn" -> l3vpnLine(key("v", 6), key("p", 3), key("a", 4),
          s"10.${rnd.nextInt(4)}.0.0", ts())) ++
        Seq.fill(3)("bmp_stat" -> statLine(key("p", 3), ts())) ++
        Seq.fill(6)("ls_node" -> lsNodeLine(key("n", 4), key("p", 3), ts())) ++
        Seq.fill(6)("ls_link" -> lsLinkLine(key("l", 4), key("p", 3), ts())) ++
        Seq.fill(6)("ls_prefix" -> lsPrefixLine(key("x", 4), key("p", 3), ts()))) ++ last: _*)
    }
    Seq(batch(1, Nil), batch(301, Seq(
      "peer" -> peerLine("p1", "r0", "10.1.1.1", "peer-a", "10.1.1.1", 65001, "up", stamp(700)))))
  }

  private val Logs = Seq("ip_rib_log", "l3vpn_rib_log", "ls_nodes_log", "ls_links_log",
    "ls_prefixes_log", "peer_events", "stat_reports")

  /** Every committed table and every log under `root`, as sorted rows. */
  private def dump(root: String): Map[String, Seq[String]] = {
    def rows(d: DataFrame) = d.collect().toSeq.map(_.toString).sorted
    val man = ConsistentState.readManifest(spark, root)
    ConsistentState.readConsistent(spark, root, man.keys.toSeq).map { case (t, d) => t -> rows(d) } ++
      Logs.map(l => l -> rows(StateTables.readLog(spark, s"$root/$l"))) +
      ("_CURRENT" -> man.toSeq.map(_.toString).sorted)
  }

  test("local and shuffled merges commit the same state, CDC and peer events, across a switch") {
    val batch2Us = 1704067200000000L + 301L * 1000000L // batch 2's first second
    for (seed <- Seq(11L, 12L)) {
      val batches = randomBatches(seed)
      val runs = Seq(Seq(Local, Local), Seq(Shuffled, Shuffled), Seq(Local, Shuffled),
        Seq(Shuffled, Local)).map { caps =>
        val root = Files.createTempDirectory("local_merge").toString
        val conf = GraftApp.Conf(root, registerViews = false)
        caps -> batches.zip(caps).zipWithIndex.map { case ((b, cap), id) =>
          GraftApp.processBatch(b, id.toLong, conf, cap)
          val rib = ConsistentState.readConsistent(spark, root, Seq("ip_rib"))("ip_rib")
          dump(root) + ("p1 batch-1 rib rows" -> Seq(rib
            .filter(col("peer_hash_id") === "p1" && col("ts_us") < batch2Us).count().toString))
        }
      }
      val want = runs.head._2
      // the inputs exercise what they claim to: withdraws, CDC rows, and
      // a T9 purge of every p1 row older than the up
      assert(want.head("ip_rib").exists(_.contains(",true,")))
      assert(want.head("ip_rib_log").nonEmpty && want.last("peer_events").nonEmpty)
      assert(want.head("p1 batch-1 rib rows") != Seq("0"))
      assert(want.last("p1 batch-1 rib rows") === Seq("0"))
      runs.tail.foreach { case (caps, got) =>
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g.keySet === w.keySet)
          g.keys.foreach(t => assert(g(t) === w(t), s"seed $seed, caps $caps, batch $i: $t"))
        }
      }
    }
  }

  /** A bootstrap batch, then `TableTrace` of a second batch under `cap`. */
  private def traced(cap: Long): Map[String, TableTrace.Pipeline] = {
    val conf = GraftApp.Conf(Files.createTempDirectory("local_plans").toString,
      registerViews = false)
    val Seq(b0, b1) = randomBatches(21L)
    GraftApp.processBatch(b0, 0L, conf, cap)
    TableTrace(spark)(GraftApp.processBatch(b1, 1L, conf, cap))
  }

  test("a small merge plans no shuffle exchange and runs one task per job; an over-cap one shuffles") {
    val local = traced(Local)
    assert(local.keySet === Set("collectors", "routers", "peer_events", "base_attrs", "ip_rib",
      "l3vpn_rib", "stat_reports", "ls_nodes", "ls_links", "ls_prefixes"))
    local.foreach { case (t, p) =>
      assert(!p.shuffles, s"$t planned a shuffle exchange")
      assert(p.tasksPerJob.forall(_ == 1), s"$t: tasks per job ${p.tasksPerJob}")
    }
    val shuffled = traced(Shuffled)
    Seq("collectors", "routers", "base_attrs", "ip_rib", "l3vpn_rib", "ls_nodes", "ls_links",
      "ls_prefixes").foreach(t => assert(shuffled(t).shuffles, s"$t planned no shuffle exchange"))
  }

  test("the cap compares both the committed version and the batch") {
    val root = Files.createTempDirectory("local_cap").toString
    val conf = GraftApp.Conf(root, registerViews = false)
    val Seq(b0, b1) = randomBatches(31L)
    GraftApp.processBatch(b0, 0L, conf, Local)
    val txn = ConsistentState.begin(spark, root)
    def bytes(t: String) = txn.current(t).get.queryExecution.analyzed.stats.sizeInBytes.toLong
    val ribBytes = bytes("ip_rib")
    assert(ribBytes > 0)
    assert(StateTables.mergesLocally(txn.current("ip_rib"), ribBytes))
    assert(!StateTables.mergesLocally(txn.current("ip_rib"), ribBytes - 1))
    // a table never committed counts 0 bytes; a negative cap never merges locally
    assert(StateTables.mergesLocally(None, 0))
    assert(!StateTables.mergesLocally(None, -1))
    // a batch over the cap merges shuffled though every state is under it
    val batch = b1.persist()
    try {
      batch.count()
      val cap = batch.queryExecution.optimizedPlan.stats.sizeInBytes.toLong - 1
      val tables = Seq("collectors", "base_attrs", "ip_rib", "l3vpn_rib", "ls_nodes", "ls_prefixes")
      assert(tables.forall(bytes(_) <= cap), tables.map(t => t -> bytes(t)) -> cap)
      val trace = TableTrace(spark)(GraftApp.processBatch(batch, 1L, conf, cap))
      tables.foreach(t => assert(trace(t).shuffles, s"$t planned no shuffle exchange"))
    } finally batch.unpersist()
  }
}
