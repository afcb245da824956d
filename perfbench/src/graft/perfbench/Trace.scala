package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the program from outside for the traced run: a
  * `SparkListener` (jobs, stages, task metrics, SQL execution starts),
  * a `QueryExecutionListener` (Catalyst phase timings), a
  * `StreamingQueryListener` (micro-batch `durationMs`) and deltas of
  * Spark's codegen compile-time histogram. Nothing in the program is
  * changed; every number comes from events Spark already publishes or
  * from stack samples of a program thread ([[sampleThread]]).
  *
  * Each job is attributed to a program function through its
  * `spark.sql.execution.id`: the execution's start event carries the
  * call stack of the thread that started it, and the first `graft.`
  * frame outside this package names the function. (A job's own call
  * site is useless under AQE, which submits stage jobs from a pool.)
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val owner = mutable.HashMap.empty[Long, String]
  private val rootOf = mutable.HashMap.empty[Long, Long]
  private val phases = mutable.ArrayBuffer.empty[Phases]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.id").map(_.toLong)
      val j = Job(e.jobId, e.time, exec,
        prop("streaming.sql.batchId").map(_.toLong))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        s.rootExecutionId.foreach(r => rootOf(s.executionId) = r)
        owner(s.executionId) = firstGraftFrame(s.details)
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases += Phases(System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // transitions of the sampled thread's innermost graft function
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var sampling = false

  /** Sample, every `everyMs`, the stack of the thread that is running
    * a frame matching `marker` (found by scanning all threads until one
    * shows it, then followed), recording when its innermost `graft.`
    * function changes. Streaming jobs need this: the stream pins the
    * call site of every execution it starts to the query's start.
    */
  def sampleThread(marker: String, everyMs: Long = 5): Unit = {
    sampling = true
    val th = new Thread(() => {
      var target: Option[Thread] = None
      var last = ""
      while (sampling) {
        if (target.forall(!_.isAlive))
          target = Thread.getAllStackTraces.asScala.collectFirst {
            case (t, st) if st.exists(_.toString.contains(marker)) => t
          }
        target.foreach { t =>
          val fn = firstGraftFrame(t.getStackTrace.map(_.toString).mkString("\n"))
          if (fn != last) { lock.synchronized(samples += ((System.currentTimeMillis(), fn))); last = fn }
        }
        Thread.sleep(everyMs)
      }
    }, "perfbench-sampler")
    th.setDaemon(true)
    th.start()
  }

  def stopSampling(): Unit = if (sampling) {
    sampling = false
    lock.synchronized(spans ++= sampledSegments)
  }

  /** The sampled thread's time as (function, start, end) segments. */
  def sampledSegments: Seq[Span] = lock.synchronized {
    samples.zip(samples.drop(1).map(_._1) :+ System.currentTimeMillis()).map {
      case ((t0, fn), t1) => Span(fn, t0, t1, "sampled-thread")
    }.toSeq
  }

  /** The sampled thread's innermost graft function at time `t`. */
  def sampledAt(t: Long): Option[String] = lock.synchronized {
    val i = samples.lastIndexWhere(_._1 <= t)
    if (i < 0) None else Some(samples(i)._2)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    // the bus is asynchronous: a marker job's end event proves every
    // earlier event was delivered to this listener
    val marker = spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
           lock.synchronized(jobs.values.exists(_.end == 0L))) Thread.sleep(5)
    require(marker == 1)
  }

  def uninstall(): Unit = {
    stopSampling()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** The program function a job belongs to (see the class comment). */
  def functionOf(j: Job): String = lock.synchronized {
    j.execId.map(e => rootOf.getOrElse(e, e)).flatMap(r =>
      owner.get(r).orElse(j.execId.flatMap(owner.get))).getOrElse("unattributed")
  }

  def allJobs: Seq[Job] = lock.synchronized(jobs.values.toSeq)
  def allProgress: Seq[StreamingQueryProgress] = lock.synchronized(progress.toSeq)

  def jobsIn(t0: Long, t1: Long): Seq[Job] = lock.synchronized {
    jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  def phasesIn(t0: Long, t1: Long): Seq[Phases] = lock.synchronized {
    phases.filter(p => p.atMs >= t0 && p.atMs <= t1).toSeq
  }

  def span(name: String, start: Long, end: Long, parent: String): Unit =
    lock.synchronized { spans += Span(name, start, end, parent) }

  def writeSpans(file: Path): Unit = {
    val text = lock.synchronized(spans.map(s => Json(Map(
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "parent" -> s.parent))).mkString("", "\n", "\n"))
    Files.write(file, text.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, execId: Option[Long], batchId: Option[Long]) {
    var end = 0L
    var stages = 0
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
  }
  final case class Phases(atMs: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double)
  final case class Span(name: String, start: Long, end: Long, parent: String)

  /** `graft.streaming.ConsistentState$Txn.stage(ConsistentState.scala:120)`
    * → `ConsistentState.stage`; frames of this package are skipped, and a
    * class-loader prefix (`app//`) is ignored.
    */
  def firstGraftFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim.replaceFirst("^[^ (]*//", ""))
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .map { f =>
        val qual = f.takeWhile(_ != '(')
        val method = qual.substring(qual.lastIndexOf('.') + 1)
        val cls = qual.substring(0, qual.lastIndexOf('.'))
        val simple = cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
        val m = if (method.startsWith("$anonfun$")) method.stripPrefix("$anonfun$").takeWhile(_ != '$') else method
        s"$simple.$m"
      }.getOrElse("unattributed")

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE < 0 || s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  /** Spark's codegen compile-time histogram: (classes compiled, total ms).
    * Read reflectively; the histogram's reservoir holds every sample
    * until it fills, after which the mean stands in for the lost ones.
    */
  def codegen(): (Long, Double) = {
    val mod = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$").getField("MODULE$").get(null)
    val h = mod.getClass.getMethod("METRIC_COMPILATION_TIME").invoke(mod)
      .asInstanceOf[com.codahale.metrics.Histogram]
    val snap = h.getSnapshot
    val n = h.getCount
    val values = snap.getValues
    val sum = if (values.length >= n) values.map(_.toDouble).sum else snap.getMean * n
    (n, sum)
  }
}
