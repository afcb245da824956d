package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries

/** The read-path workload: a fixed subset of `Queries.all` over
  * generated tables, one cold pass in the fresh session, then warm
  * passes in a seed-shuffled order until the time is up.
  *
  * A gate run is timed from `q.run` to the end of one aggregate that
  * forces every output column: the row count plus an order-independent
  * content hash (sum of per-row xxhash64). A gate that throws, or whose
  * count or hash differs from the recorded digest, is a failed
  * operation and stays out of every time total.
  */
object GateRun {

  final case class Digest(rows: Long, hash: String)

  /** Warm passes run at least this often: `warm_s` takes each gate's
    * fastest run, as `graft.Bench` does over its two warm passes.
    */
  private val MinWarmPasses = 2

  private final class GateStats(val name: String) {
    val times = mutable.ArrayBuffer.empty[Double]
    var cold = -1.0
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var coldLayer = Map.empty[String, Double]
    var digest: Option[Digest] = None
  }

  def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).cast("string"))
      .collect()(0)
    Digest(r.getLong(0), r.getString(1))
  }

  def run(spark: SparkSession, gates: Seq[String], expected: Map[String, Digest],
          seed: Long, seconds: Int, tracer: Option[Tracer], dataDir: String,
          jvmStartMs: Long): Result = {
    val inventory = gates.map(n => Queries.all.find(_.name == n)
      .getOrElse(sys.error(s"gate $n is not in Queries.all")))
    // untimed session warm-up, as graft.Bench does before its passes
    val w = spark.read.parquet(s"$dataDir/nation.parquet")
    w.join(w.groupBy("n_regionkey").count(), Seq("n_regionkey")).count()

    val stats = inventory.map(q => q.name -> new GateStats(q.name)).toMap
    var attempted = 0L
    var failed = 0L
    val mismatched = mutable.LinkedHashSet.empty[String]

    def once(q: Queries.Q, pass: String): Unit = {
      val st = stats(q.name)
      attempted += 1
      val c0 = tracer.map(_ => Tracer.codegen())
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val outcome = try {
        val df = q.run(spark, dataDir)
        val built = System.currentTimeMillis(); val nb = System.nanoTime()
        val d = digest(df)
        Right((d, built, (nb - n0) / 1e6))
      } catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      spark.catalog.clearCache() // operators may persist() intermediates
      System.gc()
      outcome match {
        case Left(e) =>
          failed += 1
          mismatched += q.name
          System.err.println(s"[perfbench] ${q.name} failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right((d, built, buildMs)) =>
          val ok = expected.get(q.name).forall(_ == d) && st.digest.forall(_ == d)
          if (st.digest.isEmpty) st.digest = Some(d)
          if (!ok) { failed += 1; mismatched += q.name }
          else {
            if (pass == "cold") st.cold = ms else st.times += ms
            tracer.foreach { t =>
              val l = gateLayers(t, q.name, pass, t0, built, t1, buildMs, c0.get)
              if (pass == "cold") st.coldLayer = l else st.layer += l
            }
          }
      }
    }

    val firstOpMs = System.currentTimeMillis()
    inventory.foreach(q => once(q, "cold"))
    val warmStart = System.currentTimeMillis()
    val rnd = new scala.util.Random(seed)
    var passes = 0
    while (passes < MinWarmPasses || System.currentTimeMillis() - warmStart < seconds * 1000L) {
      rnd.shuffle(inventory).foreach(q => once(q, s"warm${passes + 1}"))
      passes += 1
    }

    val good = stats.values.filter(s => s.cold >= 0 && s.times.nonEmpty).toSeq
    val coldS = good.map(_.cold).sum / 1000.0
    val warmS = good.map(_.times.min).sum / 1000.0
    val runs = good.flatMap(_.times).sorted
    val tail = Stats.tail(runs)
    val e2e = Map(
      "setup_s" -> (firstOpMs - jvmStartMs) / 1000.0,
      "cold_s" -> coldS,
      "warm_s" -> warmS,
      "ok_share" -> (1.0 - failed.toDouble / attempted))
    val named = Map(
      "gates_cold_s" -> coldS,
      "gates_warm_s" -> warmS,
      "gate_runs_per_s" -> (if (runs.isEmpty) 0.0 else runs.size / (runs.sum / 1000.0)),
      "gate_ms_tail" -> tail._1,
      "gate_ms_tail_percentile" -> tail._2,
      "gate_ms_tail_samples_beyond" -> tail._3,
      "failed_share" -> failed.toDouble / attempted)
    val extra = Map(
      "gates" -> inventory.size,
      "warm_passes" -> passes,
      "failed_gates" -> mismatched.toSeq,
      "digests" -> stats.values.flatMap(s => s.digest.map(d =>
        s.name -> Map("rows" -> d.rows, "hash" -> d.hash))).toMap,
      "per_gate_ms" -> stats.values.map(s => s.name -> Map(
        "cold" -> s.cold, "warm" -> s.times.toSeq)).toMap)

    val layers: Map[String, Double] =
      if (tracer.isEmpty) Map.empty
      else {
        // codegen from the cold pass; everything else per gate median over warm passes
        val cg = Seq("codegen.compile_ms", "codegen.classes")
        val warmKeys = good.flatMap(_.layer.flatMap(_.keys)).distinct.filterNot(cg.contains)
        cg.map(k => k -> good.map(_.coldLayer.getOrElse(k, 0.0)).sum).toMap ++
          warmKeys.map(k => k -> good.map(s => Stats.median(s.layer.map(_.getOrElse(k, 0.0)).sorted.toSeq)).sum)
      }
    val perGateLayers: Map[String, Any] =
      if (tracer.isEmpty) Map.empty
      else Map("per_gate_layers" -> good.map(s => s.name -> Map("cold" -> s.coldLayer,
        "warm" -> s.layer.toSeq)).toMap)
    Result(attempted, failed, failed == 0, e2e, layers, named, extra ++ perGateLayers)
  }

  /** One gate run split into build (inside `q.run`), Catalyst phases,
    * codegen and execution (jobs of the final aggregate).
    */
  private def gateLayers(t: Tracer, gate: String, pass: String, t0: Long, built: Long, t1: Long,
                         buildMs: Double, c0: (Long, Double)): Map[String, Double] = {
    t.drain()
    val c1 = Tracer.codegen()
    val buildJobs = t.jobsIn(t0, built)
    val execJobs = t.jobsIn(built + 1, t1)
    val ph = t.phasesIn(t0, t1 + 1)
    val parent = s"$pass/$gate"
    t.span(parent, t0, t1, pass)
    t.span("Queries.build", t0, built, parent)
    t.span("exec", built, t1, parent)
    (buildJobs ++ execJobs).foreach(j => t.span(t.functionOf(j), j.start, j.end, parent))
    Map(
      "Queries.build_ms" -> buildMs,
      "Queries.build_jobs" -> buildJobs.size.toDouble,
      "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> ph.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> ph.map(_.planningMs).sum,
      "codegen.compile_ms" -> (c1._2 - c0._2),
      "codegen.classes" -> (c1._1 - c0._1).toDouble,
      "exec.ms" -> Tracer.unionMs(execJobs.map(j => (j.start, j.end))).toDouble,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.tasks" -> execJobs.map(_.tasks).sum.toDouble,
      "exec.shuffle_bytes" -> execJobs.map(_.shuffleBytes).sum.toDouble,
      "exec.spill_bytes" -> execJobs.map(_.spillBytes).sum.toDouble,
      "exec.gc_ms" -> (buildJobs ++ execJobs).map(_.gcMs).sum.toDouble)
  }
}
