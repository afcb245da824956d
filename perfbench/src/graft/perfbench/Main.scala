package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * {{{
  *   Main --workload <ingest_steady|gates> --seed N --seconds S
  *        --trace 0|1 --cpus N --work DIR --out FILE [--trace-file FILE]
  *        [--gates a,b,.. --data-dir DIR [--expected FILE]]
  * }}}
  * Writes the run's measurements and checks to `--out` as one JSON
  * object; `--trace 1` also registers the listeners of [[Tracer]] and
  * writes its spans to `--trace-file`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = opt("cpus").toInt
    val work = Files.createDirectories(Path.of(opt("work")))

    val base = SparkSession.builder().master(s"local[$cpus]")
      // placement only: spill, shuffle and warehouse files stay in the run directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = workload match {
      case "gates" =>
        // graft.Bench's session
        base.appName("graft-bench")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.codegen.cache.maxEntries", "5000")
          .config("spark.sql.extensions", "graft.plans.GraftExtensions")
          .getOrCreate()
      case "ingest_steady" =>
        // GraftApp.main's session, plus one shuffle partition per core as
        // graft.Bench and the test session set: with Spark's default of
        // 200 a 2k-message batch takes about 45 s on 4 cores, too long
        // for the run budget
        base.appName("graft-consumer")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .getOrCreate()
      case other => sys.error(s"unknown workload $other")
    }
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    val result = try workload match {
      case "gates" =>
        // the gate tables are fixed, so one generation serves every run
        val data = Path.of(opt("data-dir"))
        if (!Files.exists(data.resolve("_DONE"))) {
          val tmp = work.resolve("gates-data")
          GateData.write(spark, tmp.toString, cpus)
          Files.createFile(tmp.resolve("_DONE"))
          Files.createDirectories(data.getParent)
          Files.move(tmp, data, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        val dataDir = data.toString
        val expected = opt.get("expected").map(p => readDigests(Path.of(p))).getOrElse(Map.empty)
        GateRun.run(spark, opt("gates").split(",").toSeq, expected, seed, seconds,
          tracer, dataDir, jvmStartMs)
      case "ingest_steady" =>
        IngestRun.run(spark, seed, seconds, tracer, work, jvmStartMs)
    } finally {
      tracer.foreach { t =>
        opt.get("trace-file").foreach(f => t.writeSpans(Path.of(f)))
        t.uninstall()
      }
    }
    spark.stop()

    val json = Json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "attempted" -> result.attempted, "failed" -> result.failed, "correct" -> result.correct,
      "e2e" -> result.e2e, "layers" -> result.layers, "named" -> result.named,
      "extra" -> result.extra))
    Files.write(Path.of(opt("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  /** One `name rows hash` line per gate. */
  private def readDigests(p: Path): Map[String, GateRun.Digest] =
    Files.readAllLines(p).asScala.map(_.split(" ")).collect {
      case Array(name, rows, hash) => name -> GateRun.Digest(rows.toLong, hash)
    }.toMap
}
