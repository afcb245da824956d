package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.StateTables
import graft.sources.SchemaCatalog

/** Counts the jobs a body launches and how many of them infer a parquet
  * schema: an inference job's call site is a `DataFrameReader` method
  * (every other job is an action's or a write's).
  */
object JobCount {
  def isInference(j: SparkListenerJobStart): Boolean =
    j.stageInfos.exists(_.details.startsWith("org.apache.spark.sql.classic.DataFrameReader.")) &&
      !Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .exists(_.startsWith("Listing leaf files"))

  /** (jobs, inference jobs) that `body` launches from this thread or
    * threads inheriting its local properties.
    */
  def apply(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobCount"
    val label = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val inferred = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)).orNull match {
          case `label` =>
            jobs.incrementAndGet()
            if (isInference(j)) inferred.incrementAndGet()
          case m if m == label + "/end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, label)
      body
      sc.setLocalProperty(tag, label + "/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
      (jobs.get, inferred.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}

/** Recorded schemas: the per-session read-path catalog and the CDC/append
  * logs' recorded schema.
  */
class SchemaRecordSpec extends SparkSpec {
  import spark.implicits._

  private def inferred(body: => Unit): Int = JobCount(spark)(body)._2

  test("catalog: a table rewritten at the same path infers again") {
    val p = Files.createTempDirectory("catalog_rw").toString + "/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    assert(inferred(SchemaCatalog.read(spark, p)) === 1)
    assert(inferred(assert(SchemaCatalog.read(spark, p).collect().length === 1)) === 0)
    Seq((2L, "b", 3.0)).toDF("id", "s", "x").write.mode("overwrite").parquet(p)
    var df: org.apache.spark.sql.DataFrame = null
    assert(inferred { df = SchemaCatalog.read(spark, p) } === 1)
    assert(df.columns.toSeq === Seq("id", "s", "x"))
    assert(df.as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 3.0)))
    assert(inferred(SchemaCatalog.read(spark, p)) === 0)
  }

  test("catalog: a nanosAsLong flip infers again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val p = Files.createTempDirectory("catalog_conf").toString + "/t.parquet"
    Seq(1L).toDF("id").write.parquet(p)
    try {
      spark.conf.set(key, "true")
      assert(inferred(SchemaCatalog.read(spark, p)) === 1)
      assert(inferred(SchemaCatalog.read(spark, p)) === 0)
      spark.conf.set(key, "false")
      assert(inferred(SchemaCatalog.read(spark, p)) === 1)
      assert(inferred(SchemaCatalog.read(spark, p)) === 0)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("catalog: two sessions do not share entries") {
    val p = Files.createTempDirectory("catalog_sess").toString + "/t.parquet"
    Seq(1L).toDF("id").write.parquet(p)
    assert(inferred(SchemaCatalog.read(spark, p)) === 1)
    val other = spark.newSession()
    assert(inferred(SchemaCatalog.read(other, p)) === 1)
    assert(inferred(SchemaCatalog.read(other, p)) === 0)
    assert(inferred(SchemaCatalog.read(spark, p)) === 0)
  }

  test("log schema: a write changing a recorded column's type is refused") {
    val log = Files.createTempDirectory("logschema_type").toString + "/t_log"
    StateTables.writeCdcBatch(spark, Seq((1L, "a")).toDF("v", "s"), log, Some(0L))
    val e = intercept[IllegalArgumentException](
      StateTables.writeCdcBatch(spark, Seq(("x", "b")).toDF("v", "s"), log, Some(1L)))
    assert(e.getMessage.contains("v"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$log/batch=1")), "the refused rows were written")
    assert(StateTables.logSchema(spark, log).get === spark.read.parquet(log).schema)
  }

  test("log schema: a write adding a column widens it; older partitions read null") {
    val log = Files.createTempDirectory("logschema_add").toString + "/t_log"
    StateTables.writeCdcBatch(spark, Seq((1L, "a")).toDF("v", "s"), log, Some(0L))
    assert(StateTables.logSchema(spark, log).get === spark.read.parquet(log).schema)
    StateTables.writeCdcBatch(spark, Seq((2L, "b", true)).toDF("v", "s", "flag"), log, Some(1L))
    val schema = StateTables.logSchema(spark, log).get
    assert(schema.fieldNames.toSeq === Seq("v", "s", "flag", "batch"))
    assert(schema("flag").dataType === BooleanType && schema("batch").dataType === IntegerType)
    val rows = StateTables.readLog(spark, log).orderBy("batch")
      .select("v", "flag", "batch").as[(Long, Option[Boolean], Int)].collect().toSeq
    assert(rows === Seq((1L, None, 0), (2L, Some(true), 1)))
    // a batch id beyond int range types the partition column as inference would
    StateTables.writeCdcBatch(spark, Seq((3L, "c", false)).toDF("v", "s", "flag"), log,
      Some(1L << 33))
    assert(StateTables.logSchema(spark, log).get("batch").dataType === LongType)
    assert(StateTables.readLog(spark, log).filter(col("batch") === (1L << 33)).count() === 1)
  }
}
