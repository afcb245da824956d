package graft

import org.apache.spark.sql.SparkSession

/** The local session of every main and spec: one task slot and one
  * shuffle partition per core, UTC, and the Graft extension set.
  * `SPARK_GRAFT_CPUS` sets the core count; unset, every available
  * processor. [[graft.streaming.GraftApp]]'s cluster session is built
  * apart, by `GraftApp.session()`.
  */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
      // parquet reader rejects; read as raw nanos longs instead
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 50 queries × several codegen'd stages each blows through the
      // default 100-entry generated-class cache — evictions force
      // recompiles that inflate individual queries by seconds (observed
      // 8.5s in-bench vs 1.1s isolated). Static conf, set before the
      // session exists.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // physical top-k rewrite (BoundedTopKRule) + the inet/array/text
      // function set; semantics-preserving, so the correctness dump
      // grades the plans the bench times
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
