package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{ConsistentState, GraftApp}

/** End-to-end replay: FIXTURES.md scenario 1 (advertise → attr change →
  * withdraw → re-advertise) through the deployed write path
  * ([[GraftApp.processBatch]]: parse → dedup → merge → CDC → manifest
  * commit), across multiple batches with state persisted between them.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def line(hash: String, attr: String, ts: String, withdrawn: Boolean) =
    s"$hash\tp1\t$attr\t1\t65001\t10.0.0.0\t8\t$ts\t$withdrawn\t0\t\t1\t1"

  private def prefixBatch(lines: String*) = lines.toDF("line")
    .select(lit(GraftApp.TopicPrefix + "unicast_prefix").as("topic"), col("line"))

  test("multi-batch merge: retain-on-withdraw + CDC log across batches") {
    val conf = GraftApp.Conf(Files.createTempDirectory("graft_ingest").toString)

    // batch 1: advertise with attr a1, then attr change to a2 (same batch
    // → writer compression keeps only the latest, like WriterRunnable)
    GraftApp.processBatch(prefixBatch(
      line("h1", "a1", "2024-01-01 00:00:01.000000", withdrawn = false),
      line("h1", "a2", "2024-01-01 00:00:02.000000", withdrawn = false)), 0L, conf)
    // batch 2: withdraw — attr must be retained as a2
    GraftApp.processBatch(prefixBatch(
      line("h1", "", "2024-01-01 00:00:03.000000", withdrawn = true)), 1L, conf)
    // batch 3: re-advertise with a3
    GraftApp.processBatch(prefixBatch(
      line("h1", "a3", "2024-01-01 00:00:04.000000", withdrawn = false)), 2L, conf)

    val st = ConsistentState.readConsistent(spark, conf.root, Seq("ip_rib"))("ip_rib")
    assert(st.count() === 1)
    val row = st.head()
    assert(row.getAs[String]("base_attr_hash_id") === "a3")
    assert(row.getAs[Boolean]("isWithdrawn") === false)

    // CDC log: batch1 emits latest advertise (a2), batch2 the withdraw
    // carrying OLD attr a2, batch3 the re-advertise (a3)
    val lg = spark.read.parquet(s"${conf.root}/ip_rib_log")
      .orderBy("ts_us")
      .select("base_attr_hash_id", "isWithdrawn")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(lg === Seq(("a2", false), ("a2", true), ("a3", false)))
  }
}
