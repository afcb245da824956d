package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  val media = Multimodal.fromBytes(spark, Seq(
    (1L, "image", "fake-jpeg-bytes-aaaa".getBytes("UTF-8")),
    (2L, "image", "fake-jpeg-bytes-aaaa".getBytes("UTF-8")), // identical content
    (3L, "video", "fake-mp4-bytes-0123456789".getBytes("UTF-8")),
    (4L, "image", null)))

  test("extractFeatures: schema, determinism, null content") {
    val f = Multimodal.extractFeatures(media, "content", dim = 8)
    assert(f.schema("features").dataType.typeName === "array")
    val rows = f.select(col("media_id"), col("features")).as[(Long, Seq[Float])]
      .collect().toMap
    assert(rows(1L) === rows(2L))          // deterministic in content
    assert(rows(1L).length === 8)
    assert(rows(1L) !== rows(3L))
    assert(rows(4L) === Seq.fill(8)(0.0f)) // null content → zero vector
  }

  test("metadata-only query never reads content (column pruning)") {
    val plan = media.select("media_id", "kind", "meta.format")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("content") || plan.contains("LocalTableScan"))
    val counts = media.groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(counts("image") === 3L)
  }

  test("frame sampling produces deterministic offsets") {
    val offs = Multimodal.sampleFrameOffsets(media.filter(col("kind") === "video"),
      "content", everyN = 10)
      .select("frame_offsets").as[Seq[Int]].head()
    assert(offs === Seq(0, 10))
  }

  test("phashTable: mean-threshold bits, identical content collides") {
    val m = Multimodal.fromBytes(spark, Seq(
      (1L, "image", "same bytes here!".getBytes("UTF-8")),
      (2L, "image", "same bytes here!".getBytes("UTF-8")),
      (3L, "image", "totally different content....".getBytes("UTF-8"))))
    val feats = Multimodal.extractFeatures(m, "content", dim = 8)
    val fp = Multimodal.phashTable(feats, "media_id", "features", bits = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
    // hand replay: lane sums of the byte fold, bit = lane·8 > total
    val lanes = Multimodal.stubDecode("same bytes here!".getBytes("UTF-8"), 8)
      .map(_.toLong)
    val tot = lanes.sum
    val want = lanes.zipWithIndex
      .map { case (v, b) => if (v * 8 > tot) 1L << b else 0L }.sum
    assert(fp(1L) === want)
  }

  test("phash near-dup pipeline: banded join finds the identical pair") {
    val m = Multimodal.fromBytes(spark, Seq(
      (1L, "image", "same bytes here!".getBytes("UTF-8")),
      (2L, "image", "same bytes here!".getBytes("UTF-8")),
      (3L, "image", "totally different content....".getBytes("UTF-8"))))
    val feats = Multimodal.extractFeatures(m, "content", dim = 60)
    val pairs = graft.operators.Dedup.hammingPairs(
      Multimodal.phashTable(feats, "media_id", "features", bits = 60)
        .withColumnRenamed("media_id", "id"),
      maxHamming = 0, bits = 60, nChunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }
}
