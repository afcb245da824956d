package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * travel as opaque `binary` columns with a typed metadata struct; the
  * decode / feature-extract steps run batched per partition so a real
  * decoder (libjpeg, ffmpeg, …) amortizes its setup per task, exactly
  * like a Pandas-UDF/`mapInPandas` stage would in PySpark.
  *
  * Decode is STUBBED: `stubDecode` produces deterministic
  * pseudo-features from the bytes behind the signature a real decoder
  * would take. Everything around the seam — schema, batching, partition
  * mapping, output encoder — is the real Spark plumbing and is tested.
  */
object Multimodal {

  /** Canonical media-table schema: content is opaque bytes; metadata is
    * typed and queryable (partition/prune on kind + meta without ever
    * touching content — parquet column pruning keeps the 100 TB of bytes
    * unread for metadata-only queries).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("format", StringType),
      StructField("duration_ms", LongType))))))

  /** STUB decoder — stands in for image decode + feature extraction.
    * Deterministic in the content bytes: feature d = integer byte-fold
    * (Σ of bytes at positions ≡ d mod dim), reduced mod 2^24 so the
    * value is ALWAYS exactly representable in float32 regardless of
    * content size (unbounded lane sums would silently lose low bits
    * past 2^24) — engine-portable, so the driver's DuckDB oracle
    * reproduces it from the hex dump of the bytes. Replace with a real
    * decoder behind the same signature.
    */
  def stubDecode(content: Array[Byte], dim: Int): Array[Float] = {
    val acc = new Array[Long](dim)
    if (content != null) {
      var i = 0
      while (i < content.length) {
        acc(i % dim) += content(i) & 0xff
        i += 1
      }
    }
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) { out(d) = (acc(d) % (1L << 24)).toFloat; d += 1 }
    out
  }

  /** Batched per-partition feature extraction: binary content →
    * `features: array<float>`. One decoder instantiation per partition,
    * rows streamed through it — the Scala shape of `mapInPandas`.
    */
  def extractFeatures(df: DataFrame, contentCol: String, dim: Int): DataFrame = {
    val outSchema  = df.schema.add("features", ArrayType(FloatType))
    val contentIdx = df.schema.fieldIndex(contentCol)
    implicit val enc = Encoders.row(outSchema)
    df.mapPartitions { rows =>
      // decoder setup happens here, once per partition/task (an ffmpeg
      // handle, a JNI context)
      rows.map { r =>
        val content = r.get(contentIdx).asInstanceOf[Array[Byte]]
        Row.fromSeq(r.toSeq :+ stubDecode(content, dim).toSeq)
      }
    }
  }

  /** Deterministic frame sampling for video-kind rows: pick every k-th
    * "frame" offset from the byte stream (stub: offsets only; a real
    * implementation hands offsets to the demuxer). Pure column ops.
    */
  def sampleFrameOffsets(df: DataFrame, contentCol: String, everyN: Int): DataFrame =
    df.withColumn("frame_offsets",
      when(col(contentCol).isNotNull,
        transform(
          sequence(lit(0), greatest((length(col(contentCol)) / everyN).cast("int") - 1, lit(0))),
          i => i * everyN))
        .otherwise(array().cast(ArrayType(IntegerType))))

  /** Perceptual-hash table over an extracted feature vector: bit b is
    * set iff lane b exceeds the MEAN lane (the classic aHash/pHash
    * thresholding, here over whatever [[extractFeatures]] produced —
    * stub byte-folds in this container, luminance histograms or DCT
    * coefficients behind the same seam in production). All integer:
    * lane·bits > Σ lanes avoids the mean division entirely, so the
    * fingerprint is engine-exact and the near-dup join
    * ([[Dedup.hammingPairs]]) is oracle-reproducible.
    *
    * Pure scan-stage projection: one interpreted fold for the lane
    * total (bits adds/row), then `bits` codegen'd comparisons.
    *
    * @return (idCol, fp) — fp over the low `bits` bits
    */
  def phashTable(df: DataFrame, idCol: String, featuresCol: String,
                 bits: Int): DataFrame = {
    require(bits >= 4 && bits <= 62, s"bits ($bits) must be in [4, 62]")
    val tot = aggregate(
      transform(col(featuresCol), x => x.cast("long")),
      lit(0L), (a, x) => a + x)
    val withTot = df.select(col(idCol),
      col(featuresCol).as("__f"), tot.as("__tot"))
    val fp = (0 until bits)
      .map(b => when(
        element_at(col("__f"), b + 1).cast("long") * bits > col("__tot"),
        lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    withTot.select(col(idCol), fp.as("fp"))
  }

  /** Build a media table from any binary-ish source column (used by
    * tests; production ingests parquet/tar shards directly).
    */
  def fromBytes(spark: SparkSession, rows: Seq[(Long, String, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("media_id", "kind", "content")
      .withColumn("meta", struct(
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit("raw").as("format"),
        lit(null).cast(LongType).as("duration_ms")))
  }
}
