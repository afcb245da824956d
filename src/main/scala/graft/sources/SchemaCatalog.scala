package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-session parquet schema cache for the read path.
  *
  * `spark.read.parquet(path)` without a schema launches a one-task Spark
  * job that reads a footer; a gate pass reads each table again, so every
  * warm pass paid that job per table. [[read]] infers a path's schema
  * once per session and reads with it afterwards. An entry is keyed by
  *
  *  - the path;
  *  - a recursive listing fingerprint (file names, lengths, modification
  *    times), so a table rewritten at the same path infers again;
  *  - every SQL conf Spark's parquet schema inference reads
  *    ([[InferenceConfs]]), so e.g. a `nanosAsLong` flip infers again.
  *
  * Entries hang off the session weakly: a stopped, unreferenced session
  * and its entries are collected; sibling sessions (`newSession`) share
  * nothing.
  */
object SchemaCatalog {

  /** The confs Spark 4.1's parquet schema converter and schema inference
    * read (binary/INT96/NTZ/nanos/field-id/variant/unknown-type handling,
    * case sensitivity, schema merging, partition-value typing).
    */
  private[graft] val InferenceConfs: Seq[String] = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Key(path: String, listing: Seq[(String, Long, Long)],
                               confs: Seq[Option[String]])

  /** session → path → (key, schema): one entry per path, replaced when
    * its key changes.
    */
  private val entries = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Key, StructType)]]()

  private def sessionEntries(spark: SparkSession) = entries.synchronized {
    entries.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (Key, StructType)]())
  }

  /** None when `path` does not exist (the read then fails as Spark's would). */
  private def key(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSeq.sorted
      Some(Key(path, files, InferenceConfs.map(spark.conf.getOption)))
    }
  }

  /** The schema `spark.read.parquet(path)` infers, from this session's
    * cache when the files and confs are unchanged since it was inferred.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    key(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(k) =>
        val cached = sessionEntries(spark)
        // no lock held while inferring: two racing first reads both infer
        Option(cached.get(path)).filter(_._1 == k).map(_._2).getOrElse {
          val s = spark.read.parquet(path).schema
          cached.put(path, k -> s)
          s
        }
    }

  /** `spark.read.parquet(path)`, inferring its schema at most once per
    * session, listing and confs.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)
}
