package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Cross-table consistent snapshots — the engine's answer to the
  * reference getting multi-table read consistency for free from
  * Postgres MVCC (`v_ip_routes` joins ip_rib ⋈ bgp_peers ⋈ base_attrs
  * ⋈ routers inside ONE transaction, `database/8_views.sql:31-51`).
  *
  * With each state table committing independently (one streaming query
  * per table), a reader can observe rib@batch N joined against
  * peers@batch N−1 — a torn view the reference cannot produce. This
  * module restores the invariant with a single commit point fanned over
  * every table. A table is a set of `n` key-hash buckets; `n` = 1 for
  * the small tables, `n` > 1 for the RIB-scale ones:
  *
  * {{{
  *   <root>/<table>/v<N>/                       1 bucket: the whole table at version N
  *   <root>/<table>/v<N>/__bucket=<i>/          n buckets: bucket i as rewritten at N
  *   <root>/<table>/v<N>/_BUCKETS               every version: its map (buckets=1 or n,
  *                                              read schema, bucket → version)
  *   <root>/<table>_log/_SCHEMA                 a CDC/append log's read schema
  *                                              (StateTables.writeCdcBatch)
  *   <root>/_CURRENT                            the ONE manifest: "<table>=<version>" lines
  * }}}
  *
  * A batch stages each table's next version to a NEW directory (never
  * in place): a 1-bucket table writes all its rows, an n-bucket table
  * only the buckets the batch touched; either way it writes an immutable
  * map naming the version that holds each of its buckets (unchanged
  * buckets keep pointing at older versions) and the schema every reader
  * reads with, so no read infers one. Then `_CURRENT` is swapped once
  * (tmp + atomic rename) — the only rename in the protocol. Readers resolve
  * the manifest ONCE ([[readConsistent]]) and pin every table's plan to
  * the versions it names, listing exactly the bucket directories the
  * map names — a merge committing concurrently writes v(N+1) dirs and
  * swaps the pointer, but never touches the files a pinned plan lists.
  * Torn reads are impossible by construction: either the reader
  * resolved before the swap (all tables at N) or after (all at N+1).
  *
  * Crash model ([[GraftApp.processBatch]] replays a crashed micro-batch
  * under its original batch id): a crash anywhere before the pointer
  * swap leaves `_CURRENT` untouched, so readers see the old state; the
  * replayed batch opens a new txn on that state, overwrites its own
  * orphan `v` directories (idempotent merge ⇒ identical content) and
  * commits once. A crash after the swap leaves the new state published;
  * the replay merges idempotently on top of it. Pruning runs only
  * after the swap and deletes only what no retained version names.
  *
  * Version retention is the reader contract: a plan pinned at version N
  * stays valid for the next `keepVersions − 1` commits. Size it to the
  * longest query you run against live state (Iceberg/Delta snapshot
  * retention, reduced to its essentials). A bucket directory is deleted
  * once no map of the last `keepVersions` versions names it.
  *
  * WRITER contract: ONE writer per root. The reference gets this from
  * Postgres row locks; here [[GraftApp]] enforces it structurally — the
  * whole topology is ONE streaming query, so one `Txn` exists at a time.
  * Inside that txn, [[Txn.stage]] may be called from several threads,
  * one per table (GraftApp runs a batch's table pipelines
  * concurrently); staging a table twice in one txn is refused, and
  * [[Txn.commit]] runs once, after every stage has returned.
  * Two concurrent txns on one root would race `base`: both compute
  * "next = current + my batch" and the second pointer swap would
  * silently drop the first's rows (lost update). [[Txn.commit]] turns
  * that misconfiguration loud: it re-reads `_CURRENT` and REFUSES
  * (`ConcurrentModificationException`) when a foreign commit landed
  * after this txn opened. The check is detection, not a lock — the
  * re-read→rename window is not atomic on a filesystem, and two txns
  * staging the SAME table concurrently race the staged `v` directory
  * itself before either commits — so it converts the common deployment
  * error (two apps pointed at one root) into a crash instead of data
  * loss, while the contract itself remains single-writer. (Full
  * multi-writer safety would need Iceberg-style unique snapshot file
  * names plus a CAS on the pointer — machinery the one-streaming-query
  * design makes unnecessary here.)
  */
object ConsistentState {

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** The directory column an n-bucket table's rows are partitioned by. */
  private[graft] val BucketCol = "__bucket"
  private val MapFile = "_BUCKETS"

  private def mapPath(root: String, table: String, version: Int) =
    new Path(s"$root/$table/v$version", MapFile)

  /** A table version's map: the bucket function (`numBuckets` over
    * `keys`; no keys for one bucket), the read schema — for n buckets the
    * union of every bucket it names (buckets not rewritten since a column
    * was added null-fill it — `ALTER TABLE … ADD COLUMN` read semantics)
    * — and bucket → the version whose directory holds it. A bucket absent
    * from the map is empty. One bucket's directory is its version's own.
    */
  private[graft] final case class BucketMap(numBuckets: Int, keys: Seq[String],
                                            schema: StructType, versions: Map[Int, Int]) {
    def dir(root: String, table: String, bucket: Int): Path =
      if (numBuckets == 1) new Path(s"$root/$table/v${versions(bucket)}")
      else new Path(s"$root/$table/v${versions(bucket)}/$BucketCol=$bucket")

    def render: String =
      (Seq(s"buckets=$numBuckets", s"keys=${keys.mkString(",")}", s"schema=${schema.json}") ++
        versions.toSeq.sorted.map { case (b, v) => s"$b=$v" }).mkString("", "\n", "\n")
  }

  /** The map of `table` at `version`; None if that version was never staged. */
  private[graft] def bucketMap(spark: SparkSession, root: String, table: String,
                               version: Int): Option[BucketMap] = {
    val p  = mapPath(root, table, version)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val kv = lines.linesIterator.filter(_.nonEmpty).map { ln =>
        val i = ln.indexOf('='); ln.take(i) -> ln.drop(i + 1)
      }.toSeq
      val m = kv.toMap
      Some(BucketMap(m("buckets").toInt, m("keys").split(',').toSeq.filter(_.nonEmpty),
        DataType.fromJson(m("schema")).asInstanceOf[StructType],
        kv.collect { case (b, v) if b.forall(_.isDigit) => b.toInt -> v.toInt }.toMap))
    }
  }

  /** `table` at `version`, read with its map's schema — with `buckets`,
    * only those buckets.
    */
  private[graft] def readVersion(spark: SparkSession, root: String, table: String,
                                 version: Int, buckets: Option[Seq[Int]] = None): DataFrame = {
    val m = bucketMap(spark, root, table, version)
      .getOrElse(sys.error(s"$table v$version has no $MapFile map"))
    val dirs = m.versions.keys.toSeq.sorted
      .filter(b => buckets.forall(_.contains(b))).map(m.dir(root, table, _).toString)
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else spark.read.schema(m.schema).parquet(dirs: _*)
  }

  private def writeMap(fs: org.apache.hadoop.fs.FileSystem, dir: Path, map: BucketMap): Unit = {
    val out = fs.create(new Path(dir, MapFile), true)
    try out.write(map.render.getBytes("UTF-8")) finally out.close()
  }

  /** The committed manifest: table → version (empty before first commit). */
  def readManifest(spark: SparkSession, root: String): Map[String, Int] = {
    val fs = fsOf(spark, root)
    val p  = new Path(root, "_CURRENT")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes()) finally in.close()
      text.linesIterator.map(_.trim).filter(_.nonEmpty).map { ln =>
        val i = ln.lastIndexOf('=')
        ln.substring(0, i) -> ln.substring(i + 1).toInt
      }.toMap
    }
  }

  /** One consistent read across `tables`: the manifest is resolved ONCE
    * and every returned plan is pinned to the version it named —
    * mutually consistent regardless of concurrent commits. Tables absent
    * from the manifest are absent from the result (callers decide
    * whether that's bootstrap or an error).
    */
  def readConsistent(spark: SparkSession, root: String,
                     tables: Seq[String]): Map[String, DataFrame] = {
    val man = readManifest(spark, root)
    tables.flatMap(t => man.get(t).map(v => t -> readVersion(spark, root, t, v))).toMap
  }

  /** An in-flight multi-table commit. Stage every table, then [[commit]]
    * exactly once — nothing is visible to [[readConsistent]] until then.
    */
  final class Txn private[ConsistentState] (private[graft] val spark: SparkSession,
                                            private[graft] val root: String) {
    private val base = readManifest(spark, root)
    private var staged = Map.empty[String, Int] // guarded by `this`

    /** The table's committed version as of txn start (None = never committed). */
    private[graft] def version(table: String): Option[Int] = base.get(table)

    /** The table's committed map as of txn start (None = never committed). */
    private[graft] def bucketMap(table: String): Option[BucketMap] =
      base.get(table).flatMap(ConsistentState.bucketMap(spark, root, table, _))

    /** The table's committed snapshot as of txn start (None = never
      * committed); with `buckets`, only those buckets of an n-bucket
      * table. All `current` reads inside one txn are mutually
      * consistent — the manifest was resolved once at txn open.
      */
    def current(table: String, buckets: Option[Seq[Int]] = None): Option[DataFrame] =
      base.get(table).map(readVersion(spark, root, table, _, buckets))

    private def claim(table: String): Int = {
      val v = base.getOrElse(table, -1) + 1
      synchronized {
        require(!staged.contains(table), s"$table is already staged in this txn")
        staged += table -> v
      }
      v
    }

    /** Compute-and-stage the 1-bucket table's next version. The write
      * runs NOW (so later stages can read this table's fresh state
      * without recomputing the plan); visibility waits for [[commit]].
      * Returns the WRITTEN frame, read with the schema its map records
      * (no inference job) — downstream plans in the same batch should
      * build on it (truncated lineage, one compute).
      *
      * Thread-safe across tables. A table stages at most once per txn:
      * a second stage would race the first over the same `v` directory.
      * A txn whose stage threw must not commit; the replayed batch opens
      * a new one.
      */
    def stage(table: String, next: DataFrame): DataFrame = {
      val v = claim(table)
      val dir = new Path(s"$root/$table/v$v")
      // overwrite: a replayed batch (crash before commit/checkpoint)
      // re-stages the same version dir; the idempotent merge makes the
      // content identical
      next.write.mode("overwrite").parquet(dir.toString)
      val map = BucketMap(1, Nil, graft.operators.StateTables.readSchema(next.schema), Map(0 -> v))
      writeMap(fsOf(spark, root), dir, map)
      spark.read.schema(map.schema).parquet(dir.toString)
    }

    /** Stage the n-bucket table's next version: `rows` (partitioned by
      * [[BucketCol]]) are every row of the `touched` buckets, which are
      * written under the new version dir; the other buckets keep the
      * versions the committed map names. A touched bucket left with no
      * rows drops out of the map. Same threading and replay rules as
      * [[stage]].
      */
    private[graft] def stageBuckets(table: String, numBuckets: Int, keys: Seq[String],
                                    touched: Seq[Int], rows: DataFrame): Unit = {
      val v   = claim(table)
      val dir = new Path(s"$root/$table/v$v")
      rows.write.mode("overwrite").partitionBy(BucketCol).parquet(dir.toString)
      val fs = fsOf(spark, root)
      val written = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol=")).map(_.stripPrefix(s"$BucketCol=").toInt).toSet
      require(written.subsetOf(touched.toSet),
        s"$table v$v wrote buckets ${written.diff(touched.toSet)} outside the touched set")
      val before = bucketMap(table).map(_.versions).getOrElse(Map.empty[Int, Int])
      writeMap(fs, dir, BucketMap(numBuckets, keys,
        graft.operators.StateTables.readSchema(rows.drop(BucketCol).schema),
        before -- touched ++ written.map(_ -> v)))
    }

    /** Atomically publish every staged table (one pointer swap), then
      * prune what the last `keepVersions` versions of each staged table
      * no longer name.
      *
      * Refuses (`ConcurrentModificationException`) if `_CURRENT` moved
      * since this txn opened: a foreign writer committed, this txn's
      * staged versions were computed against stale state, and swapping
      * the pointer would silently drop the foreign commit's rows. A
      * crash-replayed batch is NOT foreign — its txn re-opened AFTER
      * the crash, so its base already includes every committed version.
      */
    def commit(keepVersions: Int = 2): Map[String, Int] = {
      require(keepVersions >= 1, s"keepVersions ($keepVersions) must be >= 1")
      val fs  = fsOf(spark, root)
      val now = readManifest(spark, root)
      if (now != base)
        throw new java.util.ConcurrentModificationException(
          s"foreign commit on $root since txn open: manifest moved " +
            s"$base -> $now. ConsistentState is single-writer per root " +
            "(run ONE GraftApp per state root); committing would lose " +
            "the foreign writer's rows.")
      val published = synchronized(staged)
      val man = base ++ published
      // atomic overwrite (no delete-then-rename): a reader racing the
      // commit must see old-or-new, never a missing manifest — a missing
      // one reads as "nothing ever committed" and un-publishes every
      // table at once
      graft.operators.StateTables.replacePointerFile(fs,
        spark.sessionState.newHadoopConf(), new Path(root, "_CURRENT"),
        man.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" }
          .mkString("", "\n", "\n").getBytes)
      published.foreach { case (t, v) => pruneBuckets(fs, t, v, keepVersions) }
      man
    }

    /** Walk down from the newest version that left the window, while its
      * map still exists: delete each bucket dir it names that no map in
      * the window names, then the map itself (a crash in between redoes
      * the same deletes next commit), then version dirs left with
      * neither buckets nor a map. Commits before this one pruned below
      * the first missing map, so a commit costs one version per table,
      * not O(all versions ever). A 1-bucket version's one bucket dir is
      * the version dir, map included.
      */
    private def pruneBuckets(fs: org.apache.hadoop.fs.FileSystem, t: String, v: Int,
                             keepVersions: Int): Unit = {
      val live = (math.max(0, v - keepVersions + 1) to v)
        .flatMap(w => ConsistentState.bucketMap(spark, root, t, w)).flatMap(_.versions).toSet
      val emptied = scala.collection.mutable.Set.empty[Int]
      var old = v - keepVersions
      while (old >= 0 && fs.exists(mapPath(root, t, old))) {
        val m = ConsistentState.bucketMap(spark, root, t, old).get
        m.versions.filterNot(live).foreach { case (b, w) =>
          fs.delete(m.dir(root, t, b), true)
          emptied += w
        }
        fs.delete(mapPath(root, t, old), false)
        emptied += old
        old -= 1
      }
      emptied.foreach { w =>
        val dir = new Path(s"$root/$t/v$w")
        if (fs.exists(dir) && !fs.listStatus(dir).exists { st =>
              val n = st.getPath.getName
              n.startsWith(s"$BucketCol=") || n == MapFile
            })
          fs.delete(dir, true)
      }
    }
  }

  def begin(spark: SparkSession, root: String): Txn = new Txn(spark, root)
}
