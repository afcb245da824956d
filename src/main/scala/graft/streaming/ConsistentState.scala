package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table consistent snapshots — the engine's answer to the
  * reference getting multi-table read consistency for free from
  * Postgres MVCC (`v_ip_routes` joins ip_rib ⋈ bgp_peers ⋈ base_attrs
  * ⋈ routers inside ONE transaction, `database/8_views.sql:31-51`).
  *
  * With each state table committing independently (one streaming query
  * per table), a reader can observe rib@batch N joined against
  * peers@batch N−1 — a torn view the reference cannot produce. This
  * module restores the invariant with a single commit point fanned over
  * every table:
  *
  * {{{
  *   <root>/<table>/v<N>/   immutable parquet snapshot versions
  *   <root>/_CURRENT        the ONE manifest: "<table>=<version>" lines
  * }}}
  *
  * A batch stages each table's next version to a NEW directory (never
  * in place), then swaps `_CURRENT` once (tmp + atomic rename). Readers
  * resolve the manifest ONCE ([[readConsistent]]) and pin every table's
  * plan to the versions it names — a merge committing concurrently
  * writes v(N+1) dirs and swaps the pointer, but never touches the vN
  * files a pinned plan lists. Torn reads are impossible by
  * construction: either the reader resolved before the swap (all tables
  * at N) or after (all at N+1).
  *
  * Crash model ([[GraftApp.processBatch]] replays a crashed micro-batch
  * under its original batch id): staging re-runs overwrite their own
  * `v` directory (idempotent merge ⇒ identical content), the pointer
  * swap is atomic, and pruning runs
  * only after commit, keeping `keepVersions` per table so in-flight
  * readers of recent snapshots survive. A crash between stage and
  * commit leaves `_CURRENT` untouched — the replayed batch stages over
  * the orphan dirs and commits once.
  *
  * Version retention is the reader contract: a plan pinned at version N
  * stays valid for the next `keepVersions − 1` commits. Size it to the
  * longest query you run against live state (Iceberg/Delta snapshot
  * retention, reduced to its essentials).
  *
  * WRITER contract (same as [[graft.operators.StateTables]]'s bucket
  * merge): ONE writer per root. The reference gets this from Postgres
  * row locks; here [[GraftApp]] enforces it structurally — the whole
  * topology is ONE streaming query, so one `Txn` exists at a time.
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
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** The committed manifest: table → version (empty before first commit). */
  def readManifest(spark: SparkSession, root: String): Map[String, Int] = {
    val fs = fsOf(spark, root)
    val p  = new org.apache.hadoop.fs.Path(root, "_CURRENT")
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
    tables.flatMap(t => man.get(t).map(v =>
      t -> spark.read.parquet(s"$root/$t/v$v"))).toMap
  }

  /** An in-flight multi-table commit. Stage every table, then [[commit]]
    * exactly once — nothing is visible to [[readConsistent]] until then.
    */
  final class Txn private[ConsistentState] (spark: SparkSession, root: String) {
    private val base = readManifest(spark, root)
    private var staged = Map.empty[String, Int]

    /** The table's committed snapshot as of txn start (None = never
      * committed). All `current` reads inside one txn are mutually
      * consistent — the manifest was resolved once at txn open.
      */
    def current(table: String): Option[DataFrame] =
      base.get(table).map(v => spark.read.parquet(s"$root/$table/v$v"))

    /** Compute-and-stage the table's next version. The write runs NOW
      * (so later stages can read this table's fresh state without
      * recomputing the plan); visibility waits for [[commit]]. Returns
      * the WRITTEN frame — downstream plans in the same batch should
      * build on it (truncated lineage, one compute).
      */
    def stage(table: String, next: DataFrame): DataFrame = {
      val v   = base.getOrElse(table, -1) + 1
      val dir = s"$root/$table/v$v"
      // overwrite: a replayed batch (crash before commit/checkpoint)
      // re-stages the same version dir; the idempotent merge makes the
      // content identical
      next.write.mode("overwrite").parquet(dir)
      staged += table -> v
      spark.read.parquet(dir)
    }

    /** Atomically publish every staged table (one pointer swap), then
      * prune versions older than `keepVersions` per staged table.
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
      val man = base ++ staged
      val ptr = new org.apache.hadoop.fs.Path(root, "_CURRENT")
      // atomic overwrite (no delete-then-rename): a reader racing the
      // commit must see old-or-new, never a missing manifest — a missing
      // one reads as "nothing ever committed" and un-publishes every
      // table at once
      graft.operators.StateTables.replacePointerFile(fs,
        spark.sessionState.newHadoopConf(), ptr,
        man.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" }
          .mkString("", "\n", "\n").getBytes)
      staged.foreach { case (t, v) =>
        // walk DOWN from the newest prunable version and stop at the
        // first gap: previous commits already pruned below it, so the
        // steady-state cost is one delete + one existence probe per
        // table per commit, not O(all versions ever)
        var old = v - keepVersions
        var hit = true
        while (old >= 0 && hit) {
          val dir = new org.apache.hadoop.fs.Path(s"$root/$t/v$old")
          hit = fs.exists(dir)
          if (hit) fs.delete(dir, true)
          old -= 1
        }
      }
      man
    }
  }

  def begin(spark: SparkSession, root: String): Txn = new Txn(spark, root)
}
