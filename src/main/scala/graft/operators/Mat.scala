package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's single materialization point — every operator that
  * needs a plan barrier (multiply-consumed expensive subtrees, per-round
  * lineage truncation in iterative operators) goes through [[MatOps.mat]]
  * instead of calling `localCheckpoint` inline.
  *
  * Default mode is `localCheckpoint(eager = false)`: blocks are stored
  * UNREPLICATED on executors with lineage truncated — the right §2.4
  * tool on `local[*]`, where executor loss is process death anyway. On
  * a real cluster an executor loss after a local checkpoint kills the
  * job instead of recomputing; set
  * `spark.graft.materialize.reliable=true` (plus
  * `sparkContext.setCheckpointDir`) to switch every site to reliable
  * checkpointing at once. The checkpoint's rows are written inside the
  * first action that consumes the frame, but building it is NOT free
  * under AQE: `eager = false` still plans the frame, and adaptive
  * planning runs every shuffle and broadcast stage below it at build
  * time (e.g. `Graph.mutualEdges(Similarity.cosineTopK(…))` launches 6
  * jobs while it is built). A `mat` frame therefore executes its
  * upstream stages wherever it is constructed, timed region or not.
  */
object Mat {
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def mat: DataFrame =
      if (df.sparkSession.conf
          .get("spark.graft.materialize.reliable", "false").toBoolean)
        df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
  }
}
