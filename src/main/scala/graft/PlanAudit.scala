package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round dev tool: one compact plan-shape line per gate —
  * parquet-scan count, exchange count, reused-exchange count, join
  * strategies, graft top-k (`topk=`) and fused kNN (`knn=`) nodes, plan
  * size — so subtree duplication (scan count ≫ table
  * count) and join-strategy surprises are visible across the whole
  * inventory in one JVM, without executing anything.
  *
  * `runMain graft.PlanAudit [sfDir] [substringFilter]`
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val filt = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val inventory = filt.map(f => Queries.all.filter(_.name.contains(f)))
      .getOrElse(Queries.all)
    // Node counting anchored on the formatted plan's DETAILS section
    // lines — "(12) NodeName [codegen id : 3]" — one line per physical
    // node. Raw substring sliding (the r12 version) double-counted:
    // "Exchange" also matched every Reused/Broadcast/ShuffleExchange
    // occurrence and each node appears in both the tree and the
    // details, so scans came out 2x and exch−reuse drifted.
    val nodeLine = """^\((\d+)\) (.+?)(?:\s+\[codegen id : \d+\])?\s*$""".r
    def nodeNames(p: String): Seq[String] = p.linesIterator.collect {
      case nodeLine(_, name) => name.trim
    }.toSeq
    inventory.foreach { q =>
      try {
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val planMs = (System.nanoTime() - t0) / 1e6
        val nodes = nodeNames(p)
        def n(pred: String => Boolean): Int = nodes.count(pred)
        println(f"${q.name}%-42s scans=${n(_.startsWith("Scan parquet"))}%3d " +
          f"exch=${n(_ == "Exchange")}%3d reuse=${n(_.startsWith("ReusedExchange"))}%2d " +
          f"bnlj=${n(_.startsWith("BroadcastNestedLoopJoin"))}%2d smj=${n(_.startsWith("SortMergeJoin"))}%2d " +
          f"bhj=${n(_.startsWith("BroadcastHashJoin"))}%2d cart=${n(_.startsWith("CartesianProduct"))}%2d " +
          f"win=${n(_ == "Window")}%2d topk=${n(_.startsWith("GraftBoundedTopK"))}%2d " +
          f"knn=${n(_.startsWith("GraftCosineTopK"))}%2d " +
          f"lines=${p.linesIterator.size}%5d planMs=$planMs%8.1f")
      } catch { case e: Throwable =>
        println(s"${q.name} ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
