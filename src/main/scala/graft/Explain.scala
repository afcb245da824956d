package graft

/** Plan inspector: `runMain graft.Explain <queryName> [sfDir] [mode]` —
  * prints the formatted physical plan (and optionally re-times two runs
  * to separate codegen/compile cost from execution).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode  = if (args.length > 2) args(2) else "formatted"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    if (mode != "time") fn(spark, sfDir).explain(mode)
    if (mode == "time") {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(s"run $i: ${(System.nanoTime() - t0) / 1e9}s")
      }
    }
    spark.stop()
  }
}
