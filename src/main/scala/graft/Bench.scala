package graft

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Three sequential passes over the inventory in one session. Pass 1
  * (cold) is the official `value`/`queries`: it includes Catalyst
  * planning + whole-stage-codegen compilation, which at toy scale
  * dominates (the compiled plan is reused across micro-batches/queries
  * in production). Passes 2–3 are warm; `queries_warm` is the PER-QUERY
  * MIN of the two — the steady-state execution cost that scales with
  * data volume. Min-of-2 because single warm shots at local[32] jitter
  * up to 1.9× between identical builds (COVERAGE.md): the min is the
  * reproducible floor, so a real plan regression can't hide in the
  * jitter band the way it can in one cold sample.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // optional query subset (comma-separated names) — scale points run
    // one operator family against a partial-table dir without paying
    // for (or requiring tables of) the other 80 queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val inventory = only.map(o => Queries.all.filter(q => o(q.name)))
      .getOrElse(Queries.all)

    // Pre-run loadavg: sampled BEFORE the untimed warm-up AND the timed
    // passes, so the 1-minute average reflects what the box was doing
    // before this bench touched it (sampling after the warm-up — as
    // rounds ≤11 did — already folds several seconds of the bench's own
    // warm-up work plus the launching sbt/JVM into the "pre" number).
    val loadAvgPre = {
      val v = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.rint(v * 1000) / 1000
    }

    // Untimed session warm-up: the FIRST query of a pass otherwise
    // absorbs one-time costs (codegen infrastructure, first parquet
    // footer read, shuffle/broadcast init) — measured ~3 s billed to
    // whichever query the map iteration happened to put first (q03 in
    // round 6, constant at 10× data because it was never q03's work).
    try {
      // a partial-table dir (BENCH_ONLY scale point) may lack nation —
      // the inventory warm-up below still runs on its own try
      try {
        val w = spark.read.parquet(s"$sfDir/nation.parquet")
        w.join(w.groupBy("n_regionkey").count(), Seq("n_regionkey")).count()
      } catch { case _: Throwable => () }
      // Also run the first inventory query once, untimed: round 6 showed
      // q01 cold at 3.4× its isolated time purely from absorbing
      // first-query init the nation warm-up doesn't reach (broadcast
      // thread pool, first big parquet footer, AQE machinery).
      inventory.headOption.foreach(_.run(spark, sfDir).count())
    } catch { case e: Throwable =>
      // don't fail the bench, but don't hide that the first timed query
      // will re-absorb the session warm-up this block exists to eat
      System.err.println(s"[bench] warm-up query failed (${e.getMessage}); " +
        "first query's time will include session warm-up")
    }

    // gate order (Queries.all), not Map hash order: deterministic
    // per-query attribution across rounds even as queries are added
    def pass(): Seq[(String, Double)] =
      inventory.map { q =>
        val t0 = System.nanoTime()
        try { q.run(spark, sfDir).count() } catch { case _: Throwable => () }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // operators may persist() intermediates
        System.gc() // let ContextCleaner reclaim shuffle files/broadcasts
        q.name -> dt
      }

    val cold = pass()
    // min-of-2 warm: each pass re-runs q.run (fresh plan each time —
    // only codegen/JIT/page cache carry over), then take the per-query
    // minimum as the reproducible steady-state floor.
    val warm1 = pass()
    val warm2 = pass()
    val warm  = warm1.zip(warm2).map { case ((k, a), (_, b)) => k -> math.min(a, b) }

    // Two stdout JSON lines. The FULL line (every query, 3 decimals,
    // ~2.3 KB) prints first and is also written whole to bench_out.json.
    // The capture harness keeps only the LAST 2000 chars of stdout
    // (BENCH_r04/r05 `tail` length) and sbt appends its own ~80-char
    // "[success] Total time" line after us — so a full 74-query map can
    // never survive the tail. The final stdout line is therefore a
    // COMPACT one budgeted to ≤1800 chars: totals + the slowest queries
    // that fit, with a pointer at the full file. Everything informational
    // (warm breakdown) goes to stderr.
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def fmt(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total     = r3(cold.map(_._2).sum)
    val totalWarm = r3(warm.map(_._2).sum)
    // Box-contention evidence in the artifact itself: round 10's driver
    // cold total came in 2.4× the same build's quiet-box run and nothing
    // in the JSON could adjudicate why. loadavg_pre (1-min, sampled
    // before the first timed pass — the contention signal; the end
    // sample mostly measures the bench itself) plus the end sample and
    // the machine-wide process count make a contaminated run
    // self-documenting.
    val loadAvg = r3(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
    val nProcs =
      // the Files.list itself is inside the try: on a box without /proc
      // it throws NoSuchFileException, and an uncaught throw here would
      // lose the whole run's output AFTER all timed passes completed
      try {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
        try s.filter(p => p.getFileName.toString.forall(_.isDigit)).count()
        finally s.close()
      } catch { case _: Throwable => -1L }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","loadavg_pre":$loadAvgPre,"loadavg":$loadAvg,"nprocs":$nProcs,"queries":${fmt(cold)},"value_warm":$totalWarm,"queries_warm":${fmt(warm)},"sf":"$sfDir"}"""
    println(line)
    System.out.flush()
    System.err.println(s"# warm (min-of-2): total=$totalWarm sec, queries=${fmt(warm)}")

    val compactHead =
      s"""{"metric":"total","value":$total,"unit":"sec","value_warm":$totalWarm,"loadavg_pre":$loadAvgPre,"loadavg":$loadAvg,"nprocs":$nProcs,"sf":"$sfDir","n_queries":${cold.size},"queries_full":"bench_out.json","queries":{"""
    val entries = cold.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val budget = 1800 - compactHead.length - 2 // closing "}}"
    val kept   = new scala.collection.mutable.ArrayBuffer[String]
    var used   = 0
    for (e <- entries if used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    val compact = compactHead + kept.mkString(",") + "}}"
    // stdout tails get truncated by capture harnesses (BENCH_r04 parsed:
    // null); the file copy is whole by construction. The write must not
    // be able to fail the completed bench run (stdout already carries
    // the line) or skip spark.stop().
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] bench_out write failed: ${e.getMessage}")
    } finally spark.stop()
    // Compact line prints LAST — after spark.stop()'s shutdown logging —
    // so only sbt's success line lands between it and the tail cutoff.
    println(compact)
    System.out.flush()
  }
}
