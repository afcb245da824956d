package graft.perfbench

/** Order statistics over a sorted sample. */
object Stats {
  def median(sorted: scala.collection.Seq[Double]): Double = {
    val n = sorted.size
    if (n == 0) 0.0
    else if (n % 2 == 1) sorted(n / 2)
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples beyond). Below 11 samples no such
    * percentile exists and the maximum stands in (percentile 100, 0
    * beyond).
    */
  def tail(sorted: scala.collection.Seq[Double]): (Double, Int, Int) = {
    val n = sorted.size
    if (n == 0) (0.0, 0, 0)
    else if (n < 11) (sorted.last, 100, 0)
    else {
      val i = n - 11
      (sorted(i), math.floor(100.0 * (i + 1) / n).toInt, n - 1 - i)
    }
  }
}

/** What one workload run measured and checked. */
final case class Result(attempted: Long, failed: Long, correct: Boolean,
                        e2e: Map[String, Double], layers: Map[String, Double],
                        named: Map[String, Any], extra: Map[String, Any])
