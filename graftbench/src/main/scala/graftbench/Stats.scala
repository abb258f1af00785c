package graftbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest nearest-rank percentile that still has at least `beyond`
    * samples above it: the (n - beyond)-th smallest sample, returned as
    * (percentile, value) with percentile 100·(n - beyond)/n. None when
    * there are no more than `beyond` samples, so no such percentile exists.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val k = n - beyond
      Some((100.0 * k / n, xs.sorted.apply(k - 1)))
    }
  }
}
