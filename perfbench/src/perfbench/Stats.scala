package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** median; NaN on no samples */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** nearest-rank percentile: the value with at least p% of samples at or below it */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    s(math.min(rank, s.size) - 1)
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * above it (n = 100 -> 90, n = 1000 -> 99); 50 when there are fewer
    * than 2 * `beyond` samples. */
  def tailPercentile(n: Int, beyond: Int = 10): Int =
    if (n < 2 * beyond) 50
    else math.floor(100.0 * (n - beyond) / n + 1e-9).toInt

  /** (value, percentile) of the tail latency */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Int) = {
    val p = tailPercentile(xs.size, beyond)
    (percentile(xs, p), p)
  }
}
