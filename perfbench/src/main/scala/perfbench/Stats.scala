package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the highest percentile that has at
    * least `beyond` samples above it, as (value, percentile). For n
    * samples sorted ascending that is the value at index n - beyond - 1,
    * the (n - beyond)/n quantile. With too few samples for any such
    * percentile it is the maximum, reported as the 100th percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) (s.last, 100.0)
    else (s(n - beyond - 1), 100.0 * (n - beyond) / n)
  }
}
