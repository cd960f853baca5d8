package graftbench

/** The summary statistics the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean, in the style of TPC-H Power: every value counts by
    * its ratio, so a 10% cut on a 0.2 s op moves it as much as a 10% cut
    * on a 78 s op. Values must be positive. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of no values")
    require(xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
