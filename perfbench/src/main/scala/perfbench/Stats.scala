package perfbench

/** Sample statistics for the reported metrics. */
object Stats {

  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample:
    * the value at rank (n - 1) * p / 100 of the sorted sample, interpolated
    * between the two nearest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

}
