package graft.perfbench

/** Order statistics over timing samples.
  *
  * Percentiles interpolate linearly between the two closest ranks (numpy's
  * default, Python's `statistics.quantiles(method="inclusive")`), so a
  * percentile of n samples is defined for every n >= 1. Every summary keeps
  * its sample count: a p90 over 20 samples rests on two of them. */
object Stats {
  final case class Summary(p50: Double, p90: Double, n: Int)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def summary(xs: Seq[Double]): Summary =
    Summary(percentile(xs, 50), percentile(xs, 90), xs.size)
}
