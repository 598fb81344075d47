package perfbench

/** Order statistics the benchmark reports. Percentiles use the
  * nearest-rank rule: the p-th percentile of n samples is the
  * ceil(p/100 * n)-th smallest, so it is always a measured sample.
  */
object Stats {

  /** 1-based rank of the p-th percentile among n samples */
  def rank(p: Double, n: Long): Long = {
    require(n > 0, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    math.max(1L, math.ceil(p / 100.0 * n - 1e-9).toLong)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s((rank(p, s.size) - 1).toInt)
  }

  /** percentile over samples that repeat: (value, how many samples share it) */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val r = rank(p, s.map(_._2).sum)
    var seen = 0L
    s.find { case (_, w) => seen += w; seen >= r }.get._1
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
