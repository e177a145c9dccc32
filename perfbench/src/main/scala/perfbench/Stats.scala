package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. With a fixed sample count the rank is
    * fixed, so two runs compare the same order statistic. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
