package perfbench

/** Order statistics used by every workload.
  *
  * Percentiles use the nearest-rank definition on the sorted samples, so a
  * reported value is always one that was measured. A tail percentile is
  * only reported when at least ten samples lie beyond it: p95 needs 200
  * samples, p90 needs 100, p75 needs 40; below that only the median is
  * meaningful.
  */
object Stats {

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Median as the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail percentiles in the order they are preferred. */
  val TailLevels: Seq[Int] = Seq(95, 90, 75)

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** The highest tail percentile `n` samples support, if any. */
  def tailLevel(n: Int): Option[Int] =
    TailLevels.find(p => n * (100 - p) >= MinBeyond * 100)

  /** (level, value) of the highest supported tail percentile. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    tailLevel(xs.size).map(p => p -> percentile(xs, p))
}
