package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** Samples strictly beyond the q-th nearest-rank percentile. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  val TailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest of [[TailLevels]] with at least `min` samples beyond it:
    * with 161 samples that is p90 (16 beyond), and p95 (8 beyond) is refused.
    */
  def tailLevel(n: Int, min: Int = 10): Option[Double] =
    TailLevels.find(q => beyond(n, q) >= min)
}
