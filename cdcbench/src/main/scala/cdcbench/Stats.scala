package cdcbench

/** Summary statistics over one run's samples. */
object Stats {
  /** Linear interpolation between closest ranks (numpy's default, R-7):
    * the p-quantile of `xs` for p in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p >= 0.0 && p <= 1.0, s"quantile level $p outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** Samples needed beyond a percentile before it may be reported. */
  val MinTailSamples = 10

  /** Whether `n` samples support reporting the p-quantile: at least
    * [[MinTailSamples]] of them must lie beyond it (p90 needs 100). */
  def supports(n: Int, p: Double): Boolean =
    n * (1.0 - p) >= MinTailSamples - 1e-9

  /** The p-quantile if the sample supports it, else None. */
  def supportedQuantile(xs: Seq[Double], p: Double): Option[Double] =
    if (supports(xs.size, p)) Some(quantile(xs, p)) else None

  /** Share of attempted ops that failed, in [0, 1]. */
  def failureShare(failed: Int, attempted: Int): Double = {
    require(attempted > 0, "no ops attempted")
    require(failed >= 0 && failed <= attempted,
      s"$failed failed of $attempted attempted")
    failed.toDouble / attempted
  }
}
