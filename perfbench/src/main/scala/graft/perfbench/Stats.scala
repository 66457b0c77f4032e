package graft.perfbench

/** Sample statistics the harness reports. */
object Stats {
  /** Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** Median (mean of the middle two for an even count); NaN, printed as
    * null, when there are no samples (a run stopped by an oracle mismatch). */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest whole percentile that still has at least
    * `beyond` samples above its rank, with its value. None when that
    * percentile would not lie above the median (fewer than 2 x beyond
    * samples), because such a "tail" says nothing the median does not. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    val best = (99 to 51 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
    best.map(p => p -> percentile(xs, p))
  }

  /** Share of attempted operations that failed. */
  def failedRatio(failed: Long, attempted: Long): Double = {
    require(attempted >= 1 && failed >= 0 && failed <= attempted,
      s"failed $failed of $attempted attempted")
    failed.toDouble / attempted
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
