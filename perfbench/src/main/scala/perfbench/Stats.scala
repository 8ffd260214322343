package perfbench

/** Order statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  val TailCandidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest candidate percentile that still has at least `minBeyond`
    * samples above it, with its nearest-rank value. A percentile p over n
    * samples sits at rank ceil(p * n / 100); the samples beyond it are the
    * n - rank above that rank. None when even the median has fewer than
    * `minBeyond` samples beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    TailCandidates.reverse.collectFirst {
      case p if n > 0 && n - rank(p, n) >= minBeyond => p -> s(rank(p, n) - 1)
    }
  }

  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)
}
