package graftbench

/** Summary statistics over latency samples. */
object Stats {

  /** A percentile is reported only when at least this many samples lie
    * beyond it: p50 needs 20 samples, p90 needs 100, p99 1000. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples lie above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n).toInt.max(1)
    if (n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Plain median (mean of the middle two for an even count); NaN
    * when every op failed. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every sample counts with the same relative weight,
    * whatever its magnitude; NaN when empty. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
