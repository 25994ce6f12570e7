package perfbench

/** Summary statistics with the reporting rules the benchmark follows. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples (the guard
    * keeps 99.9 % of 10,000 at rank 9,990 despite binary rounding).
    */
  private def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  /** Tail percentiles considered, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile of [[TailLadder]] with at least `minBeyond`
    * samples strictly above its rank, and its value; None when even the
    * lowest rung leaves fewer than `minBeyond` samples beyond it.
    */
  def supportedTail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => xs.size - rank(p, xs.size) >= minBeyond)
      .map(p => p -> percentile(xs, p))
}
