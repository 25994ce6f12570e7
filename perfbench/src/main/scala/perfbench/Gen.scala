package perfbench

/** One OHLCV bar. Prices are multiples of 1/4 and volumes whole numbers,
  * so every aggregate the engine computes (first, last, max, min, sum) is
  * exact in binary floating point and compares with `==`.
  */
final case class Bar(epoch: Long, open: Double, high: Double, low: Double, close: Double, volume: Long)

/** Deterministic market data, derived only from the seed: bar values are a
  * pure function of (seed, symbol, minute, revision), so the expected answer
  * to any query is recomputed on the client without storing the data set.
  *
  * Minute index `m` maps to a trading calendar of 390-minute sessions that
  * open at 14:30 UTC on consecutive days starting 2024-01-02.
  */
final class Gen(val seed: Long, val nSymbols: Int) {
  import Gen._

  val symbols: IndexedSeq[String] = (0 until nSymbols).map(i => f"S$i%05d")
  private val index: Map[String, Int] = symbols.zipWithIndex.toMap
  def symbolIndex(s: String): Int = index(s)

  def bar(sym: Int, m: Long, rev: Int = 0): Bar = {
    val h = mix(seed ^ mix(sym.toLong * 0x9e3779b97f4a7c15L) ^ mix(m * 0xc2b2ae3d27d4eb4fL + rev))
    val base = 20.0 + (mix(seed + sym) >>> 40) % 4000 * 0.25
    val open = base + (h & 0xff) * 0.25
    val close = base + ((h >>> 8) & 0xff) * 0.25
    val high = math.max(open, close) + ((h >>> 16) & 0x0f) * 0.25
    val low = math.min(open, close) - ((h >>> 20) & 0x0f) * 0.25
    Bar(epochOf(m), open, high, low, close, 100L + ((h >>> 24) & 0x3fff))
  }

  /** A Zipf(s) sampler over the symbols, with ranks assigned to symbols by
    * a seed-derived permutation so the hot set differs between seeds.
    */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val byRank: IndexedSeq[Int] = {
      val a = (0 until n).toArray
      val r = new java.util.SplittableRandom(seed ^ 0x5bd1e995L)
      (n - 1 to 1 by -1).foreach { i => val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toIndexedSeq
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      byRank(lo)
    }
  }
}

object Gen {
  val Day0: Long = 1704205800L // 2024-01-02 14:30:00 UTC
  val MinutesPerDay = 390

  def epochOf(m: Long): Long = Day0 + (m / MinutesPerDay) * 86400L + (m % MinutesPerDay) * 60L

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** OHLCV candles of `bars` per window of `width` seconds, keyed by window
    * start — the aggregation the engine's candle functions and the
    * downsample cascade must reproduce.
    */
  def candles(bars: Seq[Bar], width: Long): Seq[Bar] =
    bars.groupBy(b => b.epoch - Math.floorMod(b.epoch, width)).toSeq.sortBy(_._1).map { case (w, bs) =>
      val s = bs.sortBy(_.epoch)
      Bar(w, s.head.open, s.map(_.high).max, s.map(_.low).min, s.last.close, s.map(_.volume).sum)
    }
}
