package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: reporting rules, generators, the client's
  * codec and job attribution. No Spark session is started.
  */
class HarnessSpec extends AnyFunSuite {

  test("a tail percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // 100 samples: p90 leaves exactly 10 beyond it, p95 only 5
    assert(Stats.supportedTail(xs) == Some(90.0 -> 90.0))
    assert(Stats.supportedTail((1 to 1000).map(_.toDouble)) == Some(99.0 -> 990.0))
    assert(Stats.supportedTail((1 to 10000).map(_.toDouble)) == Some(99.9 -> 9990.0))
    // 39 samples: p75 has ceil(29.25) = 30 at or below it, 9 beyond
    assert(Stats.supportedTail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.supportedTail((1 to 40).map(_.toDouble)) == Some(75.0 -> 30.0))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 100) == 5.0)
  }

  test("the minute-bar generator is a pure function of the seed") {
    val a = new Gen(7, 50); val b = new Gen(7, 50); val c = new Gen(8, 50)
    val bars = for (s <- 0 until 50; m <- 0L until 400L) yield a.bar(s, m)
    assert(bars == (for (s <- 0 until 50; m <- 0L until 400L) yield b.bar(s, m)))
    assert(bars != (for (s <- 0 until 50; m <- 0L until 400L) yield c.bar(s, m)))
    assert(a.bar(3, 10, rev = 1) != a.bar(3, 10))
    bars.foreach { x =>
      assert(x.low <= math.min(x.open, x.close) && x.high >= math.max(x.open, x.close))
      assert(x.open * 4 == math.rint(x.open * 4) && x.volume > 0)
    }
  }

  test("minute indices map to sessions of 390 minutes, one per day") {
    assert(Gen.epochOf(0) == Gen.Day0)
    assert(Gen.epochOf(389) == Gen.Day0 + 389 * 60)
    assert(Gen.epochOf(390) == Gen.Day0 + 86400)
  }

  test("the Zipf sampler is seed-deterministic and skewed towards its top ranks") {
    def draws(seed: Long, streamSeed: Long) = {
      val g = new Gen(seed, 500)
      val z = new g.Zipf(500, 1.1)
      val r = new java.util.SplittableRandom(streamSeed)
      (z.byRank, Seq.fill(5000)(z.sample(r)))
    }
    val (rank1, d1) = draws(1, 99)
    assert(draws(1, 99) == (rank1, d1))
    assert(draws(2, 99)._1 != rank1, "another seed permutes the ranks differently")
    assert(rank1.sorted == (0 until 500))
    val counts = d1.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts(rank1.head) > counts.getOrElse(rank1(100), 0) * 20)
    assert(counts(rank1.head) > 5000 / 10)
  }

  test("candles aggregate open, high, low, close and volume per window") {
    val g = new Gen(3, 1)
    val bars = (0L until 10L).map(g.bar(0, _))
    val c = Gen.candles(bars, 300)
    assert(c.map(_.epoch) == Seq(Gen.Day0, Gen.Day0 + 300))
    assert(c.head.open == bars.head.open && c.head.close == bars(4).close)
    assert(c.head.high == bars.take(5).map(_.high).max && c.head.low == bars.take(5).map(_.low).min)
    assert(c(1).volume == bars.drop(5).map(_.volume).sum)
  }

  test("the client codec round-trips the values the protocol carries") {
    val v = Map("a" -> 1L, "b" -> Seq(-5L, 300L, -70000L, Long.MaxValue), "c" -> "x" * 40,
      "d" -> 2.5, "e" -> true, "f" -> null)
    assert(Wire.decode(Wire.encode(v)) == v)
    val bin = Wire.decode(Wire.encode(Array[Byte](1, 2, 3))).asInstanceOf[Array[Byte]]
    assert(bin.toSeq == Seq[Byte](1, 2, 3))
  }

  /** One-bucket dataset payload: Epoch (i8), Open/High/Low/Close (f8), Volume (i8). */
  private def payload(tbk: String, bars: Seq[Bar]): Map[Any, Any] = {
    def col(put: (ByteBuffer, Bar) => Unit): Array[Byte] = {
      val buf = ByteBuffer.allocate(bars.size * 8).order(ByteOrder.LITTLE_ENDIAN)
      bars.foreach(put(buf, _))
      buf.array()
    }
    Map(
      "types" -> Seq("i8", "f8", "f8", "f8", "f8", "i8"),
      "names" -> Seq("Epoch", "Open", "High", "Low", "Close", "Volume"),
      "data" -> Seq(
        col((b, x) => b.putLong(x.epoch)), col((b, x) => b.putDouble(x.open)),
        col((b, x) => b.putDouble(x.high)), col((b, x) => b.putDouble(x.low)),
        col((b, x) => b.putDouble(x.close)), col((b, x) => b.putLong(x.volume))),
      "length" -> bars.size.toLong,
      "startindex" -> Map(tbk -> 0L),
      "lengths" -> Map(tbk -> bars.size.toLong))
  }

  test("a bar payload decodes as the dataset it encodes") {
    val bars = Seq(Bar(100L, 1.25, 2.0, 1.0, 1.5, 7L), Bar(160L, 1.5, 2.5, 1.25, 2.0, 9L))
    val ds = Wire.decodeDataset(payload("S/1Min/OHLCV", bars))
    assert(ds.groups("S/1Min/OHLCV") == bars.map(b => Map("Epoch" -> b.epoch, "Open" -> b.open,
      "High" -> b.high, "Low" -> b.low, "Close" -> b.close, "Volume" -> b.volume)))
  }

  test("spark jobs are attributed to the engine module of their call site") {
    assert(Trace.moduleOf("collect at RpcServer.scala:420") == "wire")
    assert(Trace.moduleOf("parquet at BucketCatalog.scala:1201") == "catalog")
    assert(Trace.moduleOf("collect at DownsampleCascade.scala:120") == "streaming")
    assert(Trace.moduleOf("count at Foo.scala:1") == "other")
  }
}
