package graft

import graft.core.CandleDuration
import graft.functions._
import org.apache.spark.sql.functions._

/** Aggregate-function goldens re-encoded from the reference's
  * integration suite (FIXTURES.md §1/§2; tests/integ/tests/
  * test_basic_aggfunc.py, test_aggcandler.py).
  */
class UdaSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES §2: TEST_AGG/1Sec/TICK — epochs 2020-01-01 00:00:00..03
  private val base = 1577836800L
  private def tick = Seq(
    (base, 2.0, 20.0), (base + 1, 4.0, 40.0), (base + 2, 6.0, 60.0), (base + 3, 8.0, 80.0))
    .toDF("Epoch", "Example", "Example2")

  test("count/min/max/avg goldens (test_basic_aggfunc.py:26-50)") {
    // count's output row is (Epoch = now, Count) — reference shape
    // (uda/count/count.go:65-74)
    val cnt = AggRegistry.run(Seq("count(Example)"), tick)
    assert(cnt.columns.toSeq == Seq("Epoch", "Count"))
    assert(cnt.head.getAs[Long]("Count") == 4L)
    assert(AggRegistry.run(Seq("min(Example)"), tick).head.getDouble(0) == 2.0)
    assert(AggRegistry.run(Seq("max(Example)"), tick).head.getDouble(0) == 8.0)
    assert(AggRegistry.run(Seq("avg(Example)"), tick).head.getDouble(0) == 5.0)
    // limit semantics: limit applied BEFORE the function pipeline
    // (frontend/query.go:322-334): AVG limit=2 from_start → 3.0, from_end → 7.0
    import graft.operators.TimeSeries
    val first2 = TimeSeries.limit(tick, 2, fromStart = true)
    assert(AggRegistry.run(Seq("avg(Example)"), first2).head.getDouble(0) == 3.0)
    val last2 = TimeSeries.limit(tick, 2, fromStart = false)
    assert(AggRegistry.run(Seq("avg(Example)"), last2).head.getDouble(0) == 7.0)
  }

  test("gap threshold golden (test_basic_aggfunc.py:66+): epochs 0,10,30 gap('5Sec')") {
    val df = Seq(base, base + 10, base + 30).toDF("Epoch")
    val gaps = GapUda.gaps(df, Some(CandleDuration.parse("5Sec")), Nil)
      .orderBy("Epoch").collect()
    assert(gaps.map(r => (r.getLong(0) - base, r.getLong(1) - base, r.getLong(2))).toSeq ==
      Seq((0L, 10L, 10L), (10L, 30L, 20L)))
  }

  test("candlecandler 2H golden (test_aggcandler.py:19-23 / FIXTURES §1)") {
    // hourly bars starting 2020-01-01 00:00
    val bars = Seq(
      (base, 20.0, 40.0, 10.0, 30.0),
      (base + 3600, 40.0, 80.0, 20.0, 60.0),
      (base + 7200, 60.0, 120.0, 30.0, 90.0),
      (base + 10800, 80.0, 160.0, 40.0, 120.0))
      .toDF("Epoch", "Open", "High", "Low", "Close")
    val out = AggRegistry.run(Seq("candlecandler('2H', Open, High, Low, Close)"), bars)
      .orderBy("Epoch").collect()
    assert(out.length == 2)
    val first = out(0)
    assert(first.getAs[Double]("Open") == 20.0)
    assert(first.getAs[Double]("High") == 80.0)
    assert(first.getAs[Double]("Low") == 10.0)
    assert(first.getAs[Double]("Close") == 60.0)
  }

  test("tickcandler: CandlePrice averages multiple columns; Sum/Avg outputs") {
    val ticks = Seq(
      (base, 0, 10.0, 12.0, 5.0),
      (base + 10, 0, 20.0, 22.0, 7.0),
      (base + 70, 0, 30.0, 32.0, 9.0))
      .toDF("Epoch", "Nanoseconds", "Bid", "Ask", "Size")
    val out = AggRegistry.run(Seq("tickcandler('1Min', Bid, Ask, Sum::Size)"), ticks)
      .orderBy("Epoch").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("Open") == 11.0)  // (10+12)/2 at earliest tick
    assert(out(0).getAs[Double]("Close") == 21.0)
    assert(out(0).getAs[Double]("High") == 21.0)
    assert(out(0).getAs[Double]("Low") == 11.0)
    assert(out(0).getAs[Double]("Size_SUM") == 12.0)
    assert(out(1).getAs[Double]("Open") == 31.0)
  }

  test("adjust: backward cumulative rate application (uda/adjust/adjust.go:99-153)") {
    val prices = Seq((100L, 100.0, 10.0), (200L, 110.0, 10.0), (300L, 120.0, 10.0))
      .toDF("Epoch", "Close", "Volume")
    // one 2:1 split effective at epoch 250: rows before it halve
    val ca = Seq((250L, 0.5)).toDF("Epoch", "Rate")
    val out = AdjustUda(prices, ca, Seq("Close"), Seq("Volume")).orderBy("Epoch").collect()
    assert(out.map(_.getAs[Double]("Close")).toSeq == Seq(50.0, 55.0, 120.0))
    assert(out.map(_.getAs[Double]("Volume")).toSeq == Seq(20.0, 20.0, 10.0))
  }

  test("chained pipeline: tickcandler then count (AggRunner.Run chaining, registry.go:51-113)") {
    val out = AggRegistry.run(Seq("tickcandler('1Min', Example)", "count(Open)"), tick)
    assert(out.head.getAs[Long]("Count") == 1L) // all 4 ticks in one minute
  }

  test("vwap hand values: Σ(p·s)/Σs per bucket, grouped by symbol") {
    val trades = Seq(
      ("A", base, 10.0, 1.0), ("A", base + 1, 20.0, 3.0), // vwap (10+60)/4 = 17.5
      ("A", base + 60, 30.0, 2.0),                        // next minute: 30
      ("B", base, 5.0, 10.0))                             // 5
      .toDF("symbol", "Epoch", "Price", "Size")
    val out = AggRegistry.runGrouped(
        Seq("vwap('1Min', Price, Size)"), trades, Seq("symbol"))
      .orderBy("symbol", "Epoch").collect()
    assert(out.map(r => (r.getAs[String]("symbol"), r.getAs[Double]("VWAP"),
      r.getAs[Double]("Volume"), r.getAs[Long]("N"))).toSeq ==
      Seq(("A", 17.5, 4.0, 2L), ("A", 30.0, 2.0, 1L), ("B", 5.0, 10.0, 1L)))
  }

  test("log returns + rolling vol hand values") {
    import graft.operators.Analytics
    val bars = Seq(
      ("A", base, 100.0), ("A", base + 86400, 110.0), ("A", base + 2 * 86400, 99.0),
      ("B", base, 50.0))
      .toDF("symbol", "Epoch", "Close")
    val rets = Analytics.logReturns(bars, "Close", Seq("symbol"))
      .orderBy("symbol", "Epoch").collect()
    val lr = rets.map(r => Option(r.getAs[java.lang.Double]("LogReturn")).map(_.toDouble))
    assert(lr(0).isEmpty && lr(3).isEmpty) // each key's first bar
    assert(math.abs(lr(1).get - math.log(1.1)) < 1e-12)
    assert(math.abs(lr(2).get - math.log(99.0 / 110.0)) < 1e-12)
    val vol = Analytics.rollingVol(
        Analytics.logReturns(bars, "Close", Seq("symbol")), 5, Seq("symbol"))
      .orderBy("symbol", "Epoch").collect()
      .map(r => Option(r.getAs[java.lang.Double]("Volatility")).map(_.toDouble))
    // one return in window → stddev_samp null; two → hand value
    assert(vol(0).isEmpty && vol(1).isEmpty && vol(3).isEmpty)
    val a = math.log(1.1); val b = math.log(99.0 / 110.0); val m = (a + b) / 2
    val expect = math.sqrt(((a - m) * (a - m) + (b - m) * (b - m)) / 1)
    assert(math.abs(vol(2).get - expect) < 1e-12)
  }

  test("sessionize hand values: gap rule, per-key restart, session ids") {
    import graft.operators.Analytics
    val events = Seq(
      // user 1: two sessions — gap of exactly 30 is NOT a break (> rule)
      (1L, base), (1L, base + 30), (1L, base + 100), (1L, base + 130),
      (2L, base + 5000))
      .toDF("user_id", "Epoch")
    val out = Analytics.sessionize(events, gapSeconds = 30, keyCols = Seq("user_id"))
      .orderBy("user_id", "SessionId").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("SessionId"),
        r.getAs[Long]("SessionStart"), r.getAs[Long]("SessionEnd"),
        r.getAs[Long]("NEvents")))
    assert(out.toSeq == Seq(
      (1L, 1L, base, base + 30, 2L),
      (1L, 2L, base + 100, base + 130, 2L),
      (2L, 1L, base + 5000, base + 5000, 1L)))
  }

  test("sessionize through the registry: sessionize('30Sec') grouped by symbol") {
    val events = Seq(("A", base), ("A", base + 10), ("A", base + 100), ("B", base))
      .toDF("symbol", "Epoch")
    val out = AggRegistry.runGrouped(Seq("sessionize('30Sec')"), events, Seq("symbol"))
      .orderBy("symbol", "SessionId").collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("SessionId"),
        r.getAs[Long]("NEvents")))
    assert(out.toSeq == Seq(("A", 1L, 2L), ("A", 2L, 1L), ("B", 1L, 1L)))
  }

  test("max drawdown hand values; monotone series → 0 at earliest epoch") {
    import graft.operators.Analytics
    val bars = Seq(
      // A: peak 120 then trough 90 → 90/120 - 1 = -0.25 at base+3d
      ("A", base, 100.0), ("A", base + 86400, 120.0),
      ("A", base + 2 * 86400, 105.0), ("A", base + 3 * 86400, 90.0),
      ("A", base + 4 * 86400, 130.0),
      // B: monotone → dd 0 everywhere, trough = earliest epoch (tie rule)
      ("B", base, 10.0), ("B", base + 86400, 20.0))
      .toDF("symbol", "Epoch", "Close")
    val out = Analytics.maxDrawdown(bars, "Close", Seq("symbol"))
      .orderBy("symbol").collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Double]("MaxDrawdown"),
        r.getAs[Long]("TroughEpoch")))
    assert(math.abs(out(0)._2 - (-0.25)) < 1e-12 && out(0)._3 == base + 3 * 86400)
    assert(out(1)._2 == 0.0 && out(1)._3 == base)
  }

  test("ema through the registry: ema('3', Close) grouped by symbol") {
    val bars = Seq(("A", base, 1.0), ("A", base + 1, 2.0), ("B", base, 5.0))
      .toDF("symbol", "Epoch", "Close")
    val out = AggRegistry.runGrouped(Seq("ema('3', Close)"), bars, Seq("symbol"))
      .orderBy("symbol", "Epoch").collect().map(_.getAs[Double]("EMA"))
    assert(out.toSeq == Seq(1.0, 1.5, 5.0))
  }

  test("ema_w in raw Spark SQL: OVER without a frame takes the function's ROW frame") {
    Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0))
      .toDF("k", "t", "v").createOrReplaceTempView("ema_sql_in")
    val out = spark.sql(
      "SELECT ema_w(v, 0.5D) OVER (PARTITION BY k ORDER BY t) AS e FROM ema_sql_in ORDER BY t")
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(1.0, 1.5, 2.25))
    // a bare 0.5 parses as DECIMAL(1,1) — the builder folds it
    val dec = spark.sql(
      "SELECT ema_w(v, 0.5) OVER (PARTITION BY k ORDER BY t) AS e FROM ema_sql_in ORDER BY t")
      .collect().map(_.getDouble(0))
    assert(dec.toSeq == Seq(1.0, 1.5, 2.25))
    // wrong arity errors cleanly, not IndexOutOfBounds
    val err = intercept[Exception] {
      spark.sql("SELECT ema_w(v) OVER (PARTITION BY k ORDER BY t) FROM ema_sql_in").collect()
    }
    assert(err.getMessage.contains("ema_w") || err.getMessage.contains("argument"),
      err.getMessage)
  }

  test("EMA window function: exact recursion per key, null carries state") {
    import graft.operators.Analytics
    val bars = Seq(
      ("A", base, Some(1.0)), ("A", base + 86400, Some(2.0)),
      ("A", base + 2 * 86400, None), ("A", base + 3 * 86400, Some(3.0)),
      ("B", base, Some(10.0)), ("B", base + 86400, Some(10.0)))
      .toDF("symbol", "Epoch", "Close")
    // n = 3 → α = 0.5: A = 1, 1.5, 1.5 (null input keeps state), 2.25
    val out = Analytics.ema(bars, "Close", 3, Seq("symbol"))
      .orderBy("symbol", "Epoch").collect().map(r => r.getAs[Double]("EMA"))
    assert(out.toSeq == Seq(1.0, 1.5, 1.5, 2.25, 10.0, 10.0))
  }

  test("RSI: monotone rally → 100 once the window fills; nulls before") {
    import graft.operators.Analytics
    val bars = (0 to 6).map(i => ("A", base + i * 86400L, 100.0 + i))
      .toDF("symbol", "Epoch", "Close")
    val out = Analytics.rsi(bars, "Close", 5, Seq("symbol"))
      .orderBy("Epoch").collect().map(r =>
        if (r.isNullAt(r.fieldIndex("RSI"))) None else Some(r.getAs[Double]("RSI")))
    assert(out.toSeq == Seq(None, None, None, None, None, Some(100.0), Some(100.0)))
  }

  test("Bollinger: bands null until the trailing window is full") {
    import graft.operators.Analytics
    val bars = (0 to 5).map(i => ("A", base + i * 86400L, 10.0 + (i % 2)))
      .toDF("symbol", "Epoch", "Close")
    val rows = Analytics.bollinger(bars, "Close", 5, 2.0, Seq("symbol"))
      .orderBy("Epoch").collect()
    assert(rows.take(4).forall(_.isNullAt(rows.head.fieldIndex("BollMid"))))
    val mid = rows(4).getAs[Double]("BollMid")
    assert(math.abs(mid - 10.4) < 1e-12)
    assert(rows(4).getAs[Double]("BollUp") > mid &&
      rows(4).getAs[Double]("BollDown") < mid)
  }

  test("Wilder RSI and MACD hand values via the chained EMA recursions") {
    import graft.operators.Analytics
    val bars = Seq(("A", base, 10.0), ("A", base + 86400, 12.0),
      ("A", base + 2 * 86400, 11.0)).toDF("symbol", "Epoch", "Close")
    // Wilder n=2 (α=0.5): seeds at delta1: ag=2, al=0 → RSI 100;
    // next: ag=.5*0+.5*2=1, al=.5*1+.5*0=.5 → RSI = 100-100/(1+2)
    val rsi = Analytics.rsiWilder(bars, "Close", 2, Seq("symbol"))
      .orderBy("Epoch").collect().map(r =>
        if (r.isNullAt(r.fieldIndex("RSIW"))) None else Some(r.getAs[Double]("RSIW")))
    assert(rsi(0).isEmpty && rsi(1).contains(100.0))
    assert(math.abs(rsi(2).get - (100.0 - 100.0 / (1.0 + 2.0))) < 1e-12)
    // MACD(12,26,9): row 1 all zero; row 2 = the two EMA recursions
    val m = Analytics.macd(bars, "Close", groupCols = Seq("symbol"))
      .orderBy("Epoch").collect()
    assert(m(0).getAs[Double]("MACD") == 0.0 &&
      m(0).getAs[Double]("MACDSignal") == 0.0 && m(0).getAs[Double]("MACDHist") == 0.0)
    val ef2 = (2.0 / 13.0) * 12.0 + (1.0 - 2.0 / 13.0) * 10.0
    val es2 = (2.0 / 27.0) * 12.0 + (1.0 - 2.0 / 27.0) * 10.0
    val macd2 = ef2 - es2
    val sig2 = (2.0 / 10.0) * macd2 + (1.0 - 2.0 / 10.0) * 0.0
    assert(m(1).getAs[Double]("MACD") == macd2)
    assert(m(1).getAs[Double]("MACDSignal") == sig2)
    assert(m(1).getAs[Double]("MACDHist") == macd2 - sig2)
  }

  test("ATR hand values: first bar H−L, gap widens the true range; Donchian extrema") {
    import graft.operators.Analytics
    val bars = Seq(
      // bar 1: H 12 L 8 C 10 → TR 4; bar 2 gaps up: H 20 L 18 C 19 →
      // TR = max(2, |20−10|, |18−10|) = 10 → ATR(2) = .5·10 + .5·4 = 7
      ("A", base, 12.0, 8.0, 10.0), ("A", base + 86400, 20.0, 18.0, 19.0))
      .toDF("symbol", "Epoch", "High", "Low", "Close")
    val atr = Analytics.atr(bars, 2, Seq("symbol"))
      .orderBy("Epoch").collect().map(_.getAs[Double]("ATR"))
    assert(atr.toSeq == Seq(4.0, 7.0))
    val d = Analytics.donchian(bars, 5, Seq("symbol"))
      .orderBy("Epoch").collect()
    assert(d(1).getAs[Double]("DonchianUp") == 20.0 &&
      d(1).getAs[Double]("DonchianDown") == 8.0 &&
      d(1).getAs[Double]("DonchianMid") == 14.0)
  }

  test("pair correlation: identical series → 1, mirrored series → -1") {
    import graft.operators.Analytics
    val vals = Seq(1.0, 3.0, 2.0, 5.0)
    val bars = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq(("A", base + i * 86400L, v), ("B", base + i * 86400L, v),
        ("C", base + i * 86400L, -v))
    }.toDF("symbol", "Epoch", "v")
    val out = Analytics.pairCorrelation(bars, "symbol", "v")
      .orderBy("k1", "k2").collect()
      .map(r => (r.getAs[String]("k1"), r.getAs[String]("k2"),
        r.getAs[Double]("Correlation"), r.getAs[Long]("NObs")))
    assert(out.length == 3)
    assert(out(0)._1 == "A" && out(0)._2 == "B" &&
      math.abs(out(0)._3 - 1.0) < 1e-12 && out(0)._4 == 4L)
    assert(out(1)._2 == "C" && math.abs(out(1)._3 + 1.0) < 1e-12)
    assert(out(2)._1 == "B" && math.abs(out(2)._3 + 1.0) < 1e-12)
  }

  test("pair correlation: zero-variance pair yields NULL, not NaN (SQL parity)") {
    import graft.operators.Analytics
    val bars = (0 to 3).flatMap(i =>
      Seq(("A", base + i * 86400L, 5.0), ("B", base + i * 86400L, 1.0 + i)))
      .toDF("symbol", "Epoch", "v")
    val row = Analytics.pairCorrelation(bars, "symbol", "v").collect().head
    assert(row.isNullAt(row.fieldIndex("Correlation")))
    assert(row.getAs[Long]("NObs") == 4L)
  }
}
