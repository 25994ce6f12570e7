package graft

import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import graft.operators.{MarketCalendar, TimeQual}
import graft.streaming.DownsampleCascade
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Bar row for the streaming cascade tests. */
case class Bar(symbol: String, Epoch: Long, Open: Double, High: Double,
    Low: Double, Close: Double, Volume: Double)

/** Tick row for the watermarked live-candle tests. */
case class Tick(symbol: String, Epoch: Long, Price: Double, Size: Double)

/** Streamed document for the streaming-dedup tests. */
case class StreamDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** Quote row for the streaming as-of join tests. */
case class Quote(symbol: String, Epoch: Long, Bid: Double)

/** Query vector for the streaming ANN serving test. */
case class QueryVec(vec_id: Long, embedding: Seq[Float])

/** Downsample-cascade semantics, mirroring the reference's ondiskagg
  * trigger tests (contrib/ondiskagg/aggtrigger): base-TF writes
  * produce/refresh coarser candles; a LATE out-of-order write
  * recomputes and overwrites the already-written destination candle.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val ohlcv = StructType(Seq(
    StructField("Epoch", LongType), StructField("Open", DoubleType),
    StructField("High", DoubleType), StructField("Low", DoubleType),
    StructField("Close", DoubleType), StructField("Volume", DoubleType)))

  private def fresh(): (BucketCatalog, DownsampleCascade) = {
    val root = Files.createTempDirectory("graft-stream").toString
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("X/1Min/OHLCV"), ohlcv, isVariable = false)
    (cat, new DownsampleCascade(cat, "OHLCV", "1Min", Seq("5Min", "1H")))
  }

  // t0 = 2024-01-08 10:00 UTC (a Monday)
  private val t0 = 1704708000L

  private def bar(sym: String, minute: Int, px: Double, vol: Double = 1.0): Bar =
    Bar(sym, t0 + minute * 60L, px, px + 0.5, px - 0.5, px + 0.25, vol)

  test("batch ingest cascades 1Min bars into 5Min and 1H candles") {
    val (cat, cascade) = fresh()
    cascade.ingest(Seq(
      bar("AAPL", 0, 10), bar("AAPL", 1, 11), bar("AAPL", 4, 12),
      bar("AAPL", 5, 20), bar("AAPL", 7, 19),
      bar("MSFT", 0, 100), bar("MSFT", 6, 101)).toDS.toDF)

    val fiveMin = cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV"))
      .orderBy("Epoch").collect()
    assert(fiveMin.length == 2)
    val w0 = fiveMin(0)
    assert(w0.getAs[Long]("Epoch") == t0)
    assert(w0.getAs[Double]("Open") == 10.0) // earliest bar's open
    assert(w0.getAs[Double]("High") == 12.5) // max high
    assert(w0.getAs[Double]("Low") == 9.5) // min low
    assert(w0.getAs[Double]("Close") == 12.25) // latest bar's close
    assert(w0.getAs[Double]("Volume") == 3.0)
    val hourly = cat.read(TimeBucketKey.parse("AAPL/1H/OHLCV")).collect()
    assert(hourly.length == 1)
    assert(hourly.head.getAs[Double]("Volume") == 5.0)
    assert(cat.read(TimeBucketKey.parse("MSFT/5Min/OHLCV")).count() == 2)
  }

  test("late out-of-order write overwrites the existing destination candle") {
    val (cat, cascade) = fresh()
    cascade.ingest(Seq(bar("AAPL", 1, 11), bar("AAPL", 4, 12)).toDS.toDF)
    val before = cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV")).collect()
    assert(before.length == 1 && before.head.getAs[Double]("Open") == 11.0)

    // late bar for minute 0 arrives AFTER the 5Min candle was written:
    // new open + new high; recompute must overwrite, not append
    cascade.ingest(Seq(bar("AAPL", 0, 15)).toDS.toDF)
    val after = cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV")).collect()
    assert(after.length == 1)
    assert(after.head.getAs[Double]("Open") == 15.0) // minute-0 bar is now earliest
    assert(after.head.getAs[Double]("High") == 15.5)
    assert(after.head.getAs[Double]("Close") == 12.25) // unchanged latest
    assert(after.head.getAs[Double]("Volume") == 3.0)
  }

  test("structured-streaming attach: micro-batches drive the cascade") {
    val (cat, cascade) = fresh()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Bar]
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = cascade.attach(source.toDF, ckpt)
    try {
      source.addData(bar("AAPL", 0, 10), bar("AAPL", 3, 12))
      q.processAllAvailable()
      assert(cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV")).count() == 1)
      source.addData(bar("AAPL", 2, 50)) // late, same window
      q.processAllAvailable()
      val c = cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV")).collect()
      assert(c.length == 1 && c.head.getAs[Double]("High") == 50.5)
    } finally q.stop()
  }

  test("polling feeder drives source→write→trigger→cascade→push on a timer (bgworker shape)") {
    import graft.streaming.{IngestPipeline, PollingFeeder, PushBus, StreamTrigger,
      SubscriptionSet, Trigger, TriggerRegistry}
    val root = Files.createTempDirectory("graft-feeder").toString
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("AAPL/1Min/OHLCV"), ohlcv, isVariable = false)
    val registry = new TriggerRegistry
    val cascade = new DownsampleCascade(cat, "OHLCV", "1Min", Seq("5Min"))
    registry.register("*/1Min/OHLCV", new Trigger {
      def fire(tbk: String, batch: org.apache.spark.sql.DataFrame): Unit =
        cascade.cascade(batch.select(col("symbol"), col("Epoch")))
    })
    val pushed = scala.collection.mutable.ArrayBuffer[String]()
    val subs = new SubscriptionSet
    subs.subscribe("*/1Min/*")
    val push = new StreamTrigger(cat, "OHLCV", new PushBus {
      def push(tbk: String, payload: Map[String, Any]): Unit =
        pushed.synchronized { pushed += tbk }
    }, subs)
    registry.register("*/1Min/OHLCV", new Trigger {
      def fire(tbk: String, batch: org.apache.spark.sql.DataFrame): Unit =
        push.fire("1Min", batch.select(col("symbol"), col("Epoch")))
    })
    // clock starts at t0+10min and advances one minute per poll, so
    // each tick yields fresh bars past the feeder's watermark
    var nowAt = t0 + 600L
    val feeder = new PollingFeeder(cat, new IngestPipeline(cat, registry),
      Seq(TimeBucketKey.parse("AAPL/1Min/OHLCV")),
      PollingFeeder.syntheticBars(spark, graft.core.CandleDuration.parse("1Min"),
        () => nowAt),
      intervalMs = 3600000L) // ticks driven manually below
    try {
      // reads throw until the first poll lands data
      def barCount(): Long =
        scala.util.Try(cat.read(TimeBucketKey.parse("AAPL/1Min/OHLCV")).count())
          .getOrElse(0L)
      feeder.start() // schedules the first poll immediately
      val deadline = System.currentTimeMillis() + 30000
      while (barCount() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val firstBatch = barCount()
      assert(firstBatch >= 3, "backfill bars should have landed") // backfillSteps = 3
      nowAt += 60L
      feeder.pollOnce() // next tick: exactly the one new closed bar
      assert(cat.read(TimeBucketKey.parse("AAPL/1Min/OHLCV")).count() == firstBatch + 1)
      // the full loop ran: cascade produced 5Min candles, push delivered
      assert(cat.read(TimeBucketKey.parse("AAPL/5Min/OHLCV")).count() >= 1)
      assert(pushed.synchronized(pushed.nonEmpty) && pushed.head == "AAPL/1Min/OHLCV")
    } finally { feeder.close(); push.close() }
  }

  test("1D destination honors the market-hours TimeQual (aggtrigger.go:237-246)") {
    val root = Files.createTempDirectory("graft-mh").toString
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("X/1Min/OHLCV"), ohlcv, isVariable = false)
    val cal = MarketCalendar("UTC", "09:30:00", "16:00:00")
    val cascade = new DownsampleCascade(cat, "OHLCV", "1Min", Seq("1D"),
      marketFilter = Some(cal))
    // 09:00 (pre-market) and 10:00 (in hours) bars on the same Monday
    cascade.ingest(Seq(
      Bar("AAPL", t0 - 3600, 5.0, 5.5, 4.5, 5.25, 1.0), // 09:00, filtered out
      bar("AAPL", 0, 10)).toDS.toDF)
    val daily = cat.read(TimeBucketKey.parse("AAPL/1D/OHLCV")).collect()
    assert(daily.length == 1)
    assert(daily.head.getAs[Double]("Open") == 10.0) // pre-market bar excluded
    assert(daily.head.getAs[Double]("Volume") == 1.0)
  }

  /** The per-destination recompute the cascade must reproduce: for
    * destination `d`, `Candler.candle` over the base rows of the
    * windows each batch symbol's [head, tail] touches, market hours
    * only at >= 1D — beside the stored `d` candles of those windows.
    */
  private def perDestination(cat: BucketCatalog, group: String, baseTf: String,
      d: String, batch: org.apache.spark.sql.DataFrame,
      cal: Option[MarketCalendar]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val dest = graft.core.CandleDuration.parse(d)
    val spans = batch.groupBy("symbol")
      .agg(min("Epoch").as("__head"), max("Epoch").as("__tail"))
    def affected(df: org.apache.spark.sql.DataFrame) = df.join(spans, "symbol")
      .filter(col("Epoch") >= dest.truncate(col("__head")) &&
        col("Epoch") < dest.ceil(col("__tail")))
      .drop("__head", "__tail")
    val base = affected(cat.readMulti(group, baseTf))
    val kept = cal match {
      case Some(c) if dest.approxSeconds >= 86400L =>
        base.filter(TimeQual.isMarketOpen(col("Epoch"), c))
      case _ => base
    }
    val cols = Seq("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume").map(col)
    val expected = graft.functions.Candler.candle(kept, dest,
      openOf = col("Open"), closeOf = col("Close"), highOf = col("High"), lowOf = col("Low"),
      sums = Seq("Volume"), avgs = Nil, groupCols = Seq("symbol"))
      .withColumnRenamed("Volume_SUM", "Volume").select(cols: _*)
    val stored = affected(cat.readMulti(group, d)).select(cols: _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq)
      .sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long]))
    (rows(expected), rows(stored))
  }

  test("cascade candles equal the per-destination recompute: 5Min/1H/1D/1W, market hours, late revision") {
    val (cat, _) = fresh()
    val cal = MarketCalendar("UTC", "09:30:00", "16:00:00")
    val dests = Seq("5Min", "1H", "1D", "1W")
    val cascade = new DownsampleCascade(cat, "OHLCV", "1Min", dests, marketFilter = Some(cal))
    // Monday..Wednesday bars, pre-market (09:15) included, three symbols
    val days = Seq(0, 1, 2)
    cascade.ingest((for {
      s <- Seq("AAPL", "MSFT", "IBM"); day <- days
      m <- Seq(-45, 0, 1, 2, 3, 4, 7, 70)
    } yield bar(s, day * 1440 + m, 10.0 + (m + day) % 7, 1.0 + day)).toDS.toDF)
    // the batch under test: a revision of AAPL's Monday 10:02 bar (its
    // 5Min window closed long ago), a late pre-market MSFT bar, a
    // Thursday IBM bar and a new symbol
    val batch = Seq(bar("AAPL", 2, 30.0, 4.0), bar("AAPL", 1440 + 5, 9.0),
      bar("MSFT", -40, 2.0, 2.0), bar("IBM", 3 * 1440 + 1, 11.0),
      bar("GOOG", 0, 50.0), bar("GOOG", 1440 + 3, 51.0)).toDS.toDF
    cascade.ingest(batch)
    dests.foreach { d =>
      val (expected, stored) = perDestination(cat, "OHLCV", "1Min", d, batch, Some(cal))
      assert(expected.nonEmpty, s"$d: no affected candles")
      assert(stored == expected, s"$d candles differ from the per-destination recompute")
    }
    // the revision reached every level, market hours honored at 1D
    val daily = cat.read(TimeBucketKey.parse("AAPL/1D/OHLCV")).orderBy("Epoch").collect()
    assert(daily.head.getAs[Double]("High") == 30.5)
    assert(daily.head.getAs[Double]("Volume") == 10.0) // 7 in-hours bars: 6 × 1 + 4
  }

  test("cascade candles equal the per-destination recompute: 1W beside 1M, a week that straddles a month") {
    val (cat, _) = fresh()
    val dests = Seq("1W", "1M")
    val cascade = new DownsampleCascade(cat, "OHLCV", "1Min", dests)
    // day 0 = Monday 2024-02-26; its week closes on Sunday 03-03, in March
    def at(s: String, day: Int, m: Int, px: Double) = bar(s, (49 + day) * 1440 + m, px)
    cascade.ingest((for {
      s <- Seq("AAPL", "MSFT"); day <- 0 to 4; m <- Seq(0, 1, 30)
    } yield at(s, day, m, 10.0 + day + m % 7)).toDS.toDF)
    // a Saturday 03-02 batch: its month began the day before, its week
    // four days earlier
    val batch = Seq(at("AAPL", 5, 0, 20.0), at("MSFT", 5, 3, 30.0)).toDS.toDF
    cascade.ingest(batch)
    dests.foreach { d =>
      val (expected, stored) = perDestination(cat, "OHLCV", "1Min", d, batch, None)
      assert(expected.nonEmpty, s"$d: no affected candles")
      assert(stored == expected, s"$d candles differ from the per-destination recompute")
    }
    // the week candle still holds Monday's open and the whole week's volume
    val week = cat.read(TimeBucketKey.parse("AAPL/1W/OHLCV")).collect()
    assert(week.map(r => (r.getAs[Double]("Open"), r.getAs[Double]("Volume"))).toSeq ==
      Seq((10.0, 16.0)))
  }

  test("cascade candles equal the per-destination recompute on a variable base, ns order within a second") {
    val root = Files.createTempDirectory("graft-stream-ns").toString
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("X/1Sec/NS"), StructType(
      StructField("Epoch", LongType) +: StructField("Nanoseconds", IntegerType) +:
        ohlcv.fields.toSeq.tail), isVariable = true)
    val cal = MarketCalendar("UTC", "09:30:00", "16:00:00")
    val dests = Seq("1Min", "1H", "1D")
    val cascade = new DownsampleCascade(cat, "NS", "1Sec", dests, marketFilter = Some(cal))
    def tick(s: String, sec: Int, ns: Int, px: Double) =
      (s, t0 + sec, ns, px, px + 0.5, px - 0.5, px + 0.25, 1.0)
    val cols = Seq("symbol", "Epoch", "Nanoseconds", "Open", "High", "Low", "Close", "Volume")
    // several ticks inside one second, out of nanosecond order
    cascade.ingest(Seq(tick("AAPL", 5, 900, 3.0), tick("AAPL", 5, 100, 1.0),
      tick("AAPL", 5, 500, 2.0), tick("AAPL", 70, 0, 4.0),
      tick("MSFT", 5, 300, 7.0), tick("MSFT", 5, 200, 6.0)).toDF(cols: _*))
    // late ticks land before and after the stored ones in that second
    val batch = Seq(tick("AAPL", 5, 50, 8.0), tick("AAPL", 5, 950, 9.0),
      tick("MSFT", 5, 250, 5.0)).toDF(cols: _*)
    cascade.ingest(batch)
    dests.foreach { d =>
      val (expected, stored) = perDestination(cat, "NS", "1Sec", d, batch, Some(cal))
      assert(expected.nonEmpty, s"$d: no affected candles")
      assert(stored == expected, s"$d candles differ from the per-destination recompute")
    }
    val minute = cat.read(TimeBucketKey.parse("AAPL/1Min/NS")).orderBy("Epoch").collect()
    assert(minute.head.getAs[Double]("Open") == 8.0) // ns 50 is the earliest
    assert(minute.head.getAs[Double]("Close") == 9.25) // ns 950 is the latest
  }

  test("LiveCandles: watermarked windowed aggregation updates candles and drops too-late rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Tick]
    val candles = graft.streaming.LiveCandles.candles(
      source.toDF, graft.core.CandleDuration.parse("5Min"), allowedLateness = "5 minutes")
    val q = candles.writeStream
      .format("memory").queryName("live_candles").outputMode("update").start()
    try {
      source.addData(Tick("AAPL", t0, 10.0, 1.0), Tick("AAPL", t0 + 60, 12.0, 2.0))
      q.processAllAvailable()
      // slightly-late tick INSIDE the allowed lateness updates the window
      source.addData(Tick("AAPL", t0 + 30, 50.0, 1.0))
      q.processAllAvailable()
      val latest = spark.table("live_candles")
        .groupBy("symbol", "Epoch")
        .agg(org.apache.spark.sql.functions.expr("max_by(High, Volume)").as("High"),
          org.apache.spark.sql.functions.max("Volume").as("Volume"),
          org.apache.spark.sql.functions.expr("max_by(VWAP, Volume)").as("VWAP"))
        .collect()
      assert(latest.length == 1)
      assert(latest.head.getAs[Double]("High") == 50.0)
      assert(latest.head.getAs[Double]("Volume") == 4.0)
      // live VWAP equals the batch Analytics.vwap over the same ticks
      assert(math.abs(latest.head.getAs[Double]("VWAP") -
        (10.0 * 1.0 + 12.0 * 2.0 + 50.0 * 1.0) / 4.0) < 1e-12)
      // advance event time far past the watermark, then send a
      // hopelessly late tick: state for the old window is gone and the
      // update stream must NOT revise it
      source.addData(Tick("AAPL", t0 + 3600, 99.0, 1.0))
      q.processAllAvailable()
      val before = spark.table("live_candles").count()
      source.addData(Tick("AAPL", t0 - 3600, 1000.0, 1.0))
      q.processAllAvailable()
      val news = spark.table("live_candles").collect().drop(before.toInt)
      assert(!news.exists(_.getAs[Double]("High") == 1000.0))
    } finally q.stop()
  }

  test("LiveSessions: session_window merges on late events; final state == batch sessionize") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Tick]
    val sessions = graft.streaming.LiveSessions.sessions(
      source.toDF, gap = "30 seconds", keyCols = Seq("symbol"),
      allowedLateness = "5 minutes")
    val q = sessions.writeStream
      .format("memory").queryName("live_sessions").outputMode("complete").start()
    try {
      // three separated bursts...
      source.addData(Tick("AAPL", t0, 1, 1), Tick("AAPL", t0 + 60, 1, 1),
        Tick("AAPL", t0 + 150, 1, 1))
      q.processAllAvailable()
      assert(spark.table("live_sessions").count() == 3)
      // ...the first two bridged by late ticks inside the lateness:
      // sessions MERGE through the chain t0 → +29 → +58 → +60
      source.addData(Tick("AAPL", t0 + 29, 1, 1), Tick("AAPL", t0 + 58, 1, 1))
      q.processAllAvailable()
      val merged = spark.table("live_sessions").collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("SessionStart"),
          r.getAs[Long]("SessionEnd"), r.getAs[Long]("NEvents")))
      assert(merged.toSet == Set(("AAPL", t0, t0 + 60, 4L),
        ("AAPL", t0 + 150, t0 + 150, 1L)), merged.toSeq.toString)
      // final streaming state equals the batch operator on the same
      // rows (no exact-gap boundaries in the fixture — the half-open
      // session_window boundary vs the batch > rule never engages)
      val batch = graft.operators.Analytics.sessionize(
          Seq(("AAPL", t0), ("AAPL", t0 + 60), ("AAPL", t0 + 150),
            ("AAPL", t0 + 29), ("AAPL", t0 + 58)).toDF("symbol", "Epoch"),
          gapSeconds = 30, keyCols = Seq("symbol"))
        .select("symbol", "SessionStart", "SessionEnd", "NEvents").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(batch.toSet == merged.toSet)
    } finally q.stop()
  }

  test("streaming dedup suppresses replayed content within the watermark, reclaims state after") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val source = MemoryStream[StreamDoc]
    val deduped = graft.streaming.StreamingDedup.dedupStream(
      source.toDF, eventTimeCol = "ts", lateness = "10 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("stream_dedup").outputMode("append").start()
    try {
      source.addData(
        StreamDoc(1L, ts(t0), "the quick brown fox"),
        StreamDoc(2L, ts(t0 + 10), "entirely different words"))
      q.processAllAvailable()
      // a replay under a NEW id (and stray whitespace) within the
      // delay is suppressed; genuinely new content passes
      source.addData(
        StreamDoc(3L, ts(t0 + 60), "  The Quick Brown Fox "),
        StreamDoc(4L, ts(t0 + 61), "third distinct document"))
      q.processAllAvailable()
      val out1 = spark.table("stream_dedup")
      assert(out1.count() == 3, s"expected 3 survivors, got ${out1.collect().toSeq}")
      assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      // advance event time far past the watermark: hash state for the
      // old window is reclaimed, so the same content passes again —
      // the documented bounded-state trade (batch dedup remains the
      // source of truth)
      source.addData(StreamDoc(5L, ts(t0 + 7200), "watermark advancer"))
      q.processAllAvailable()
      source.addData(StreamDoc(6L, ts(t0 + 7210), "the quick brown fox"))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(6L),
        s"state should have been reclaimed past the watermark; got $ids")
    } finally q.stop()
  }

  test("streaming media gate drops byte-identical payloads, passes fresh and edited ones") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val corpus = Seq((100L, "payload-one"), (101L, "payload-two"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val bloom = graft.streaming.StreamingDedup.mediaHashBloom(corpus)
    val source = MemoryStream[StreamDoc]
    val gated = graft.streaming.StreamingDedup.filterMediaAgainstCorpus(
      source.toDF.select(col("doc_id"), col("ts"),
        col("text").cast("binary").as("media")), bloom)
    val q = gated.writeStream.format("memory").queryName("stream_media_gate")
      .outputMode("append").start()
    try {
      source.addData(
        StreamDoc(1L, ts(t0), "payload-one"),      // exact clone -> dropped
        StreamDoc(2L, ts(t0 + 1), "payload-onE"),  // edited byte -> passes (EXACT key, no normalization)
        StreamDoc(3L, ts(t0 + 2), "fresh bytes"))  // fresh -> passes
      q.processAllAvailable()
      val ids = spark.table("stream_media_gate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 3L), s"media gate survivors: $ids")
    } finally q.stop()
  }

  test("streaming BPE tokenization equals the batch encoder on the trained vocabulary") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val train = Seq((1L, "aaaa aaaa bank rank"), (2L, "the bank the rank"))
      .toDF("doc_id", "text")
    val (merges, seg) = graft.ops.Bpe.learn(train, nMerges = 4)
    val source = MemoryStream[StreamDoc]
    val q = graft.streaming.StreamingTokenize
      .encodeStream(source.toDF, seg, lateness = "10 minutes")
      .writeStream.format("memory").queryName("stream_bpe")
      .outputMode("append").start()
    try {
      // doc 11 is all in-vocab; doc 12 mixes vocab, OOV ("zzz"), and
      // a non-trainable token
      source.addData(
        StreamDoc(11L, ts(t0), "bank the aaaa"),
        StreamDoc(12L, ts(t0 + 5), "rank zzz ?!"))
      q.processAllAvailable()
      // advance the watermark past the docs so the append-mode agg emits
      source.addData(StreamDoc(99L, ts(t0 + 3600), "flush"))
      q.processAllAvailable()
      val got = spark.table("stream_bpe")
        .select("doc_id", "n_tokens_bpe", "bpe_text").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      // batch equivalence: stream output == Bpe.encode WITHOUT OOV
      // merge application (the documented streaming contract)
      val batch = Seq((11L, "bank the aaaa"), (12L, "rank zzz ?!"))
        .toDF("doc_id", "text")
      val exp = graft.ops.Bpe.encode(batch, seg).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got.view.filterKeys(_ != 99L).toMap == exp,
        s"stream $got vs batch $exp")
      // and the OOV word really is opaque on the stream (unlike the
      // full batch encoder with merges)
      assert(got(12L)._2.split(" ").contains("zzz"))
      val full = graft.ops.Bpe.encode(batch, seg, Some(merges)).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(!full(12L).split(" ").contains("zzz"),
        "batch encoder with merges should segment the OOV word")
    } finally q.stop()
    seg.unpersist()
  }

  test("streaming corpus-index gate drops known content; composed with dedup it matches the batch delta op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val corpus = Seq((100L, "seen before"), (101L, "also indexed"))
      .toDF("doc_id", "text")
    val bloom = graft.streaming.StreamingDedup.corpusHashBloom(corpus)
    val source = MemoryStream[StreamDoc]
    // gate first (stateless), then in-stream dedup (watermarked) —
    // the streaming front of exactDeltaSurvivors
    val gated = graft.streaming.StreamingDedup.dedupStream(
      graft.streaming.StreamingDedup.filterAgainstCorpus(source.toDF, bloom),
      eventTimeCol = "ts", lateness = "10 minutes")
    val q = gated.writeStream
      .format("memory").queryName("stream_delta_gate").outputMode("append").start()
    try {
      source.addData(
        StreamDoc(1L, ts(t0), "Seen Before "),      // corpus clone -> dropped
        StreamDoc(2L, ts(t0 + 5), "fresh content"), // survives
        StreamDoc(3L, ts(t0 + 9), "also indexed"))  // corpus clone -> dropped
      q.processAllAvailable()
      source.addData(
        StreamDoc(4L, ts(t0 + 20), "fresh content"),  // in-stream dup -> dropped
        StreamDoc(5L, ts(t0 + 25), "another novelty")) // survives
      q.processAllAvailable()
      val ids = spark.table("stream_delta_gate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 5L), s"gate survivors: $ids")
      // content-level batch equivalence: the same rows through the
      // batch delta op keep exactly the same contents
      val batch = Seq((1L, "Seen Before "), (2L, "fresh content"),
        (3L, "also indexed"), (4L, "fresh content"), (5L, "another novelty"))
        .toDF("doc_id", "text")
      val batchIds = graft.ops.Dedup.exactDeltaSurvivors(batch, corpus)
        .collect().map(_.getLong(0)).toSet
      assert(batchIds == ids, s"stream $ids vs batch $batchIds")
    } finally q.stop()
  }

  test("streaming near-dedup suppresses reordered/self-repeated replays exact dedup misses") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val base = "the quick brown fox jumps over the lazy dog"
    val reordered = "dog lazy the over jumps fox brown quick the"
    val doubled = base + " " + base
    // precondition, batch-checked: the replays are near-dups by
    // construction — same simhash (order-free, sign-invariant under
    // vote doubling) but DIFFERENT md5s, so exact dedup passes them
    val sigs = graft.ops.Dedup.simhashSignatures(
      Seq((1L, base), (2L, reordered), (3L, doubled)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L) && sigs(1L) == sigs(3L),
      s"test corpus must collide on simhash: $sigs")
    val md5s = Seq(base, reordered, doubled).toDF("text")
      .select(graft.ops.Dedup.contentHash(col("text"))).collect().map(_.getString(0))
    assert(md5s.distinct.length == 3, "exact hashes must all differ")

    val source = MemoryStream[StreamDoc]
    val deduped = graft.streaming.StreamingNearDedup.nearDedupStream(
      source.toDF, eventTimeCol = "ts", lateness = "10 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("stream_near_dedup").outputMode("append").start()
    try {
      source.addData(
        StreamDoc(1L, ts(t0), base),
        StreamDoc(2L, ts(t0 + 10), "entirely different words here"))
      q.processAllAvailable()
      source.addData(
        StreamDoc(3L, ts(t0 + 60), reordered), // near-dup replay: suppressed
        StreamDoc(4L, ts(t0 + 61), doubled), // self-concatenated replay: suppressed
        StreamDoc(5L, ts(t0 + 62), "a third genuinely distinct document"))
      q.processAllAvailable()
      val ids = spark.table("stream_near_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L), s"expected near-dup suppression, got $ids")
      // state reclaimed past the watermark — the bounded-state trade
      source.addData(StreamDoc(6L, ts(t0 + 7200), "watermark advancer text"))
      q.processAllAvailable()
      source.addData(StreamDoc(7L, ts(t0 + 7210), base))
      q.processAllAvailable()
      val after = spark.table("stream_near_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after.contains(7L),
        s"fingerprint state should be reclaimed past the watermark; got $after")
    } finally q.stop()
  }

  test("streaming decontamination gate flags eval-overlapping docs, passes clean ones") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // eval set: two "benchmark" items; the bloom is built from their
    // distinct trigrams by a distributed agg
    val evalSet = Seq(
      "what is the capital of france paris of course",
      "solve for x in the equation above").toDF("text")
    val bloom = graft.streaming.StreamingDecontaminate.evalGramBloom(evalSet)
    assert(bloom.nonEmpty)
    // an EMPTY eval relation must fail fast: BloomFilterAggregate
    // yields null at cardinality 0, and a null bloom literal would
    // make filterStream silently drop the entire stream
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDecontaminate.evalGramBloom(
        evalSet.filter(org.apache.spark.sql.functions.lit(false)))
    }
    val source = MemoryStream[StreamDoc]
    val flagged = graft.streaming.StreamingDecontaminate.flagStream(
      source.toDF, bloom)
    val q = flagged.writeStream
      .format("memory").queryName("stream_decon").outputMode("append").start()
    try {
      source.addData(
        // shares the trigram "the capital of" — MUST be flagged (the
        // bloom has no false negatives)
        StreamDoc(1L, ts(t0), "students often ask what the capital of france is"),
        // entirely disjoint vocabulary — must pass
        StreamDoc(2L, ts(t0 + 1), "zebras gallop across wide open savannas today"),
        // exact eval item replayed verbatim — flagged
        StreamDoc(3L, ts(t0 + 2), "solve for x in the equation above"))
      q.processAllAvailable()
      val out = spark.table("stream_decon")
        .select("doc_id", "maybe_contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out(1L), "overlapping doc was not flagged — false negative is a gate leak")
      assert(out(3L), "verbatim eval replay was not flagged")
      assert(!out(2L), "clean doc was falsely flagged (bloom sized for ~0 FP here)")
    } finally q.stop()
    // the enforcing variant drops flagged docs in-stream
    val source2 = MemoryStream[StreamDoc]
    val gated = graft.streaming.StreamingDecontaminate.filterStream(
      source2.toDF, bloom)
    val q2 = gated.writeStream
      .format("memory").queryName("stream_decon_gate").outputMode("append").start()
    try {
      source2.addData(
        StreamDoc(1L, ts(t0), "students often ask what the capital of france is"),
        StreamDoc(2L, ts(t0 + 1), "zebras gallop across wide open savannas today"))
      q2.processAllAvailable()
      val ids = spark.table("stream_decon_gate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L), s"gate should pass only the clean doc, got $ids")
    } finally q2.stop()
  }

  test("streaming composite ingest→decontaminate→dedup→append equals the batch operators, out of order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val evalSet = Seq(
      "what is the capital of france paris of course",
      "solve for x in the equation above").toDF("text")
    val bloom = graft.streaming.StreamingDecontaminate.evalGramBloom(evalSet)

    // the corpus: clean docs, exact replays under new ids (stray case/
    // whitespace), and eval-overlapping docs — delivered across three
    // micro-batches with OUT-OF-ORDER event times inside the lateness
    val docs = Seq(
      StreamDoc(1L, ts(t0 + 30), "alpha beta gamma delta epsilon"),
      StreamDoc(2L, ts(t0 + 10), "zebras gallop across wide open savannas"),
      StreamDoc(3L, ts(t0 + 50), "students ask what the capital of france is"), // contaminated
      StreamDoc(4L, ts(t0 + 20), "  Alpha Beta GAMMA delta epsilon "), // replay of 1
      StreamDoc(5L, ts(t0 + 5), "completely novel fifth document body"),
      StreamDoc(6L, ts(t0 + 40), "solve for x in the equation above"), // eval verbatim
      StreamDoc(7L, ts(t0 + 15), "zebras gallop across wide open savannas"), // replay of 2
      StreamDoc(8L, ts(t0 + 55), "last distinct survivor text here"))
    val batches = Seq(docs.slice(0, 3), docs.slice(3, 6), docs.slice(6, 8))

    val root = Files.createTempDirectory("graft-stream-composite").toString
    val cat = new BucketCatalog(spark, root)
    val source = MemoryStream[StreamDoc]
    // the composite: Bloom gate → watermarked exact dedup → catalog
    // append; each doc's distinct event second is its Epoch key
    val piped = graft.streaming.StreamingDedup.dedupStream(
      graft.streaming.StreamingDecontaminate.filterStream(source.toDF, bloom),
      eventTimeCol = "ts", lateness = "10 minutes")
    val q = piped.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stream-composite-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        cat.writeMulti("SDOC", "1Sec", b.select(
          lit("D").as("symbol"),
          (col("ts").cast("long")).as("Epoch"),
          col("doc_id"), col("text"), col("content_hash")))
      }.start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    // batch truth over the SAME docs: exact dedup survivors (one per
    // content) of the decontamination-clean slice
    val all = docs.toDF()
    val contaminated = graft.ops.Dedup.contaminationReport(all, evalSet, n = 3)
      .filter(col("hit_grams") > 0).select("doc_id")
    val clean = all.join(contaminated, Seq("doc_id"), "left_anti")
    val batchContent = graft.ops.Dedup.exactGroups(clean)
      .select("content_hash").collect().map(_.getString(0)).toSet

    val streamed = cat.read(TimeBucketKey.parse("D/1Sec/SDOC"))
      .select("content_hash").collect().map(_.getString(0))
    // same surviving CONTENT set, exactly one row per content (the
    // streaming path keeps first-arrival ids; batch keeps min-id — the
    // content-level outcome is what both contracts share)
    assert(streamed.toSet == batchContent,
      s"streamed ${streamed.toSet} != batch $batchContent")
    assert(streamed.length == streamed.toSet.size, "streaming appended a duplicate content")
  }

  test("isMarketOpen matches reference boundary semantics (calendar.go:107-137)") {
    import spark.implicits._
    val cal = MarketCalendar("UTC", "09:30:00", "16:00:00",
      nonTradingDays = Seq("2024-01-09"), earlyCloses = Seq("2024-01-10"))
    val monday930 = 1704706200L // 2024-01-08 09:30:00
    val cases = Seq(
      monday930 -> true, // open boundary inclusive
      (monday930 - 1) -> false, // 09:29:59
      (1704708000L + 6 * 3600L) -> false, // 16:00 close boundary exclusive
      (1704708000L + 6 * 3600L - 1) -> true, // 15:59:59
      (monday930 + 6 * 86400L) -> false, // Sunday
      (monday930 + 86400L) -> false, // Tuesday = listed holiday
      (monday930 + 2 * 86400L + 3 * 3600L) -> true, // Wed 12:30 < early close 13:00
      (monday930 + 2 * 86400L + 4 * 3600L) -> false // Wed 13:30 >= early close
    )
    val got = cases.map(_._1).toDF("Epoch")
      .withColumn("open", TimeQual.isMarketOpen(col("Epoch"), cal))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (e, want) =>
      assert(got(e) == want, s"epoch $e: got ${got(e)}, want $want")
    }
  }

  test("streaming as-of join: late quote honored, tie visible, flush via event-time timeout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val trades = MemoryStream[Tick]
    val quotes = MemoryStream[Quote]
    val joined = graft.streaming.StreamingAsOf.asofJoin(
      trades.toDF, quotes.toDF, key = "symbol",
      leftTime = "Epoch", rightTime = "Epoch",
      leftPayload = Seq("Price"), rightPayload = Seq("Bid"),
      allowedLateness = "10 seconds")
    val q = joined.writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      // batch 1: two trades, one quote; wm after = t0+45-10 = t0+35,
      // so only the t0+5 trade is final (t0+45 must wait — a quote
      // ≤ t0+45 may still arrive... and does, in batch 2)
      trades.addData(Tick("AAPL", t0 + 5, 10.1, 1), Tick("AAPL", t0 + 45, 11.2, 1),
        Tick("AAPL", t0 - 5, 9.9, 1), Tick("MSFT", t0 + 10, 20.2, 1))
      quotes.addData(Quote("AAPL", t0, 10.0), Quote("MSFT", t0 + 10, 20.0))
      q.processAllAvailable()
      // batch 2: the late-but-in-lateness quote that must win for t0+45
      quotes.addData(Quote("AAPL", t0 + 40, 11.0))
      q.processAllAvailable()
      // batch 3: sentinels on BOTH streams push the watermark past the
      // fixture; the AAPL/MSFT groups get NO new data — they flush
      // through the event-time timeout path
      trades.addData(Tick("ZZZ", t0 + 1000, 1, 1))
      quotes.addData(Quote("ZZZ", t0 + 1000, 1))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("asof_stream")
        .filter(col("symbol") =!= "ZZZ")
        .collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("t"),
          r.getAs[Double]("Price"),
          Option(r.getAs[java.lang.Double]("Bid")).map(_.doubleValue)))
        .toSet
      val want = Set(
        ("AAPL", t0 - 5, 9.9, None), // before any quote
        ("AAPL", t0 + 5, 10.1, Some(10.0)),
        ("AAPL", t0 + 45, 11.2, Some(11.0)), // the batch-2 late quote
        ("MSFT", t0 + 10, 20.2, Some(20.0))) // same-second quote visible
      assert(got == want, got.toString)
      // batch equivalence: asofJoinUnion on the same rows
      val batch = graft.operators.TimeSeries.asofJoinUnion(
          Seq(("AAPL", t0 + 5, 10.1), ("AAPL", t0 + 45, 11.2),
            ("AAPL", t0 - 5, 9.9), ("MSFT", t0 + 10, 20.2))
            .toDF("symbol", "Epoch", "Price"),
          Seq(("AAPL", t0, 10.0), ("MSFT", t0 + 10, 20.0), ("AAPL", t0 + 40, 11.0))
            .toDF("symbol", "Epoch", "Bid"),
          keys = Seq("symbol"), leftTime = "Epoch", rightTime = "Epoch",
          payload = Seq("Bid"))
        .collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("Epoch"),
          r.getAs[Double]("Price"),
          Option(r.getAs[java.lang.Double]("Bid")).map(_.doubleValue)))
        .toSet
      assert(batch == want, batch.toString)
    } finally q.stop()
  }

  test("LiveIndicators.ema: out-of-order folds in event order; final state == batch EmaWindow") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Tick]
    val live = graft.streaming.LiveIndicators.ema(
      source.toDF, key = "symbol", timeCol = "Epoch", valueCol = "Price",
      n = 3, allowedLateness = "10 seconds")
    val q = live.writeStream
      .format("memory").queryName("live_ema").outputMode("append").start()
    try {
      // batch 1 arrives OUT of event order: t0+20 before t0+12; the
      // late row lands strictly inside the lateness window (wm after
      // batch 1 is t0+10 — a row AT the watermark is already dropped)
      source.addData(Tick("AAPL", t0, 10.0, 1), Tick("AAPL", t0 + 20, 14.0, 1))
      q.processAllAvailable()
      source.addData(Tick("AAPL", t0 + 12, 12.0, 1), Tick("BBB", t0 + 20, 5.0, 1))
      q.processAllAvailable()
      // sentinel advances the watermark; AAPL/BBB flush via timeout
      source.addData(Tick("ZZZ", t0 + 1000, 1.0, 1))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("live_ema").filter(col("symbol") =!= "ZZZ")
        .collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("Epoch"),
          r.getAs[Double]("EMA"))).toSet
      // α = 0.5 over the EVENT-ordered series 10, 12, 14
      val want = Set(
        ("AAPL", t0, 10.0), ("AAPL", t0 + 12, 11.0), ("AAPL", t0 + 20, 12.5),
        ("BBB", t0 + 20, 5.0))
      assert(got == want, got.toString)
      // equivalence with the batch window function on the same rows
      val batch = graft.operators.Analytics.ema(
          Seq(("AAPL", t0, 10.0), ("AAPL", t0 + 20, 14.0), ("AAPL", t0 + 12, 12.0),
            ("BBB", t0 + 20, 5.0)).toDF("symbol", "Epoch", "Close"),
          "Close", 3, Seq("symbol"))
        .collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("Epoch"),
          r.getAs[Double]("EMA"))).toSet
      assert(batch == want, batch.toString)
    } finally q.stop()
  }

  test("LiveIndicators.macd: single fold equals the batch three-window chain bit-for-bit") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Tick]
    val live = graft.streaming.LiveIndicators.macd(
      source.toDF, key = "symbol", timeCol = "Epoch", valueCol = "Price",
      allowedLateness = "10 seconds")
    val q = live.writeStream
      .format("memory").queryName("live_macd").outputMode("append").start()
    try {
      // out of order within the lateness window
      source.addData(Tick("AAPL", t0, 10.0, 1), Tick("AAPL", t0 + 20, 11.0, 1))
      q.processAllAvailable()
      source.addData(Tick("AAPL", t0 + 12, 12.0, 1))
      q.processAllAvailable()
      source.addData(Tick("ZZZ", t0 + 1000, 1.0, 1))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("live_macd").filter(col("symbol") =!= "ZZZ")
        .collect()
        .map(r => (r.getAs[Long]("Epoch"), r.getAs[Double]("MACD"),
          r.getAs[Double]("MACDSignal"), r.getAs[Double]("MACDHist"))).toSet
      val batch = graft.operators.Analytics.macd(
          Seq(("AAPL", t0, 10.0), ("AAPL", t0 + 20, 11.0), ("AAPL", t0 + 12, 12.0))
            .toDF("symbol", "Epoch", "Close"),
          "Close", groupCols = Seq("symbol"))
        .collect()
        .map(r => (r.getAs[Long]("Epoch"), r.getAs[Double]("MACD"),
          r.getAs[Double]("MACDSignal"), r.getAs[Double]("MACDHist"))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.size == 3 && got.exists(_._2 != 0.0))
    } finally q.stop()
  }

  test("LiveIndicators.rsiWilder: matches batch on out-of-order bars, null first bar") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Tick]
    val live = graft.streaming.LiveIndicators.rsiWilder(
      source.toDF, key = "symbol", timeCol = "Epoch", valueCol = "Price",
      n = 2, allowedLateness = "10 seconds")
    val q = live.writeStream
      .format("memory").queryName("live_rsi").outputMode("append").start()
    try {
      source.addData(Tick("AAPL", t0, 10.0, 1), Tick("AAPL", t0 + 20, 11.0, 1))
      q.processAllAvailable()
      source.addData(Tick("AAPL", t0 + 12, 12.0, 1))
      q.processAllAvailable()
      source.addData(Tick("ZZZ", t0 + 1000, 1.0, 1))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("live_rsi").filter(col("symbol") =!= "ZZZ")
        .collect()
        .map(r => (r.getAs[Long]("Epoch"),
          Option(r.getAs[java.lang.Double]("RSIW")).map(_.doubleValue))).toSet
      val batch = graft.operators.Analytics.rsiWilder(
          Seq(("AAPL", t0, 10.0), ("AAPL", t0 + 20, 11.0), ("AAPL", t0 + 12, 12.0))
            .toDF("symbol", "Epoch", "Close"),
          "Close", 2, Seq("symbol"))
        .collect()
        .map(r => (r.getAs[Long]("Epoch"),
          Option(r.getAs[java.lang.Double]("RSIW")).map(_.doubleValue))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.exists(_._2.isEmpty) && got.exists(_._2.exists(_ < 100.0)))
    } finally q.stop()
  }

  test("streaming as-of: a quiet key's state compacts to the single anchor quote") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-asof-state").toString
    val trades = MemoryStream[Tick]
    val quotes = MemoryStream[Quote]
    val joined = graft.streaming.StreamingAsOf.asofJoin(
      trades.toDF, quotes.toDF, key = "symbol",
      leftTime = "Epoch", rightTime = "Epoch",
      leftPayload = Seq("Price"), rightPayload = Seq("Bid"),
      allowedLateness = "10 seconds")
    val q = joined.writeStream
      .format("memory").queryName("asof_state").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      // several quotes for AAPL, then the key goes quiet while the
      // watermark moves far past them via another key
      quotes.addData(Quote("AAPL", t0, 10.0), Quote("AAPL", t0 + 5, 11.0),
        Quote("AAPL", t0 + 9, 12.0))
      trades.addData(Tick("AAPL", t0 + 2, 1.0, 1))
      q.processAllAvailable()
      quotes.addData(Quote("ZZZ", t0 + 5000, 1.0))
      trades.addData(Tick("ZZZ", t0 + 5000, 1.0, 1))
      q.processAllAvailable()
      q.processAllAvailable() // the compaction timeout fires here
      q.processAllAvailable()
    } finally q.stop()
    // read the actual state store: AAPL must hold exactly ONE right
    // (the anchor, the newest quote) and no pending lefts
    val st = spark.read.format("statestore").option("path", ckpt).load()
    val aapl = st.filter(col("key.value") === "AAPL")
      .select(col("value.groupState.rights").as("rights"),
        col("value.groupState.lefts").as("lefts"))
      .collect()
    assert(aapl.length == 1, s"expected one AAPL state row, got ${aapl.length}")
    val rights = aapl.head.getSeq[org.apache.spark.sql.Row](0)
    assert(rights.length == 1, s"anchor not compacted: ${rights.length} rights")
    assert(rights.head.getLong(0) == t0 + 9, rights.toString)
    assert(aapl.head.getSeq[Any](1).isEmpty, "pending lefts should be empty")
  }

  test("streaming as-of join rejects colliding payload names up front") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val trades = MemoryStream[Tick]
    val quotes = MemoryStream[Quote]
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingAsOf.asofJoin(
        trades.toDF.withColumnRenamed("Price", "Bid"), quotes.toDF,
        key = "symbol", leftTime = "Epoch", rightTime = "Epoch",
        leftPayload = Seq("Bid"), rightPayload = Seq("Bid"))
    }
    assert(err.getMessage.contains("disjoint"))
  }

  test("streaming ANN serving: query micro-batches answer from the maintained index == batch op") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents: Array[Seq[Float]] = Array(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val idxPath = Files.createTempDirectory("graft-sknn-idx").toString + "/idx"
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, idxPath)
    val corpus = (0 until 80).map { i =>
      (i.toLong, Seq(((i * 7) % 11).toFloat, ((i * 5) % 7).toFloat,
        ((i * 3) % 5).toFloat, (i % 3).toFloat))
    }.toDF("vec_id", "embedding")
    trig.fire("V/1Sec/EMB", corpus) // index the corpus once
    val queries = MemoryStream[QueryVec]
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val ckpt = Files.createTempDirectory("graft-sknn-ckpt").toString
    val q = trig.attachQueries(queries.toDF, k = 5, nProbe = cents.length, ckpt) { hits =>
      results ++= hits.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      queries.addData(QueryVec(1000L, Seq(1f, 2f, 3f, 1f)))
      q.processAllAvailable()
      queries.addData(QueryVec(1001L, Seq(4f, 0f, 1f, 2f)), QueryVec(1002L, Seq(0f, 6f, 2f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    // every micro-batch's answers equal the batch operator over the
    // same queries — full probe serves exactly
    val allQ = Seq(
      (1000L, Seq(1f, 2f, 3f, 1f)), (1001L, Seq(4f, 0f, 1f, 2f)),
      (1002L, Seq(0f, 6f, 2f, 0f))).toDF("vec_id", "embedding")
    val want = graft.ops.Similarity.bruteForceTopK(corpus, allQ, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(results.toSet == want,
      s"streamed answers diverge: extra=${results.toSet -- want} missing=${want -- results.toSet}")
  }

  test("streaming ANN serving survives a pinned generation retiring mid-batch: the micro-batch re-pins and answers instead of killing the query") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents: Array[Seq[Float]] = Array(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val idxPath = Files.createTempDirectory("graft-sknn-stale").toString + "/idx"
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, idxPath)
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq(((i * 7) % 11).toFloat, ((i * 5) % 7).toFloat,
        ((i * 3) % 5).toFloat, (i % 3).toFloat))
    }.toDF("vec_id", "embedding")
    trig.fire("V/1Sec/EMB", corpus)
    val queries = MemoryStream[QueryVec]
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val ckpt = Files.createTempDirectory("graft-sknn-stale-ckpt").toString
    // the first sink invocation simulates the double-flip transient:
    // its read surfaces Spark's FAILED_READ_FILE wrapper around a
    // FileNotFound (the pinned generation was retired under the plan).
    // attachQueries must re-pin and re-run the batch — not fail the
    // streaming query — per foreachBatch's idempotent-sink contract.
    val q = trig.attachQueries(queries.toDF, k = 3, nProbe = cents.length, ckpt) { hits =>
      if (sinkCalls.incrementAndGet() == 1)
        throw new org.apache.spark.SparkException(
          "[FAILED_READ_FILE.FILE_NOT_EXIST] simulated retired-generation read",
          new java.io.FileNotFoundException(s"$idxPath/gen-0/part-0.parquet"))
      results ++= hits.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      queries.addData(QueryVec(1000L, Seq(1f, 2f, 3f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    assert(sinkCalls.get() == 2, s"expected one retry, saw ${sinkCalls.get()} calls")
    val want = graft.ops.Similarity.bruteForceTopK(corpus,
        Seq((1000L, Seq(1f, 2f, 3f, 1f))).toDF("vec_id", "embedding"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(results.toSet == want, s"retried batch must answer exactly: $results")
    // a non-stale sink failure still propagates (and fails the query)
    val queries2 = MemoryStream[QueryVec]
    val ckpt2 = Files.createTempDirectory("graft-sknn-stale-ckpt2").toString
    val q2 = trig.attachQueries(queries2.toDF, k = 3, nProbe = 4, ckpt2) { _ =>
      throw new IllegalStateException("sink business error")
    }
    try {
      queries2.addData(QueryVec(1001L, Seq(1f, 0f, 0f, 0f)))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(err).exists(m => m != null && m.contains("sink business error")),
        "non-stale failures must propagate, not be retried into silence")
    } finally q2.stop()
  }

  test("attachQueriesKeyed: the sink gets a STABLE foreachBatch epoch id across the stale-generation re-pin, and a scheme-qualified index root still recognizes unqualified stale-read messages") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents: Array[Seq[Float]] = Array(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val dir = Files.createTempDirectory("graft-sknn-keyed").toString
    // QUALIFIED root: pre-r13 isStaleGenerationRead matched the raw
    // root string against the message, so a file:/-constructed trigger
    // never recognized Spark's unqualified FAILED_READ_FILE path and
    // the streaming query died on a genuine stale-generation transient
    val idxPath = "file:" + dir + "/idx"
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, idxPath)
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq(((i * 7) % 11).toFloat, ((i * 5) % 7).toFloat,
        ((i * 3) % 5).toFloat, (i % 3).toFloat))
    }.toDF("vec_id", "embedding")
    trig.fire("V/1Sec/EMB", corpus)
    val queries = MemoryStream[QueryVec]
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    val ckpt = Files.createTempDirectory("graft-sknn-keyed-ckpt").toString
    val q = trig.attachQueriesKeyed(queries.toDF, k = 3, nProbe = cents.length,
        ckpt) { (hits, batchId) =>
      batchIds += batchId
      if (batchIds.size == 1)
        // the simulated retired-generation read names the UNQUALIFIED
        // path, as Spark's data-source message does
        throw new org.apache.spark.SparkException(
          "[FAILED_READ_FILE.FILE_NOT_EXIST] simulated retired-generation read",
          new java.io.FileNotFoundException(s"$dir/idx/gen-0/part-0.parquet"))
      results ++= hits.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      queries.addData(QueryVec(1000L, Seq(1f, 2f, 3f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    // the retry re-invoked the sink with the SAME epoch id — the
    // idempotence key foreachBatch's contract expects sinks to dedupe on
    assert(batchIds.size == 2 && batchIds.distinct.size == 1,
      s"expected one retry under a stable batch id, saw: $batchIds")
    val want = graft.ops.Similarity.bruteForceTopK(corpus,
        Seq((1000L, Seq(1f, 2f, 3f, 1f))).toDF("vec_id", "embedding"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(results.toSet == want, s"retried batch must answer exactly: $results")
  }

  test("isStaleGenerationRead: qualified and unqualified roots recognize each other's messages; authority and segment boundaries keep foreign paths foreign") {
    import graft.streaming.IvfIndexTrigger.isStaleGenerationRead
    def fnfe(msg: String) = new java.io.FileNotFoundException(msg)
    // scheme-qualification mismatches in BOTH directions
    assert(isStaleGenerationRead(fnfe("/data/idx/gen-0/part-0"), "file:/data/idx"))
    assert(isStaleGenerationRead(fnfe("file:/data/idx/gen-0/part-0"), "/data/idx"))
    assert(isStaleGenerationRead(
      fnfe("s3a://bucket/idx/gen-1/part-3"), "s3a://bucket/idx"))
    // a foreign BUCKET sharing the root's path must not match (the
    // authority is part of the identity) ...
    assert(!isStaleGenerationRead(
      fnfe("s3a://other/idx/gen-0/part-0"), "s3a://bucket/idx"))
    // ... and neither may a lexically-overlapping sibling path (bare
    // contains() would accept "other-bucket/idx-out" for "bucket/idx")
    assert(!isStaleGenerationRead(
      fnfe("s3a://other-bucket/idx-out/part-0"), "s3a://bucket/idx"))
    assert(!isStaleGenerationRead(fnfe("/big/data/idx/part-0"), "/data/idx"))
    // one-sided authorities: a BARE root must match the message the
    // default filesystem qualifies (the authority's last char is a
    // name char — bare boundary logic alone would reject it) ...
    assert(isStaleGenerationRead(
      fnfe("hdfs://nn:8020/data/idx/gen-3/part-0"), "/data/idx"))
    // ... and a QUALIFIED root must match a NameNode-style message
    // that dropped the authority
    assert(isStaleGenerationRead(
      fnfe("File does not exist: /data/idx/gen-3/part-0"),
      "hdfs://nn:8020/data/idx"))
    // legal-but-non-delimiter key characters are still segment
    // content: "idx%20archive" is a sibling, not our root
    assert(!isStaleGenerationRead(
      fnfe("s3a://bucket/idx%20archive/part-0"), "s3a://bucket/idx"))
    // Spark's AnalysisException PATH_NOT_FOUND shape (the eager
    // listing at read-plan time) is the same retired-generation
    // transient as FILE_NOT_EXIST
    assert(isStaleGenerationRead(
      new RuntimeException(
        "[PATH_NOT_FOUND] Path does not exist: /data/idx/gen-2"),
      "/data/idx"))
    // only the missing-file shape is retryable
    assert(!isStaleGenerationRead(
      new IllegalStateException("/data/idx/gen-0"), "/data/idx"))
  }
}
