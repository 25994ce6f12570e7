package perfbench

import java.util.SplittableRandom

/** One `DataService.Query` request and its expected decoded result
  * (TBK key → rows).
  */
final case class Req(kind: String, body: Map[String, Any], expect: Map[String, Seq[Map[String, Any]]])

/** The read mix served by `read_serve` over a catalog of `gen.nSymbols`
  * symbols × `days` sessions of 1-minute bars.
  */
final class ReadMix(val gen: Gen, val days: Int) {
  import ReadMix._

  val histMinutes: Long = days.toLong * Gen.MinutesPerDay
  val zipf = new gen.Zipf(gen.nSymbols, ZipfExponent)

  def hist(sym: Int, from: Long, until: Long): Seq[Bar] = (from until until).map(gen.bar(sym, _))

  private def row(b: Bar): Map[String, Any] = Map(
    "Epoch" -> b.epoch, "Open" -> b.open, "High" -> b.high, "Low" -> b.low,
    "Close" -> b.close, "Volume" -> b.volume)

  /** A window of `len` minutes inside one session; the latest session is
    * picked with probability [[LatestDayShare]], otherwise any session.
    */
  private def window(r: SplittableRandom, len: Int): (Long, Long) = {
    val day = if (r.nextDouble() < LatestDayShare) days - 1 else r.nextInt(days)
    val start = day.toLong * Gen.MinutesPerDay + r.nextInt(Gen.MinutesPerDay - len + 1)
    (start, start + len)
  }

  def next(r: SplittableRandom): Req = {
    val u = r.nextInt(100)
    val si = zipf.sample(r)
    val sym = gen.symbols(si)
    val tbk = s"$sym/1Min/$Group"
    if (u < 40) {
      val body = Map("destination" -> tbk, "limit_record_count" -> LastN.toLong)
      Req("last_n", body, Map(tbk -> hist(si, histMinutes - LastN, histMinutes).map(row)))
    } else if (u < 60) {
      val (a, b) = window(r, RangeMinutes)
      val body = Map("destination" -> tbk, "epoch_start" -> Gen.epochOf(a),
        "epoch_end" -> Gen.epochOf(b - 1), "columns" -> Seq("Close", "Volume"))
      val rows = hist(si, a, b).map(x => Map("Epoch" -> x.epoch, "Close" -> x.close, "Volume" -> x.volume))
      Req("range_projection", body, Map(tbk -> rows))
    } else if (u < 75) {
      val syms = Iterator.continually(zipf.sample(r)).distinct.take(10).toSeq.sorted
      val (a, b) = window(r, MultiSymbolMinutes)
      val dest = syms.map(gen.symbols).mkString(",") + s"/1Min/$Group"
      val body = Map("destination" -> dest, "epoch_start" -> Gen.epochOf(a), "epoch_end" -> Gen.epochOf(b - 1))
      val exp = syms.map(i => s"${gen.symbols(i)}/1Min/$Group" -> hist(i, a, b).map(row)).toMap
      Req("multi_symbol", body, exp)
    } else if (u < 90) {
      val (a, b) = window(r, Gen.MinutesPerDay)
      val body = Map("destination" -> tbk, "epoch_start" -> Gen.epochOf(a), "epoch_end" -> Gen.epochOf(b - 1),
        "functions" -> Seq("candlecandler('1H', Open, High, Low, Close, Sum::Volume)"))
      val rows = Gen.candles(hist(si, a, b), 3600L).map(c => Map(
        "Epoch" -> c.epoch, "Open" -> c.open, "High" -> c.high, "Low" -> c.low,
        "Close" -> c.close, "Volume_SUM" -> c.volume))
      Req("candle_1h", body, Map(tbk -> rows))
    } else {
      val (a, b) = window(r, SqlMinutes)
      val stmt = s"SELECT Epoch, Close FROM `$tbk` WHERE Epoch BETWEEN ${Gen.epochOf(a)} AND ${Gen.epochOf(b - 1)}"
      val body = Map("is_sqlstatement" -> true, "sql_statement" -> stmt)
      val rows = hist(si, a, b).map(x => Map("Epoch" -> x.epoch, "Close" -> x.close))
      Req("sql_between", body, Map(s"$stmt:SQL" -> rows))
    }
  }
}

object ReadMix {
  val Group = "OHLCV"
  val LastN = 100
  // Assumed, not measured from any client trace: the symbol skew, the
  // window lengths of the range, multi-symbol and SQL requests, and the
  // share of windows on the latest session. A trace would replace them.
  val ZipfExponent = 1.1
  val RangeMinutes = 60
  val MultiSymbolMinutes = 30
  val SqlMinutes = 60
  val LatestDayShare = 0.5
  val Kinds: Seq[String] = Seq("last_n", "range_projection", "multi_symbol", "candle_1h", "sql_between")
}
