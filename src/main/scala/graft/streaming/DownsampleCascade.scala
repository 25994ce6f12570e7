package graft.streaming

import graft.catalog.BucketCatalog
import graft.core.CandleDuration
import graft.functions.Uda
import graft.operators.{MarketCalendar, TimeQual}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming downsample cascade — the reference's defining trigger
  * behavior (contrib/ondiskagg/aggtrigger/aggtrigger.go): every write
  * to the base bucket (e.g. 1Min bars) re-derives the 5Min/15Min/1H/1D
  * candles whose windows the write touched, and overwrites them in
  * place.
  *
  * Spark-native shape: Structured Streaming `foreachBatch`. Per
  * micro-batch —
  *   1. upsert the batch into the base bucket (slot-overwrite
  *      semantics via the catalog's keyed merge);
  *   2. for each destination timeframe, recompute candles over
  *      [Truncate(batch head), Ceil(batch tail)) PER SYMBOL from the
  *      base bucket (aggtrigger.go writeAggregates:212-293) and upsert
  *      them into the destination partitions.
  *
  * This is late-data-safe the same way the reference is: an
  * out-of-order write re-fires the trigger for the window it lands in
  * and the destination candle is recomputed from ALL base rows of that
  * window — late data is never dropped, there is no watermark discard
  * (aggtrigger recompute semantics, SURVEY §2.7).
  *
  * Scale: the recompute READ is bounded by LITERAL predicates, not by
  * the join — the per-symbol (head, tail) spans are collected first
  * (one tiny agg, ≤ batch symbols rows), and the base scan
  * carries the symbols' sbucket partitions, a `year` range, the
  * literal `Epoch` bounds of their global [min(head), max(tail)]
  * window and the symbols' RANGE [min, max], so partition pruning and
  * parquet row-group stats fire (the reference bounds this same read,
  * aggtrigger.go:130-136). Exact membership comes from the broadcast
  * spans join, which also refines each symbol to its own window: a
  * pushed `symbol IN` over a batch's thousands of symbols cost the
  * parquet reader several times the scan it pruned. Per-batch read
  * cost is proportional to the touched span, independent of
  * base-table size, and one grouped aggregation over that one scan
  * builds every destination.
  */
class DownsampleCascade(
    catalog: BucketCatalog,
    attGroup: String,
    baseTf: String,
    destinations: Seq[String],
    sums: Seq[String] = Seq("Volume"),
    marketFilter: Option[MarketCalendar] = None) {

  /** Process one batch of base-TF rows (symbol, Epoch, OHLCV...). */
  def ingest(batch: DataFrame): Unit = {
    // ONE probe job decides emptiness AND yields the per-symbol spans
    // the cascade needs (the old shape paid a separate isEmpty job per
    // batch before the span collect — guide §1.2: don't compute things
    // twice). Empty batch ⟺ empty span set, so the early-return
    // semantics are unchanged.
    val spans = collectSpans(batch.select(col("symbol"), col(Uda.EpochCol)))
    if (spans.isEmpty) return
    catalog.writeMulti(attGroup, baseTf, batch)
    cascade(spans, batch.sparkSession)
  }

  /** The bounded base-bucket slice feeding one recompute: per-symbol
    * (symbol, head, tail) spans → the base rows of every window those
    * spans touch, for EVERY destination: the slice runs from the
    * earliest window start to the latest window end over all of them
    * (the reference queries the destinations' UpperBound for the same
    * reason, aggtrigger.go:130-136). No single destination bounds the
    * others in general — a week that began in February is not inside
    * the month of the Saturday that closes it. The cascade reads it
    * once, unpersisted:
    * a single grouped aggregation tags and candles every destination
    * from it. Exposed for plan tests: the scan must carry LITERAL
    * pushed Epoch bounds, a pushed symbol range and sbucket/year
    * partition pruning.
    */
  private[graft] def recomputeSlice(
      spark: org.apache.spark.sql.SparkSession,
      spans: Seq[(String, Long, Long)]): DataFrame = {
    val dests = destinations.map(CandleDuration.parse)
    val lo = dests.map(_.truncateEpoch(spans.map(_._2).min)).min
    val hi = dests.map(_.ceilEpoch(spans.map(_._3).max)).max
    val loYear = java.time.Instant.ofEpochSecond(lo)
      .atZone(java.time.ZoneOffset.UTC).getYear
    val hiYear = java.time.Instant.ofEpochSecond(hi)
      .atZone(java.time.ZoneOffset.UTC).getYear
    // sbuckets and the literal year range prune partitions; the literal
    // Epoch bounds and the symbol range reach parquet row-group stats
    // (PlanSpec-pinned); the spans join below owns membership
    val base = catalog.readSymbolRange(attGroup, baseTf, spans.map(_._1))
      .filter(col("year").between(loYear, hiYear))
      .drop("timeframe", "year")
      .filter(col(Uda.EpochCol) >= lit(lo) && col(Uda.EpochCol) < lit(hi))
    import spark.implicits._
    val spansDf = spans.toDF("symbol", "__head", "__tail")
    val from = dests.map(_.truncate(col("__head"))).reduce(least(_, _))
    val until = dests.map(_.ceil(col("__tail"))).reduce(greatest(_, _))
    base.join(broadcast(spansDf), Seq("symbol"))
      .filter(col(Uda.EpochCol) >= from && col(Uda.EpochCol) < until)
  }

  /** One tiny driver collect — ≤ batch-symbols rows — so the base read
    * in recomputeSlice can carry LITERAL (pushable) predicates instead
    * of join-dependent ones.
    */
  private def collectSpans(touched: DataFrame): Seq[(String, Long, Long)] =
    touched.groupBy("symbol")
      .agg(min(col(Uda.EpochCol)).as("__head"), max(col(Uda.EpochCol)).as("__tail"))
      .collect()
      .toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** Recompute destination candles for the windows covering `touched`
    * (symbol, Epoch) rows.
    */
  def cascade(touched: DataFrame): Unit =
    cascade(collectSpans(touched), touched.sparkSession)

  /** Every destination's candles from ONE grouped aggregation over one
    * scan of the slice: each base row is tagged once with the
    * (timeframe, window start) of every destination whose affected
    * window holds it — [truncate(head), ceil(tail)) of its symbol,
    * market hours only for >= 1D destinations, like the reference's
    * nasdaq filter (aggtrigger.go:237-246) — and a single
    * groupBy(symbol, timeframe, window) builds the candles: open at the
    * earliest (Epoch, Nanoseconds), close at the latest, high/low
    * extrema, summed `sums` (the Candler shape, per destination).
    */
  private def cascade(spans: Seq[(String, Long, Long)],
                      session: org.apache.spark.sql.SparkSession): Unit = {
    if (spans.isEmpty) return
    val slice = recomputeSlice(session, spans)
    val epoch = col(Uda.EpochCol)
    val tags = destinations.map { d =>
      val dest = CandleDuration.parse(d)
      val affected = epoch >= dest.truncate(col("__head")) && epoch < dest.ceil(col("__tail"))
      val kept = marketFilter match {
        case Some(cal) if dest.approxSeconds >= 86400L =>
          affected && TimeQual.isMarketOpen(epoch, cal)
        case _ => affected
      }
      when(kept, struct(lit(d).as("timeframe"), dest.truncate(epoch).as("w")))
    }
    val tkey = Uda.timeKey(slice)
    val candles = slice.withColumn("__d", explode(array(tags: _*)))
      .filter(col("__d").isNotNull)
      .groupBy(col("symbol"), col("__d.timeframe").as("timeframe"), col("__d.w").as(Uda.EpochCol))
      .agg(min_by(col("Open"), tkey).as("Open"),
        (Seq(max(col("High")).as("High"), min(col("Low")).as("Low"),
          max_by(col("Close"), tkey).as("Close")) ++
          sums.map(c => sum(col(c)).as(c))): _*)
    // every destination's candles land in ONE multi-timeframe commit:
    // per-batch commit overhead stops scaling with |destinations|, and
    // readers see all cascade levels move atomically (5Min never
    // updates while 1H is still stale)
    catalog.writeMultiTf(attGroup, candles)
  }

  /** Attach to a streaming source of base-TF rows: each micro-batch is
    * ingested + cascaded (the trigger contract,
    * plugins/trigger/trigger.go:37-43, as foreachBatch).
    */
  def attach(stream: DataFrame, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) => ingest(batch))
      .start()
}
