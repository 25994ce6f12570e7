package perfbench

import graft.catalog.BucketCatalog
import graft.streaming.DownsampleCascade
import graft.wire.RpcServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** One timed operation as the client saw it; `fs` is the change of the
  * filesystem counters over the operation.
  */
final case class Op(kind: String, start: Long, end: Long, ok: Boolean,
                    bytes: Long, fs: IndexedSeq[Long]) {
  def ms: Double = (end - start) / 1e6
}

object Workloads {
  val Names: Seq[String] = Seq("read_serve", "ingest_cascade")

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                       work: Path, nproc: Int, sessionS: Double)

  // Sizing. The catalog of the read workload is small enough to load three
  // times inside one run's set-up budget; ingest uses the 2,000-symbol batch
  // the sustained-ingest target is stated in (its cost is dominated by
  // per-job constants, not by the symbol count).
  val ReadSymbols = 100
  val ReadDays = 3
  val IngestSymbols = 2000
  val IngestDestinations: Seq[String] = Seq("5Min", "1H", "1D")
  val HistoryMinutes = 10
  val LateSymbols = 10
  val SetupRepeats = 3
  /** Closed-loop queries before timing: query latency keeps falling over
    * the first several hundred queries while the JIT compiles the planner
    * and code generator. Counted in queries, not seconds, so the timed
    * window starts at the same point of that slope on a slow host as on a
    * fast one.
    */
  val WarmupQueries = 240
  /** Untimed batches first: the first one carries the cold start (JIT,
    * first commit to each destination) and runs ~1.4× a later batch.
    */
  val WarmupBatches = 1
  /** Timed batches per run at least, so one slow batch cannot move the
    * median; a batch takes several seconds, so this can outlast --seconds.
    */
  val MinBatches = 3

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def fsDelta(a: IndexedSeq[Long], b: IndexedSeq[Long]): IndexedSeq[Long] =
    a.indices.map(i => b(i) - a(i))

  // ------------------------------------------------------------ catalog load

  private def barsDf(spark: SparkSession, seed: Long, nSym: Int, minutes: Seq[Long], parts: Int): DataFrame = {
    import spark.implicits._
    val ms = minutes.toArray
    spark.range(0L, nSym.toLong * ms.length, 1L, parts).mapPartitions { it =>
      val g = new Gen(seed, nSym)
      it.map { i =>
        val s = (i / ms.length).toInt
        val b = g.bar(s, ms((i % ms.length).toInt))
        (g.symbols(s), b.epoch, b.open, b.high, b.low, b.close, b.volume)
      }
    }.toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume")
  }

  /** Bulk-loads [[ReadDays]] sessions of 1-minute bars in one commit. */
  private def loadCatalog(ctx: Ctx, gen: Gen, root: String): BucketCatalog = {
    val cat = new TracingCatalog(ctx.spark, root)
    val mins = 0L until ReadDays.toLong * Gen.MinutesPerDay
    cat.writeMulti(ReadMix.Group, "1Min", barsDf(ctx.spark, gen.seed, gen.nSymbols, mins, ctx.nproc))
    cat
  }

  /** Runs `setup` [[SetupRepeats]] times in fresh directories and keeps the
    * last; set-up time is session start plus the median repetition.
    */
  private def setUp[T](ctx: Ctx, name: String)(setup: String => T): (T, String, Double, Seq[Double]) = {
    val runs = (0 until SetupRepeats).map { r =>
      val root = ctx.work.resolve(s"$name-$r").toString
      val (v, s) = timed(setup(root))
      if (r < SetupRepeats - 1) Main.deleteTree(java.nio.file.Paths.get(root))
      (v, root, s)
    }
    val times = runs.map(_._3)
    (runs.last._1, runs.last._2, ctx.sessionS + Stats.median(times), times)
  }

  // ------------------------------------------------------------ wire client

  private val rpcIds = new java.util.concurrent.atomic.AtomicLong

  private def firstResult(res: Map[Any, Any]): Map[Any, Any] =
    res("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]

  private val reported = new AtomicInteger

  private def reportFailure(what: String): Unit =
    if (reported.incrementAndGet() <= 5) log(s"operation failed: $what")

  /** `n` closed-loop query clients until `untilNs`, or until `limit`
    * queries have been sent. Every response must equal the generator's
    * answer.
    */
  private def queryClients(port: Int, mix: ReadMix, n: Int, untilNs: Long, seed: Long,
                           limit: Int = Int.MaxValue): Seq[Op] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val sent = new AtomicInteger
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val r = new SplittableRandom(Gen.mix(seed * 1000003L + c))
        while (System.nanoTime() < untilNs && sent.getAndIncrement() < limit) {
          val q = mix.next(r)
          val fs0 = FsCounts.snapshot()
          val s = System.nanoTime()
          val (ok, bytes, e, fs1) =
            try {
              val (res, len) = Wire.call(port, "DataService.Query", Map("requests" -> Seq(q.body)),
                rpcIds.incrementAndGet())
              val e = System.nanoTime()
              val fs1 = FsCounts.snapshot()
              val ds = Wire.decodeDataset(firstResult(res)("result").asInstanceOf[Map[Any, Any]])
              val ok = ds.groups == q.expect
              if (!ok) reportFailure(s"${q.kind} ${q.body} returned ${ds.groups.map { case (k, v) => k -> v.size }}" +
                s", expected ${q.expect.map { case (k, v) => k -> v.size }}")
              (ok, len.toLong, e, fs1)
            } catch {
              case NonFatal(ex) =>
                reportFailure(s"${q.kind} ${q.body}: $ex")
                (false, 0L, System.nanoTime(), FsCounts.snapshot())
            }
          out.add(Op(q.kind, s, e, ok, bytes, fsDelta(fs0, fs1)))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    scala.jdk.CollectionConverters.IterableHasAsScala(out).asScala.toSeq.sortBy(_.start)
  }

  // ------------------------------------------------------------ read_serve

  private def scrape(port: Int): Map[String, Double] =
    Wire.get(port, "/metrics").split("\n").iterator.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val i = l.lastIndexOf(' ')
      l.substring(0, i) -> l.substring(i + 1).toDouble
    }.toMap

  private def serverMs(a: Map[String, Double], b: Map[String, Double], method: String): (Double, Double) = {
    val k = s"""alpaca_marketstore_rpc_successful_request_duration_seconds_%s{method="$method"}"""
    def d(x: String) = b.getOrElse(k.format(x), 0.0) - a.getOrElse(k.format(x), 0.0)
    (if (d("count") > 0) d("sum") / d("count") * 1000 else 0.0, d("count"))
  }

  def readServe(ctx: Ctx): Result = {
    val gen = new Gen(ctx.seed, ReadSymbols)
    val (cat, _, setupS, setupRuns) = setUp(ctx, "catalog")(root => loadCatalog(ctx, gen, root))
    log(f"read_serve set-up: session ${ctx.sessionS}%.2f s, loads ${setupRuns.map(x => f"$x%.2f").mkString(" ")} s")
    val server = new RpcServer(ctx.spark, cat, port = 0)
    server.start()
    try {
      val port = server.boundPort
      val mix = new ReadMix(gen, ReadDays)

      // warm-up: closed-loop load from the timed phase's clients, with
      // every request type in it, before anything is timed
      val warmStart = System.nanoTime()
      val nClients = math.max(1, ctx.nproc - 1)
      val warm = queryClients(port, mix, nClients, Long.MaxValue, ctx.seed + 1, limit = WarmupQueries)
      val warmS = (System.nanoTime() - warmStart) / 1e9
      log(f"read_serve warm-up: ${warm.size} queries in $warmS%.2f s")

      // one timed phase of closed-loop query clients
      def phase(clients: Int, seconds: Double, salt: Long): (Seq[Op], Double, Map[String, Double], Map[String, Double]) = {
        val m0 = scrape(port)
        val t0 = System.nanoTime()
        val qs = queryClients(port, mix, clients, t0 + (seconds * 1e9).toLong, ctx.seed * 31 + salt)
        val wall = (qs.map(_.end).maxOption.getOrElse(System.nanoTime()) - t0) / 1e9
        (qs, wall, m0, scrape(port))
      }

      val checks = Seq("every request type ran in the warm-up" ->
        ReadMix.Kinds.forall(k => warm.exists(_.kind == k)))
      val detail = scala.collection.mutable.LinkedHashMap[String, Any](
        "setup_runs_s" -> setupRuns, "session_s" -> ctx.sessionS,
        "warmup_queries" -> warm.size, "warmup_s" -> warmS,
        "catalog" -> Map("symbols" -> ReadSymbols, "days" -> ReadDays, "bars" -> ReadSymbols * ReadDays * Gen.MinutesPerDay))
      var layerMetrics = Seq.empty[(String, Double, String)]
      // end-to-end numbers come from the untraced phase
      val (qs, e2eQueries, e2eWall) =
        if (!ctx.trace) {
          val (qs, wall, m0, m1) = phase(nClients, ctx.seconds, 7)
          detail ++= phaseDetail("timed", qs, wall, m0, m1, nClients)
          (qs, qs, wall)
        } else {
          // one query client, so every span is attributable by time: first
          // untraced, then traced, half the run each
          val (uq, uwall, um0, um1) = phase(1, ctx.seconds / 2.0, 11)
          Trace.enabled = true
          val (tq, twall, tm0, tm1) = phase(1, ctx.seconds / 2.0, 13)
          org.apache.spark.BenchListenerBus.drain(ctx.spark.sparkContext)
          Trace.enabled = false
          detail ++= phaseDetail("untraced_1client", uq, uwall, um0, um1, 1)
          detail ++= phaseDetail("traced_1client", tq, twall, tm0, tm1, 1)
          val overhead = (Stats.median(tq.map(_.ms)) / Stats.median(uq.map(_.ms)) - 1) * 100
          layerMetrics = Layers.serve(tq, Trace.spans, serverMs(tm0, tm1, "DataService.Query")._1) :+
            (("trace.overhead_pct", overhead, "%"))
          detail += "trace_overhead_pct" -> overhead
          (uq ++ tq, uq, uwall)
        }

      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.median(e2eQueries.map(_.ms)), "ms"),
        ("op_rate_per_s", e2eQueries.size / e2eWall, "1/s"))
      Result(attempted = qs.size + warm.size, failed = (qs ++ warm).count(!_.ok),
        checks = checks, e2e = e2e, layers = layerMetrics, detail = detail.toMap)
    } finally server.stop()
  }

  private def phaseDetail(tag: String, qs: Seq[Op], wall: Double,
                          m0: Map[String, Double], m1: Map[String, Double], clients: Int): Map[String, Any] = {
    val lat = qs.map(_.ms)
    val tail = Stats.supportedTail(lat)
    val (srvMs, srvN) = serverMs(m0, m1, "DataService.Query")
    Map(tag -> Map(
      "wall_s" -> wall,
      "query_ms" -> lat,
      "clients" -> clients,
      "query_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
      "query_tail" -> tail.map { case (p, v) => Map("percentile" -> p, "ms" -> v) }.orNull,
      "query_samples" -> lat.size,
      "query_rps" -> qs.size / wall,
      "query_p50_ms_by_kind" -> qs.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "wire_server_ms" -> srvMs, "wire_server_samples" -> srvN,
      "failed" -> qs.count(!_.ok)))
  }

  // --------------------------------------------------------- ingest_cascade

  def ingestCascade(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen(ctx.seed, IngestSymbols)
    val group = "BARS"
    // set-up loads the feed's first minutes into the base bucket
    val history = (0 until HistoryMinutes).map(_.toLong)
    val (cat, root, setupS, setupRuns) = setUp(ctx, "ingest") { root =>
      val c = new TracingCatalog(spark, root)
      c.writeMulti(group, "1Min", barsDf(spark, gen.seed, IngestSymbols, history, ctx.nproc))
      c
    }
    log(f"ingest_cascade set-up: session ${ctx.sessionS}%.2f s, loads ${setupRuns.map(x => f"$x%.2f").mkString(" ")} s")
    val cascade = new DownsampleCascade(cat, group, "1Min", IngestDestinations)

    // the generator's view of the base bucket: (symbol index, minute) → revision
    val base = scala.collection.mutable.Map[(Int, Long), Int]()
    for (s <- 0 until IngestSymbols; m <- history) base((s, m)) = 0
    // destination windows each cascade recomputed, per symbol
    val touched = IngestDestinations.map(_ -> scala.collection.mutable.Set[(Int, Long)]()).toMap
    val widths = IngestDestinations.map(d => d -> graft.core.CandleDuration.parse(d).approxSeconds).toMap

    // batch b carries minute HistoryMinutes + b of every symbol, and
    // revises the bar six minutes back, inside a 5Min window that has
    // already closed, of LateSymbols symbols of one physical bucket: each
    // commit appends to every other partition and merges that one. Every
    // batch has the same shape.
    val late = (0 until IngestSymbols).filter(s => BucketCatalog.symbolBucket(gen.symbols(s),
      BucketCatalog.DefaultSymbolBuckets) == BucketCatalog.symbolBucket(gen.symbols(0),
      BucketCatalog.DefaultSymbolBuckets)).take(LateSymbols)
    def batch(b: Int): Seq[(Int, Long, Int)] = {
      val m = HistoryMinutes.toLong + b
      (0 until IngestSymbols).map(s => (s, m, 0)) ++ late.map(s => (s, m - 6, 1))
    }
    def ingest(b: Int): (Int, Double) = {
      val rows = batch(b)
      val df = rows.map { case (s, m, rev) =>
        val x = gen.bar(s, m, rev)
        (gen.symbols(s), x.epoch, x.open, x.high, x.low, x.close, x.volume)
      }.toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume")
      val (_, sec) = timed(cascade.ingest(df))
      rows.foreach { case (s, m, rev) => base((s, m)) = rev }
      rows.groupBy(_._1).foreach { case (s, rs) =>
        val lo = Gen.epochOf(rs.map(_._2).min); val hi = Gen.epochOf(rs.map(_._2).max)
        widths.foreach { case (d, w) =>
          (lo - Math.floorMod(lo, w) to hi by w).foreach(win => touched(d) += ((s, win)))
        }
      }
      (rows.size, sec)
    }

    val warm = (0 until WarmupBatches).map(ingest(_)._2)
    log(f"ingest_cascade warm-up batches ${warm.map(x => f"$x%.2f").mkString(" ")} s")
    var nextBatch = WarmupBatches
    def phase(seconds: Double, minBatches: Int): (Seq[Op], Double) = {
      val t0 = System.nanoTime()
      val until = t0 + (seconds * 1e9).toLong
      val ops = scala.collection.mutable.ArrayBuffer[Op]()
      var bars = 0L
      while (ops.size < minBatches || System.nanoTime() < until) {
        val fs0 = FsCounts.snapshot()
        val s = System.nanoTime()
        val ok = try { bars += ingest(nextBatch)._1; true }
        catch { case NonFatal(ex) => reportFailure(s"batch $nextBatch: $ex"); false }
        ops += Op("batch", s, System.nanoTime(), ok, 0L,
          fsDelta(fs0, FsCounts.snapshot()))
        nextBatch += 1
      }
      (ops.toSeq, bars.toDouble)
    }

    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_runs_s" -> setupRuns, "session_s" -> ctx.sessionS,
      "symbols" -> IngestSymbols, "destinations" -> IngestDestinations)
    val bytes0 = FsCounts.snapshot().last
    var layerMetrics = Seq.empty[(String, Double, String)]
    val (ops, bars) =
      if (!ctx.trace) phase(ctx.seconds, MinBatches)
      else {
        val (u, ub) = phase(ctx.seconds / 2.0, 2)
        Trace.enabled = true
        val (t, tb) = phase(ctx.seconds / 2.0, 2)
        org.apache.spark.BenchListenerBus.drain(spark.sparkContext)
        Trace.enabled = false
        val overhead = (Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1) * 100
        detail += "trace_overhead_pct" -> overhead
        detail += "untraced_batch_ms" -> u.map(_.ms)
        layerMetrics = Layers.ingest(t, Trace.spans, tb) :+ (("trace.overhead_pct", overhead, "%"))
        (u ++ t, ub + tb)
      }
    // summed batch times, so the read-back below is not counted
    val wall = ops.map(_.ms).sum / 1000
    val bytesWritten = FsCounts.snapshot().last - bytes0

    // read back the base bucket and every destination, against the
    // generator's aggregation of the same bars
    val checks = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    def readTf(tf: String): Set[(String, Bar)] =
      cat.readMulti(group, tf).select("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume").collect()
        .map(r => (r.getString(0), Bar(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
        .toSet
    val finalBars: Map[Int, Seq[Bar]] = base.toSeq.groupBy(_._1._1).map { case (s, kv) =>
      s -> kv.map { case ((_, m), rev) => gen.bar(s, m, rev) }.sortBy(_.epoch)
    }
    val wantBase = finalBars.toSeq.flatMap { case (s, bs) => bs.map(gen.symbols(s) -> _) }.toSet
    val gotBase = readTf("1Min")
    checks += ("base bucket equals the bars written" -> (gotBase == wantBase))
    IngestDestinations.foreach { d =>
      val w = widths(d)
      val want = finalBars.toSeq.flatMap { case (s, bs) =>
        Gen.candles(bs, w).filter(c => touched(d).contains((s, c.epoch))).map(gen.symbols(s) -> _)
      }.toSet
      val got = readTf(d)
      if (got != want) log(s"$d mismatch: ${(want -- got).size} missing or different, ${(got -- want).size} unexpected")
      checks += (s"$d candles equal the generator's aggregation" -> (got == want))
    }
    val barsWritten = IngestSymbols * HistoryMinutes + (0 until nextBatch).map(batch(_).size).sum
    val diskBytes = Main.dirBytes(java.nio.file.Paths.get(root))
    val batchMs = ops.filter(_.ok).map(_.ms)
    detail ++= Map(
      "warmup_batch_s" -> warm, "batches" -> ops.size, "batch_ms" -> ops.map(_.ms),
      "batch_p50_s" -> Stats.median(batchMs) / 1000, "bars_per_s" -> bars / wall,
      "timed_bars" -> bars, "bars_written" -> barsWritten,
      "disk_bytes_per_bar" -> diskBytes.toDouble / barsWritten,
      "fs_bytes_written_per_bar" -> bytesWritten.toDouble / bars)
    // the rate is over all timed batches, so a slow one (a merge or a
    // compaction) shows in it though not in the median
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(batchMs), "ms"),
      ("op_rate_per_s", bars / wall, "1/s"))
    Result(attempted = ops.size, failed = ops.count(!_.ok), checks = checks.toSeq, e2e = e2e,
      layers = layerMetrics, detail = detail.toMap)
  }
}
