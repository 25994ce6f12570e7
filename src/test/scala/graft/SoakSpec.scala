package graft

import graft.catalog.{BucketCatalog, Integrity, ReplicaSync}
import graft.core.TimeBucketKey
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Sustained-ingest soak: many successive commits against one bucketed
  * group WITH the maintenance machinery running concurrently — replica
  * tailing on its own thread, a reader re-pinning snapshots on
  * another, vacuum and bounded compaction firing naturally as the
  * history grows, and periodic late data exercising the merge path
  * between appends. The benchmark's ingest_cascade workload measures
  * per-commit cost; this proves the pieces don't corrupt each other
  * when they overlap, which is the operating mode of a real
  * deployment.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  test("ingest soak: appends + late merges with concurrent replica sync and pinned readers; integrity, bounded files, replica convergence") {
    val primary = Files.createTempDirectory("graft-soak-p").toString
    val replica = Files.createTempDirectory("graft-soak-r").toString
    val nSym = 400
    val commits = 100
    val base = 1609459200L
    val cat = new BucketCatalog(spark, primary)

    val done = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    // replica sync loop — republishes the group whenever its replica
    // manifest differs from the primary's; mid-copy vacuum races are
    // converged by the next pass
    val syncer = new ReplicaSync(spark, primary, replica)
    val syncThread = new Thread(() => {
      while (!done.get()) {
        try syncer.sync()
        catch { case t: Throwable => errors.add(t) }
        Thread.sleep(200)
      }
    }, "soak-replica")

    // reader loop — re-pins a fresh snapshot each pass (the documented
    // reader contract: pin, read promptly; grace-window vacuum keeps
    // the pinned files alive) and checks monotone visibility: this
    // workload never deletes rows, so a later snapshot can never show
    // fewer than an earlier one
    val readerCat = new BucketCatalog(spark, primary)
    val lastSeen = new AtomicLong(0L)
    val readerTbk = TimeBucketKey.parse("S7/1Min/BARS")
    val readThread = new Thread(() => {
      while (!done.get()) {
        try {
          val n = readerCat.read(readerTbk).count()
          val prev = lastSeen.getAndSet(n)
          if (n < prev)
            errors.add(new IllegalStateException(
              s"snapshot went backwards: $prev -> $n rows"))
        } catch { case t: Throwable => errors.add(t) }
        Thread.sleep(150)
      }
    }, "soak-reader")

    syncThread.start()
    // let the first commits land before the reader pins anything
    val expected = scala.collection.mutable.Map[(String, Long), Double]()
    (1 to commits).foreach { c =>
      val fresh = (1 to nSym).map(i => (s"S$i", base + c * 60L, i * 1.0 + c))
      // every 10th commit also REWRITES a 5-commits-old minute with new
      // values — the late-data merge path (and, over time, compaction)
      // interleaved with the append fast path
      val late =
        if (c % 10 == 0 && c > 5)
          (1 to nSym).map(i => (s"S$i", base + (c - 5) * 60L, -1.0 * c - i))
        else Seq.empty
      val batch = (fresh ++ late).toDF("symbol", "Epoch", "V")
      cat.writeMulti("BARS", "1Min", batch)
      (fresh ++ late).foreach { case (s, e, v) => expected((s, e)) = v }
      if (c == 3) readThread.start()
    }
    done.set(true)
    syncThread.join(30000)
    readThread.join(30000)
    Option(errors.peek()).foreach(_.printStackTrace())
    assert(errors.isEmpty,
      s"concurrent maintenance errored: ${errors.size()} first=${errors.peek()}")
    assert(lastSeen.get() > 0, "reader never observed data")

    // integrity: every (symbol, timeframe, year) partition clean
    val report = Integrity.check(spark, primary).collect()
    assert(report.nonEmpty && report.forall(_.getAs[Boolean]("ok")),
      s"integrity violations: ${report.filterNot(_.getAs[Boolean]("ok")).take(3).mkString("; ")}")

    // bounded smallfiles: no partition above the compaction ceiling
    val perPart = cat.liveFiles("BARS").get
      .groupBy(f => f.substring(0, f.lastIndexOf('/'))).view.mapValues(_.size)
    assert(perPart.values.forall(_ <= BucketCatalog.CompactAtFiles),
      s"file count unbounded: ${perPart.maxBy(_._2)}")

    // primary content == the last-write-wins expectation
    val got = cat.readMulti("BARS", "1Min")
      .select("symbol", "Epoch", "V").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == expected.size, s"${got.size} vs ${expected.size} keys")
    assert(got == expected.toMap, "primary rows diverge from last-write-wins")

    // quiesced convergence: sync until no group is republished, then
    // the replica read equals the primary read exactly
    var applied = 1
    while (applied > 0) applied = syncer.sync()
    val rep = new BucketCatalog(spark, replica).readMulti("BARS", "1Min")
      .select("symbol", "Epoch", "V").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    if (rep != got) {
      val miss = (got.toSet -- rep.toSet).take(3)
      val extra = (rep.toSet -- got.toSet).take(3)
      fail(s"replica diverged: missing=$miss extra=$extra sizes ${rep.size}/${got.size}")
    }
  }

  test("co-resident soak: cascade + IVF trigger share one catalog for 100 commits; candles == batch recompute, index == full rebuild, per-commit cost flat") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-soak-co").toString
    val cat = new BucketCatalog(spark, root)
    val casc = new graft.streaming.DownsampleCascade(cat, "OHLC", "1Min", Seq("5Min"))
    def embBatch(c: Int, n: Int = 8) = (0 until n).map { i =>
      val id = (c * 100 + i).toLong
      (1704708000L + c * 60L + i, id,
        (0 until 8).map(d => ((id * 7 + d * 3) % 11).toFloat * (if (d % 2 == 0) 1f else -1f)))
    }.toDF("Epoch", "vec_id", "embedding")
    val cents = graft.ops.Similarity.sampledCentroids(
      embBatch(0).select("vec_id", "embedding"), 4)
    // compactEvery = 10 (r10): a long-lived serving deployment runs
    // generation compactions DURING ingest, so the soak does too —
    // the end-state equivalences below must hold across ~10 in-flight
    // compactions, and the file count stays bounded at the end
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, s"$root/_ann_idx",
      compactEvery = 10)
    val registry = new graft.streaming.TriggerRegistry
    registry.register("*/1Sec/EMB", trig)
    val pipe = new graft.streaming.IngestPipeline(cat, registry)
    val nSym = 10
    val base = 1609459200L
    val commits = 100
    val times = new Array[Double](commits)
    (1 to commits).foreach { c =>
      val t0 = System.nanoTime()
      val fresh = (1 to nSym).map(i => (s"S$i", base + c * 60L,
        (i + c).toDouble, (i + c + 1).toDouble, (i + c - 1).toDouble,
        (i + c).toDouble, 10.0))
      val late =
        if (c % 7 == 0 && c > 10)
          (1 to nSym).map(i => (s"S$i", base + (c - 9) * 60L,
            1000.0 + c, 1001.0 + c, 999.0 + c, 1000.0 + c, 5.0))
        else Seq.empty
      // both maintenance paths against ONE catalog, every commit: the
      // candle cascade on the bars group, the ANN index trigger on
      // the embeddings group (through the engine's write path)
      casc.ingest((fresh ++ late)
        .toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume"))
      pipe.ingest(TimeBucketKey.parse("V/1Sec/EMB"), embBatch(c))
      times(c - 1) = (System.nanoTime() - t0) / 1e9
    }
    // candles == one-shot batch recompute of the final base
    val baseDf = cat.readMulti("OHLC", "1Min").drop("timeframe", "year")
    val want = graft.functions.Candler.candle(
        baseDf, graft.core.CandleDuration.parse("5Min"),
        openOf = col("Open"), closeOf = col("Close"),
        highOf = col("High"), lowOf = col("Low"),
        sums = Seq("Volume"), avgs = Nil, groupCols = Seq("symbol"))
      .withColumnRenamed("Volume_SUM", "Volume")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(6)).toMap
    val got = cat.readMulti("OHLC", "5Min").drop("timeframe", "year")
      .select("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(6)).toMap
    assert(got == want, s"co-resident cascade diverged: sizes ${got.size}/${want.size}")
    // index == full rebuild over everything the engine ingested
    val all = cat.read(TimeBucketKey.parse("V/1Sec/EMB"))
      .select("vec_id", "embedding")
    val gotIdx = trig.index.orderBy("vec_id").collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"))).toSeq
    val wantIdx = graft.ops.Similarity.ivfIndex(all, cents).orderBy("vec_id").collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"))).toSeq
    assert(gotIdx == wantIdx,
      s"index diverged from rebuild after $commits commits: sizes ${gotIdx.size}/${wantIdx.size}")
    // the interleaved compactions actually ran and bounded the
    // serving file count: the index resolves to a generation, at most
    // one spent generation is grace-retained, and the current
    // generation holds the compacted file set plus at most
    // compactEvery appended file sets
    val idxFs = new org.apache.hadoop.fs.Path(s"$root/_ann_idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolvedIdx = graft.streaming.IvfIndexTrigger.resolveIndexPath(
      spark, s"$root/_ann_idx")
    assert(resolvedIdx.contains("gen-"),
      s"compaction never ran under the soak: $resolvedIdx")
    val genDirs = idxFs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_ann_idx"))
      .toSeq.filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
    assert(genDirs.size <= 2, s"grace retention leak: ${genDirs.map(_.getPath.getName)}")
    val curParts = idxFs.listStatus(new org.apache.hadoop.fs.Path(resolvedIdx))
      .toSeq.count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    assert(curParts <= 4 + 10 * 32,
      s"serving file count unbounded under interleaved compaction: $curParts")
    // per-commit cost must not grow with history (both triggers are
    // O(batch)): late-quartile median vs early-quartile median
    val early = times.slice(10, 40).sorted.apply(15)
    val lateQ = times.slice(commits - 40, commits - 10).sorted.apply(15)
    info(f"per-commit median early=$early%.2fs late=$lateQ%.2fs")
    assert(lateQ < early * 5,
      f"per-commit cost grew with history: $early%.2fs -> $lateQ%.2fs")
  }

  test("cascade soak: 200 commits with late data — destination candles equal a batch recompute") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-soak-casc").toString
    val cat = new BucketCatalog(spark, root)
    val casc = new graft.streaming.DownsampleCascade(
      cat, "OHLC", "1Min", Seq("5Min", "1H"))
    val nSym = 20
    val base = 1609459200L
    val done = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // concurrent reader on a DESTINATION bucket: the late-data
    // overwrite path must never present a torn snapshot
    val readerCat = new BucketCatalog(spark, root)
    val readThread = new Thread(() => {
      while (!done.get()) {
        try { readerCat.readMulti("OHLC", "5Min").count(); () }
        catch { case t: Throwable => errors.add(t) }
        Thread.sleep(200)
      }
    }, "soak-casc-reader")
    (1 to 200).foreach { c =>
      val fresh = (1 to nSym).map(i => (s"S$i", base + c * 60L,
        (i + c).toDouble, (i + c + 1).toDouble, (i + c - 1).toDouble,
        (i + c).toDouble, 10.0))
      // every 7th commit rewrites a 9-commits-old minute — late data
      // that lands in ALREADY-PUBLISHED destination windows, forcing
      // the recompute-and-overwrite path the reference's trigger runs
      val late =
        if (c % 7 == 0 && c > 10)
          (1 to nSym).map(i => (s"S$i", base + (c - 9) * 60L,
            1000.0 + c, 1001.0 + c, 999.0 + c, 1000.0 + c, 5.0))
        else Seq.empty
      casc.ingest((fresh ++ late)
        .toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume"))
      if (c == 3) readThread.start()
    }
    done.set(true)
    readThread.join(30000)
    Option(errors.peek()).foreach(_.printStackTrace())
    assert(errors.isEmpty, s"concurrent reads errored: ${errors.size()}")
    // the sustained incremental cascade must equal a one-shot batch
    // recompute from the final base bucket — the late-data overwrite
    // contract at load, not just in the one-shot oracle
    val baseDf = cat.readMulti("OHLC", "1Min").drop("timeframe", "year")
    for (d <- Seq("5Min", "1H")) {
      val want = graft.functions.Candler.candle(
          baseDf, graft.core.CandleDuration.parse(d),
          openOf = col("Open"), closeOf = col("Close"),
          highOf = col("High"), lowOf = col("Low"),
          sums = Seq("Volume"), avgs = Nil, groupCols = Seq("symbol"))
        .withColumnRenamed("Volume_SUM", "Volume")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .toMap
      val got = cat.readMulti("OHLC", d).drop("timeframe", "year")
        .select("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .toMap
      assert(got.size == want.size, s"$d: ${got.size} vs ${want.size} candles")
      val diff = want.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }
      assert(diff.isEmpty, s"$d candles diverge from batch recompute: ${diff.take(3)}")
    }
  }
}
