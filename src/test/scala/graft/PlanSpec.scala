package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan guardrails for every shipped query (round-1 lesson:
  * correctness-green plans hid cartesian products and empty-key
  * windows that die at 100× scale).
  *
  *  - no CartesianProductExec anywhere (broadcast NL joins are fine:
  *    the big side streams, nothing shuffles n×m);
  *  - no WindowExec with an empty partitionSpec (a global window
  *    funnels the whole table through ONE task).
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("bucket scans push Epoch range filters and prune columns to the parquet reader") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val cat = new graft.catalog.BucketCatalog(spark, root)
    val tbk = graft.core.TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Epoch", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("Open", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("Close", org.apache.spark.sql.types.DoubleType))),
      isVariable = false)
    cat.write(tbk, (1 to 100).map(i => (i * 60L, i.toDouble, i + 0.5)).toDF("Epoch", "Open", "Close"))
    val q = graft.operators.TimeSeries.project(
      graft.operators.TimeSeries.rangeFilter(cat.read(tbk), 600L, 0, 1200L), Seq("Open"))
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val meta = scans.head.metadata
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(Epoch,600)"),
      s"Epoch lower bound not pushed: ${meta("PushedFilters")}")
    assert(meta("PushedFilters").contains("LessThanOrEqual(Epoch,1200)"),
      s"Epoch upper bound not pushed: ${meta("PushedFilters")}")
    val readSchema = meta("ReadSchema")
    assert(readSchema.contains("Epoch") && readSchema.contains("Open") && !readSchema.contains("Close"),
      s"column pruning failed: $readSchema")
    // partition pruning on the timeframe/sbucket dirs
    assert(scans.head.partitionFilters.nonEmpty)
  }

  test("single-symbol reads on the bucketed layout prune partitions AND push the symbol predicate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft-plan-bkt").toString
    val cat = new graft.catalog.BucketCatalog(spark, root)
    // 500 symbols across the default 32 buckets, all in one commit
    cat.writeMulti("PRU", "1Min", (1 to 500)
      .map(i => (s"S$i", i * 60L, i.toDouble)).toDF("symbol", "Epoch", "V"))
    val q = cat.read(graft.core.TimeBucketKey.parse("S42/1Min/PRU"))
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // the sbucket partition filter keeps 1/N of the files
    val pf = scans.head.partitionFilters.mkString(";")
    assert(pf.contains("sbucket"), s"no sbucket partition pruning: $pf")
    val sb = graft.catalog.BucketCatalog.symbolBucket("S42",
      graft.catalog.BucketCatalog.DefaultSymbolBuckets)
    val wanted = scans.head.selectedPartitions.totalNumberOfFiles
    val total = cat.liveFiles("PRU").get.size
    assert(wanted < total, s"bucket pruning selected all $total files")
    // every file the scan kept is in the symbol's bucket directory
    assert(scans.head.selectedPartitions.toPartitionArray.forall(
      _.urlEncodedPath.contains(s"sbucket=$sb")),
      "selected partitions outside the symbol's bucket")
    // and the symbol predicate reaches parquet for row-group skipping
    // over the sorted symbol column
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(symbol,S42)"),
      s"symbol predicate not pushed: ${scans.head.metadata("PushedFilters")}")
  }

  test("cosineDedupPairs never broadcasts the blocked corpus (no BNLJ carrying block payloads)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // the `__bl <= __br` non-equi block-pair join used to plan as
    // BroadcastNestedLoopJoin, broadcasting the ENTIRE blocked corpus
    // (~2.5 GB at 10M 64-d vectors) — the explode+equi-join shape must
    // keep every join over the block payloads a shuffle join
    val embs = (0 until 200).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 7 + d) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    for (collapse <- Seq(true, false)) {
      // sparkPlan, not executedPlan: AQE wraps the latter in an
      // AdaptiveSparkPlanExec with no children, which silently makes
      // any collect-based assertion vacuous
      val plan = graft.ops.Similarity
        .cosineDedupPairs(embs, threshold = 0.9, numBlocks = 5,
          collapseExact = collapse)
        .queryExecution.sparkPlan
      val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.isEmpty,
        s"BroadcastNestedLoopJoin in cosineDedupPairs(collapse=$collapse):\n${bnlj.mkString("\n")}")
      // the join nodes must actually be visible (guard against the
      // vacuous-collect failure mode this comment describes)
      assert(plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.nonEmpty,
        "expected the merge-hinted block-pair join in the plan")
    }
  }

  test("decontamination joins corpus grams against a BROADCAST eval side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    // the whole scale design: the bounded benchmark side broadcasts,
    // the 100 TB corpus's exploded grams are probed map-side and never
    // shuffle — a sort-merge plan here would shuffle the corpus grams
    val d = graft.sources.Tables.documents(spark, sf)
    val plan = graft.ops.Dedup.contaminationReport(
        d.filter(col("doc_id") % 23 =!= 0), d.filter(col("doc_id") % 23 === 0),
        n = 3, collapseExact = false)
      .queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"eval gram join did not plan as BroadcastHashJoin:\n$plan")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smj.isEmpty, s"corpus gram side shuffled through a SortMergeJoin:\n$smj")
  }

  test("unigram-LM scoring joins the vocabulary as a BROADCAST local relation") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the scale contract: the ≤vocabSize vocabulary broadcasts and the
    // corpus's exploded tokens are probed map-side; a sort-merge plan
    // would shuffle every token of a 100 TB corpus on the word key
    val d = graft.sources.Tables.documents(spark, sf)
    val plan = graft.ops.TextAnalysis
      .withUnigramLogProb(d, vocabSize = 64, collapseExact = false)
      .queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"vocab join did not plan as BroadcastHashJoin:\n$plan")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smj.isEmpty, s"token stream shuffled through a SortMergeJoin:\n$smj")
  }

  test("crossTopK joins block pairs without broadcasting either corpus (no BNLJ)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val mk = (off: Int) => (0 until 120).map { i =>
      (off + i.toLong, (0 until 8).map(d => ((i * 7 + d) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    val plan = graft.ops.Similarity.crossTopK(mk(0), mk(1000), k = 3)
      .queryExecution.sparkPlan
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      s"BroadcastNestedLoopJoin in crossTopK:\n${bnlj.mkString("\n")}")
  }

  test("exactK samples via TakeOrdered, never a global sort of the corpus") {
    // per-partition top-k + driver merge; a SortExec-then-limit plan
    // would globally sort 100 TB to keep 100 rows
    val plan = graft.ops.Sampling.exactK(
        graft.sources.Tables.documents(spark, sf), k = 100)
      .queryExecution.sparkPlan
    val topK = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(topK.nonEmpty, s"exactK did not plan as TakeOrderedAndProject:\n$plan")
    val sorts = plan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s }
    assert(sorts.isEmpty, s"exactK planned a global sort:\n$sorts")
  }

  test("flat ANN scans pre-reduce to per-block local top-k before the ranking window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val embs = (0 until 500).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 7 + d) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = embs.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    for ((name, df) <- Seq(
        "bruteForceTopK" -> graft.ops.Similarity.bruteForceTopK(embs, queries, 5),
        "sq8TopK" -> graft.ops.Similarity.sq8TopK(
          graft.ops.Similarity.sq8Encode(embs), queries, 5))) {
      val plan = df.queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: no ranking window in plan")
      // the window's subtree must rank EXPLODED per-block top-k
      // candidates (<= blocks*k rows/query), never the raw scored
      // corpus — the round-8 pre-reduce that keeps the one shuffle
      // O(blocks*k) per query at any corpus size
      val explodes = windows.head.collect { case g: GenerateExec => g }
      assert(explodes.nonEmpty,
        s"$name: window input is not the exploded per-block top-k:\n${windows.head}")
      val blockAggs = windows.head.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(blockAggs.nonEmpty,
        s"$name: no block-building aggregate below the window:\n${windows.head}")
    }
  }

  test("capped SemDeDup pre-reduces per block-pair before the per-cell window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val embs = (0 until 400).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 7 + d) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    val quant = Array[Seq[Float]](Seq.fill(8)(1.0f), Seq.fill(8)(-1.0f))
    val df = graft.ops.Similarity.semanticDedupPairsCapped(
      embs, threshold = 0.5, nCells = 2, maxPairsPerCell = 10,
      centroids = Some(quant))
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"no per-cell capping window:\n$plan")
    // the window must rank EXPLODED locally-sliced pairs (<= B²·cap
    // rows per cell), never the raw quadratic pair stream — the same
    // pre-reduce discipline as the flat ANN tier
    val explodes = windows.head.collect { case g: GenerateExec => g }
    assert(explodes.nonEmpty,
      s"window input is not the exploded local top-cap:\n${windows.head}")
    assert(explodes.exists(_.generator.toString.contains("slice")),
      s"local slice missing below the window — the task-level cap is gone:\n${explodes.map(_.generator)}")
    // and the window key is the cell, never empty (no single-task sink)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "capping window has an empty partition key")
  }

  test("downsample cascade recompute reads a LITERALLY bounded base slice") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft-plan-casc").toString
    val cat = new graft.catalog.BucketCatalog(spark, root)
    // base bucket spanning three years × 50 symbols; a batch touches
    // ONE symbol in ONE hour — the recompute read must not scan the rest
    val rows = for { y <- 0 until 3; i <- 1 to 50 } yield
      (s"S$i", 1704067200L + y * 31536000L + i * 60L,
        i.toDouble, i + 1.0, i - 1.0, i.toDouble, 10.0)
    cat.writeMulti("CASC", "1Min",
      rows.toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume"))
    val casc = new graft.streaming.DownsampleCascade(cat, "CASC", "1Min", Seq("5Min", "1H"))
    val slice = casc.recomputeSlice(spark, Seq(("S1", 1704067260L, 1704070860L)))
    // sparkPlan, not executedPlan: AQE wraps joined plans in an
    // AdaptiveSparkPlanExec with no children (see cosineDedupPairs test)
    val scans = slice.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no file scan under the recompute slice")
    val meta = scans.head.metadata
    // join-independent literal Epoch bounds reach parquet stats — the
    // round-7 gap was exactly this: a join-dependent filter pushed nothing
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(Epoch,"),
      s"no pushed Epoch lower bound: ${meta("PushedFilters")}")
    assert(meta("PushedFilters").contains("LessThan(Epoch,"),
      s"no pushed Epoch upper bound: ${meta("PushedFilters")}")
    assert(meta("PushedFilters").contains("symbol"),
      s"no pushed symbol predicate: ${meta("PushedFilters")}")
    val pf = scans.head.partitionFilters.mkString(";")
    assert(pf.contains("year"), s"no year partition pruning: $pf")
    assert(pf.contains("sbucket"), s"no sbucket partition pruning: $pf")
  }

  test("a many-symbol recompute slice pushes a symbol range, never the batch's symbol list") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft-plan-cascw").toString
    val cat = new graft.catalog.BucketCatalog(spark, root)
    val rows = for { y <- 0 until 2; i <- 1 to 120 } yield
      (s"S$i", 1704067200L + y * 31536000L + i * 60L,
        i.toDouble, i + 1.0, i - 1.0, i.toDouble, 10.0)
    cat.writeMulti("CASCW", "1Min",
      rows.toDF("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume"))
    val casc = new graft.streaming.DownsampleCascade(cat, "CASCW", "1Min", Seq("5Min", "1H"))
    // 60 batch symbols: a pushed `In` over them costs the parquet reader
    // more than the scan it prunes — the spans join owns membership
    val spans = (1 to 60).map(i => (s"S$i", 1704067200L + i * 60L, 1704067200L + i * 60L))
    val slice = casc.recomputeSlice(spark, spans)
    val scans = slice.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no file scan under the recompute slice")
    val pushed = scans.head.metadata("PushedFilters")
    assert(!pushed.contains("In(symbol,"), s"the batch's symbol list reached parquet: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(symbol,") && pushed.contains("LessThanOrEqual(symbol,"),
      s"no pushed symbol range: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(Epoch,") && pushed.contains("LessThan(Epoch,"),
      s"no pushed Epoch bounds: $pushed")
    val pf = scans.head.partitionFilters
    assert(pf.mkString(";").contains("year"), s"no year partition pruning: $pf")
    val sbuckets = pf.flatMap(_.collect {
      case i: In if i.value.references.exists(_.name == "sbucket") => i.list.size
      case i: InSet if i.child.references.exists(_.name == "sbucket") => i.hset.size })
    assert(sbuckets.exists(_ > 8), s"no sbucket partition pruning over many buckets: $pf")
    // the range admits S61..S120 too; the join keeps exactly the spans'
    assert(slice.select("symbol").distinct().as[String].collect().toSet ==
      spans.map(_._1).toSet)
  }

  test("date-literal SQL over a catalog bucket pushes Epoch bounds to the scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft-plan-dl").toString
    val cat = new graft.catalog.BucketCatalog(spark, root)
    val tbk = graft.core.TimeBucketKey.parse("DL/1Sec/TEST")
    cat.write(tbk, Seq(
      (1704844799L, 999999999, 1.0), // 1ns before 2024-01-10 — ns-excluded
      (1704844800L, 0, 2.0),
      (1704844800L, 500000000, 3.0),
      (1705708800L, 0, 4.0) // 2024-01-20 — excluded by <
    ).toDF("Epoch", "Nanoseconds", "v"))
    val svc = new graft.sql.SqlService(spark, Some(cat))
    val df = svc.sql(
      """SELECT Epoch, Nanoseconds, v FROM `DL/1Sec/TEST`
         WHERE Epoch >= '2024-01-10' AND Epoch < '2024-01-20'""")
    // the redundant plain-Epoch conjuncts must reach the parquet scan —
    // the ns-precise expression alone prunes nothing (round-7 gap #2)
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(Epoch,1704844800)"),
      s"date-literal lower bound not pushed: $pushed")
    assert(pushed.contains("LessThanOrEqual(Epoch,1705708800)"),
      s"date-literal upper bound not pushed: $pushed")
    // and the ns-precision semantics are intact (the 1ns-before row out)
    assert(df.select("v").collect().map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 3.0))
    // sub-second literal: the ns compare, not the pushed second bound,
    // must decide the boundary row
    val frac = svc.sql(
      """SELECT v FROM `DL/1Sec/TEST`
         WHERE Epoch >= '2024-01-10-00:00:00.50000000' AND Epoch < '2024-01-20'""")
    assert(frac.collect().map(_.getDouble(0)).toSeq == Seq(3.0))
  }

  test("decontamination evaluates the interpreted shingle transform once per corpus side") {
    // pins the ndGuardedGrams shape (r13): without the ND guard,
    // InferFiltersFromGenerate + pushdown re-evaluate the interpreted
    // higher-order transform in a Filter below the Generate AND in the
    // projection — a silent 3× re-evaluation a Spark version bump
    // could restore. Exactly one transform per corpus side (train,
    // eval) = 2 in the whole plan.
    val plan = SparkEntry.queries("q_text_decontaminate")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val n = "transform\\(sequence".r.findAllIn(plan).length
    assert(n == 2,
      s"expected exactly one shingle transform per corpus side (2 total), got $n")
  }

  test("the exact-jaccard pair path ranks prefixes without any window sort") {
    // pins the r14 shape: prefix ranks and verify sets both derive
    // from ONE per-doc sorted-array aggregation — no WindowExec (and
    // hence no per-partition sort) anywhere in the pair path
    val docs = graft.sources.Tables.documents(spark, sf)
    val plan = graft.ops.Dedup.jaccardPairs(docs, threshold = 0.4, n = 3)
      .queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"WindowExec in jaccardPairs plan:\n${windows.mkString("\n")}")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: no cartesian product, no empty-key window") {
      val plan = fn(spark, sf).queryExecution.sparkPlan
      val cartesians = plan.collect { case c: CartesianProductExec => c }
      assert(cartesians.isEmpty,
        s"CartesianProductExec in $name:\n${cartesians.mkString("\n")}")
      val globalWindows = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"empty-partitionBy Window in $name:\n${globalWindows.mkString("\n")}")
    }
  }
}
