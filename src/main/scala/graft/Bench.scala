package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout (plus a copy
  * to SPARK_GRAFT_BENCH_OUT, default /tmp/bench.json — sbt prefixes
  * stdout with [info], which defeats machine parsing of the log).
  * The stdout line carries per-query times rounded to 1 ms so it fits
  * the driver's bounded stdout tail (the full-precision line is ~7.5 kB
  * and overflowed it in r12/r13, emptying the per-query regression
  * gate); the file copies keep full precision.
  *
  * Failures are NOT swallowed: a failing query records "err" in the
  * JSON and flips the exit code to 1 (round-1 lesson: a silent
  * catch-all hid a codegen regression for a whole round).
  *
  * Optional extra scale points: when SPARK_GRAFT_SF_DIR2 (and
  * SPARK_GRAFT_SF_DIR3) name directories (e.g. tools/scale_testdata.py
  * output), the timed loop runs again there and emits one more JSON
  * line per point — a constants-level check that the plans hold as
  * data grows, beyond PlanSpec's shape-level guarantees.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR keeps stdout clean for the JSON result lines
    val spark = session("ERROR")
    warmUp(spark, SparkEntry.queries.keys)

    val runs = Seq(sfDir) ++
      Seq("SPARK_GRAFT_SF_DIR2", "SPARK_GRAFT_SF_DIR3")
        .flatMap(sys.env.get).filter(d => new java.io.File(d).isDirectory)
    var anyFailed = false
    val lines = runs.map { dir =>
      val (line, compactLines, failed) = timedRun(spark, dir)
      anyFailed ||= failed
      // stdout carries the COMPACT line (times as %.3f) and the
      // summary line: the driver keeps only a bounded tail of stdout
      // and the full-precision line (~7.5 kB for 136 entries)
      // overflowed it in r12/r13 — both rounds' per-query regression
      // gates came up empty ("parsed": null). 1 ms resolution is far
      // inside the box's ±30% ambient band, and the full-precision
      // copy still lands in the JSON files below for floor records.
      println(compactLines)
      line
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    // ... and a FULL per-entry copy: the driver's BENCH_rN.json records
    // a truncated tail of stdout (~half the per-entry dict lost), so
    // round-over-round comparison needs the full timing dict kept
    // somewhere durable. Default lands BESIDE the bench output (not in
    // whatever cwd the process happens to run from — an unasked-for
    // side effect that clobbered committed copies); set
    // SPARK_GRAFT_BENCH_FULL explicitly to route it into the repo.
    val repoCopy = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      new java.io.File(new java.io.File(out).getAbsoluteFile.getParentFile,
        "bench_full_latest.json").getPath)
    for (p <- Seq(out, repoCopy))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        lines.mkString("", "\n", "\n"))
      catch { case e: Throwable => System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    spark.stop()
    if (anyFailed) sys.exit(1)
  }

  /** The session of every main in this package: GraftSession's shipped
    * config on SPARK_GRAFT_CPUS local cores (default 4, and as many
    * shuffle partitions) plus deployment settings only — no UI, the
    * given log level, and Hadoop's raw local filesystem. The
    * checksummed default shadows every file with a `.crc` twin,
    * doubling file ops — a local emulation artifact (HDFS/S3 checksum
    * server-side); measured on a 16k-file wide write: 142 s → 107 s
    * write, 17 s → 12 s wildcard read.
    */
  def session(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    GraftSession.create(GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem"))
  }

  /** Steady-state discipline: warm the JVM and codegen paths so the
    * first timed query isn't charged for session bootstrap, then run
    * each named query once at the smallest scale factor so Janino
    * compilation + JIT of its generated stage classes happens OUTSIDE
    * the timed run (codegen compiles once per plan shape; a serving
    * deployment pays it once, and first-compile was ~8s of a 13s run
    * for the widest plans). Warmup failures are ignored — the timed
    * run will surface them.
    */
  def warmUp(spark: SparkSession, names: Iterable[String]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      for (name <- names; fn <- SparkEntry.queries.get(name))
        try { fn(spark, warmDir).count(); () } catch { case _: Throwable => () }
  }

  /** Drop persisted relations left by the previous query: operators
    * persist intermediates and rely on ContextCleaner GC, so across a
    * pass the block store otherwise accumulates dead caches whose
    * eviction churn bleeds into later measurements.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    // ... and RDD-level blocks too: localCheckpoint() (the CC
    // fixpoint, the BPE merge loop) caches at the RDD layer, which
    // clearCache() cannot reach
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Entries dominated by local-FS file churn (catalog write phases)
    * or many short stages: run-to-run variance on the shared builder
    * box is ±30% in the common band and single draws have shown >30×
    * tails under ambient load (BENCH_r11: q_queryservice_lastn
    * 2→76 s on byte-identical code; BENCH_NOTES documents the band),
    * so a single draw over- or under-states the floor — these report
    * the MEDIAN of 3 runs inside one process. The set is every entry
    * that has demonstrated a ≥4× single-draw tail across driver
    * rounds r9–r11.
    */
  private val FsVarianceProne = Set(
    "q_queryservice_wide", "q_cascade_ohlcv",
    "q_queryservice_lastn", "q_quality_classifier",
    "q_rsi", "q_rsi_wilder",
    "q_roundtrip_trim", "q_roundtrip_csv", "q_roundtrip_coerce",
    "q_roundtrip_delete",
    // shuffle-heavy twin-planted mining: drew 5x in-suite at 50x in
    // r12 while three solo draws sat at 1.7-3.3x (BENCH_NOTES r12)
    "q_pipeline_contrastive")

  /** One timed pass over every query; returns (full-precision JSON
    * line, compact + summary stdout lines, anyFailed).
    * SPARK_GRAFT_BENCH_ONLY (regex over names) narrows the pass for
    * targeted local scale runs; the driver never sets it.
    */
  private def timedRun(spark: SparkSession, sfDir: String): (String, String, Boolean) = {
    var failed = List.empty[(String, String)]
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", ".*")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(only)).map { case (name, fn) =>
      def once(): Double = {
        clearCaches(spark)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200)
            failed ::= (name, msg)
        }
        (System.nanoTime() - t0) / 1e9
      }
      val t = {
        val first = once()
        // median-of-3 only for clean runs: re-running a failing query
        // would record the same error three times and report a median
        // of times-to-exception as if it were a measurement
        if (FsVarianceProne(name) && !failed.exists(_._1 == name))
          (first +: Seq(once(), once())).sorted.apply(1)
        else first
      }
      name -> t
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Locale.ROOT: the f"" interpolator is locale-sensitive and a
    // comma decimal separator would corrupt the JSON
    def r3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def r4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs3 = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errMap = failed.reverse.map { case (k, m) =>
      "\"" + k + "\":\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // approximate-tier metrology (untimed): recall@k of each no_oracle
    // entry vs its exact comparator on the SAME corpus, so a
    // banding/probe-parameter regression shows up as a number in the
    // bench record instead of needing an eyeball diff
    val recallPairs = (try recalls(spark, sfDir) catch { case _: Throwable => Map.empty[String, Double] })
      .toSeq.sortBy(_._1)
    val recallMap = recallPairs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // 4 decimals: simhash's recall contract is exactly 1.0, and %.2f
    // would round a regression to 0.995 back up to it
    val recallMap4 = recallPairs.map { case (k, v) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errMap,"n_failed":${failed.size},"recall":$recallMap,"sf":"$sfDir"}"""
    val compactLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs3,"errors":$errMap,"n_failed":${failed.size},"recall":$recallMap4,"sf":"$sfDir"}"""
    // 136 named times cannot fit the driver's 2,000-char stdout tail, so
    // the LAST line is a bounded summary (~0.7 kB) that always parses
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val failedNames = failed.reverse.take(12).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val summaryLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"n_failed":${failed.size},"failed":$failedNames,"recall":$recallMap4,"slowest":$slowest,"sf":"$sfDir"}"""
    (line, compactLine + "\n" + summaryLine, failed.nonEmpty)
  }

  /** Recall@k of each approximate-by-design entry against its exact
    * comparator on the same corpus and queries — the quantitative
    * guard for the four `no_oracle` rows (OpsSpec asserts floors):
    *  - q_knn_ivf (probe depth DERIVED from a 0.85 recall contract,
    *    r10) and q_knn_lsh vs exact cosine top-10;
    *  - q_knn_pq (trained codebooks) vs exact DOT top-10 (ADC
    *    approximates the dot product), and q_knn_pq_rerank — the
    *    SERVING composite (same trained codebooks, ADC proposes 50,
    *    exact dot re-ranks) whose oracle entry runs lossless; this
    *    number is its recall under REAL (lossy) codebooks;
    *  - q_dedup_simhash (4×16 banding) vs exhaustive Hamming≤3 pairs
    *    anchored at a bounded doc sample (the banding is
    *    pigeonhole-lossless, so this one must be exactly 1.0);
    *  - q_dedup_minhash (derived banding) vs the exhaustive
    *    exact-Jaccard operator at τ=0.9 — the banding proposal
    *    stage's recall, since verification is exact (r10).
    */
  def recalls(spark: SparkSession, sfDir: String): Map[String, Double] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.VectorFunctions
    import graft.ops.{Dedup, Similarity}
    def overlap(approx: DataFrame, exact: DataFrame): Double = {
      val e = exact.select(col("query_id"), col("vec_id"))
      val denom = e.count()
      if (denom == 0) 1.0
      else approx.select(col("query_id"), col("vec_id"))
        .join(e, Seq("query_id", "vec_id"), "left_semi").count().toDouble / denom
    }
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 5)
    val exactCos = Similarity.bruteForceTopK(emb, q, 10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // recall-targeted probe depth (r10): nProbe is DERIVED from the
    // 0.85 candidate-recall contract on a bounded calibration sample
    // (ivfProbeForRecall) instead of the hand-picked 8/16 — same
    // quantizer as the serve, so calibration and serving agree
    val centsIvf = Similarity.sampledCentroids(emb, 16)
    val probeIvf = Similarity.ivfProbeForRecall(
      emb, q, 10, centsIvf, recallFloor = 0.85, nCal = 64)
    val rIvf = overlap(Similarity.ivfTopK(emb, q, 10, nCells = 16,
      nProbe = probeIvf, centroids = Some(centsIvf)), exactCos)
    // recall-targeted banding (r9): derived from the isotropic
    // retrieval contract (targetSim 0.4, floor 0.9) instead of the
    // near-dup default — same parameters as the q_knn_lsh entry
    val rLsh = overlap(Similarity.lshTopKAtRecall(emb, q, 10), exactCos)
    exactCos.unpersist(blocking = false)
    val exactDot = {
      val c = emb.select(col("vec_id"), col("embedding").as("__cv"))
      val qq = broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("__qv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      c.crossJoin(qq).filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", VectorFunctions.dotF(col("__cv"), col("__qv")))
        .withColumn("__r", row_number().over(w)).filter(col("__r") <= 10)
        .select(col("query_id"), col("vec_id"))
    }
    // 32×16 = 2 bits/dim (vs the old 8×16 = 0.5) — the coding rate
    // the isotropic 64-d fixture needs for ≥0.5 recall@10 (measured
    // 0.6 at sf0.1; 0.18 at the old rate); same parameters as the
    // q_knn_pq entry. Codebooks trained ONCE and injected into both
    // the bare tier and the rerank composite so the two numbers
    // measure the same quantizer.
    val cbTrained = Similarity.trainedPqCodebooks(emb, m = 32, ksub = 16, iters = 2)
    val rPq = overlap(
      Similarity.pqTopK(emb, q, 10, m = 32, ksub = 16,
        codebooks = Some(cbTrained)), exactDot)
    // the composite SERVING tier (r11): the same ADC pass proposes 50
    // candidates, exact dot re-ranks only those — the recall lift the
    // bare 0.6 tier buys when composed the way sq8RerankTopK is
    val rPqRerank = overlap(
      Similarity.pqRerankTopK(emb, q, 10, kCand = 50, m = 32, ksub = 16,
        codebooks = Some(cbTrained)), exactDot)
    // simhash: ground truth = ALL pairs at Hamming<=3 whose smaller id
    // is in a bounded anchor sample (|sample|×N comparisons — linear
    // in corpus size, not quadratic)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val sigs = Dedup.simhashSignatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchors = broadcast(sigs.filter(col("doc_id") < 300)
      .select(col("doc_id").as("id1"), col("simhash").as("__h1")))
    val gt = sigs.select(col("doc_id").as("id2"), col("simhash").as("__h2"))
      .join(anchors, col("id1") < col("id2"))
      .filter(bit_count(col("__h1").bitwiseXOR(col("__h2"))) <= 3)
      .select(col("id1"), col("id2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val denomS = gt.count()
    val rSim =
      if (denomS == 0) 1.0
      else Dedup.simhashPairs(docs, maxDist = 3)
        .filter(col("id1") < 300).select(col("id1"), col("id2"))
        .join(gt, Seq("id1", "id2"), "left_semi").count().toDouble / denomS
    gt.unpersist(blocking = false)
    sigs.unpersist(blocking = false)
    // minhash BANDING recall vs the exhaustive exact-Jaccard operator
    // at the q_dedup_minhash contract (τ=0.9, n=3): the verified
    // operator's misses are exactly the banding's (verification is
    // exact), so |verified ∩ truth| / |truth| isolates the proposal
    // stage a banding regression would degrade. SAME parameters as
    // the entry (the default 64/16 banding, like every other recall
    // row measures its entry's real geometry — a defaults regression
    // must trip this number); the derivation itself
    // (minhashParamsForRecall) is guarded by its own OpsSpec
    // minimality/floor unit test, and the shipped default sits in its
    // near-dup regime (s=0.8, floor≈0.999 derives 14×4 vs 16×4).
    val truthJ = Dedup.jaccardPairs(docs, threshold = 0.9, n = 3)
      .select(col("id1"), col("id2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val denomJ = truthJ.count()
    val rMh =
      if (denomJ == 0) 1.0
      else Dedup.minhashPairsVerified(docs, threshold = 0.9)
        .select(col("id1"), col("id2"))
        .join(truthJ, Seq("id1", "id2"), "left_semi").count().toDouble / denomJ
    truthJ.unpersist(blocking = false)
    Map("q_knn_ivf" -> rIvf, "q_knn_lsh" -> rLsh, "q_knn_pq" -> rPq,
      "q_knn_pq_rerank" -> rPqRerank,
      "q_dedup_simhash" -> rSim, "q_dedup_minhash" -> rMh)
  }
}
