package perfbench

/** Per-layer numbers of a traced run, per timed operation. A span belongs to
  * the operation whose interval contains its start; traced runs have one
  * query client, so operations of one kind never overlap each other.
  */
object Layers {

  type Metric = (String, Double, String)

  // "other": jobs with no engine frame on their call site, such as broadcast
  // exchanges, which Spark launches from its own thread pool
  val Modules: Seq[String] = Seq("wire", "api", "sql", "catalog", "streaming", "other")
  private val ReadCalls = Set("catalog.listSymbols", "catalog.listTimeframesBySymbol",
    "catalog.readMulti", "catalog.read")

  private def num(x: Any): Double = x match {
    case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble
    case _ => 0.0
  }

  private def within(s: Span, ops: Seq[Op]): Boolean = ops.exists(o => s.start >= o.start && s.start <= o.end)

  /** Top-level catalog write spans named `name`: a base commit
    * (`writeMulti`) or a multi-timeframe cascade commit (`writeMultiTf`
    * called directly).
    */
  private def commits(spans: Seq[Span], name: String): Seq[Span] =
    spans.filter(s => s.parent == 0 && s.name == name)

  /** Names of the per-layer metrics every workload reports: the traced
    * run's summary line carries exactly these.
    */
  lazy val Reported: Set[String] = common(Nil, Nil).map(_._1).toSet

  /** Metrics every workload reports, averaged over `ops`. */
  def common(ops: Seq[Op], spans: Seq[Span]): Seq[Metric] = {
    val n = math.max(1, ops.size).toDouble
    val mine = spans.filter(within(_, ops))
    val jobs = mine.filter(_.name == "spark.job")
    def jsum(k: String) = jobs.map(j => num(j.attrs.getOrElse(k, 0))).sum / n
    def phase(p: String) = mine.filter(_.name == s"sql.$p").map(_.ms).sum / n
    val reads = mine.filter(s => ReadCalls.contains(s.name))
    val fs = FsCounts.Ops.indices.map(i => ops.map(_.fs(i)).sum / n)
    Seq[Metric](
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.stages", jsum("stages"), "count"),
      ("spark.tasks", jsum("tasks"), "count"),
      ("spark.job_ms", jobs.map(_.ms).sum / n, "ms"),
      ("spark.exec_cpu_ms", jsum("cpu_ms"), "ms"),
      ("spark.sched_delay_ms", jsum("sched_delay_ms"), "ms"),
      ("spark.input_bytes", jsum("input_bytes"), "B"),
      ("spark.shuffle_bytes", jsum("shuffle_bytes"), "B")) ++
      Modules.map(m => (s"spark.jobs.$m", jobs.count(_.attrs.get("module").contains(m)) / n, "count")) ++
      Seq[Metric](
        ("sql.analysis_ms", phase("analysis"), "ms"),
        ("sql.optimization_ms", phase("optimization"), "ms"),
        ("sql.planning_ms", phase("planning"), "ms"),
        ("catalog.read_calls", reads.size / n, "count"),
        ("catalog.resolve_ms", reads.map(_.ms).sum / n, "ms"),
        ("catalog.commits", mine.count(_.name == "catalog.writeMultiTf") / n, "count")) ++
      FsCounts.Ops.indices.map(i => (s"fs.${FsCounts.Ops(i)}", fs(i), "count")) :+
      (("fs.bytes_written", ops.map(_.fs.last).sum / n, "B"))
  }

  /** `read_serve`: per query, plus the wire numbers. */
  def serve(queries: Seq[Op], spans: Seq[Span], serverMs: Double): Seq[Metric] = {
    val base = common(queries, spans)
    val byName = base.map(m => m._1 -> m._2).toMap
    val n = math.max(1, queries.size).toDouble
    val inside = byName("catalog.resolve_ms") + byName("sql.analysis_ms") +
      byName("sql.optimization_ms") + byName("sql.planning_ms") + byName("spark.job_ms")
    base ++ Seq[Metric](
      ("wire.response_bytes", queries.map(_.bytes).sum / n, "B"),
      ("wire.server_ms", serverMs, "ms"),
      ("wire.client_gap_ms", queries.map(_.ms).sum / n - serverMs, "ms"),
      ("api.self_ms", math.max(0.0, serverMs - inside), "ms"),
      ("samples", queries.size.toDouble, "count"))
  }

  /** `ingest_cascade`: per minute-batch. */
  def ingest(batches: Seq[Op], spans: Seq[Span], bars: Double): Seq[Metric] = {
    val n = math.max(1, batches.size).toDouble
    val mine = spans.filter(within(_, batches))
    val base = commits(mine, "catalog.writeMulti").map(_.ms).sum / n
    val cascade = commits(mine, "catalog.writeMultiTf").map(_.ms).sum / n
    val batchMs = batches.map(_.ms).sum / n
    common(batches, spans) ++ Seq[Metric](
      ("catalog.base_commit_ms", base, "ms"),
      ("catalog.cascade_commit_ms", cascade, "ms"),
      ("streaming.cascade_ms", batchMs - base - cascade, "ms"),
      ("streaming.cascade_jobs", mine.count(s => s.name == "spark.job" &&
        s.attrs.get("module").contains("streaming")) / n, "count"),
      ("fs.bytes_written_per_bar", batches.map(_.fs.last).sum / math.max(1.0, bars), "B"),
      ("samples", batches.size.toDouble, "count"))
  }
}
