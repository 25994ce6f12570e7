package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one run measured. `e2e` holds the end-to-end metrics the summary
  * line reports untraced; `layers` the per-layer metrics of a traced run;
  * `detail` everything else, written only to the full record.
  */
final case class Result(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean)],
    e2e: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    detail: Map[String, Any])

/** Benchmark program: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir>`. Prints one table row per workload and, as the last line of
  * standard output, a JSON summary; the full-precision record goes to
  * `<out>/<workload>-seed<n>-trace<t>.json` (and the spans of a traced run
  * beside it).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(m.getOrElse("out", "perfbench/out")))
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val probeBefore = hostProbe(nproc)
    val cpu0 = cpuTicks()
    val t0 = System.nanoTime()
    val work = a.out.resolve(s"work-${ProcessHandle.current().pid()}").toAbsolutePath
    Files.createDirectories(work)
    // the shipped session, plus deployment settings only: no UI, and the
    // raw local filesystem with call counting
    val spark = GraftSession.builder(master = s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.addSparkListener(new Trace.JobListener)
    spark.listenerManager.register(new Trace.PhaseListener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = Workloads.Ctx(spark, a.seed, a.seconds, a.trace, work, nproc, sessionS)
    val res =
      try a.workload match {
        case "read_serve" => Workloads.readServe(ctx)
        case "ingest_cascade" => Workloads.ingestCascade(ctx)
      } finally spark.stop()
    deleteTree(work)
    val stealPct = cpuTicks().zip(cpu0).map { case ((s1, t1), (s0, t0)) => 100.0 * (s1 - s0) / math.max(1L, t1 - t0) }
      .getOrElse(Double.NaN)
    val probe = Seq(probeBefore, hostProbe(nproc))

    val correct = res.failed == 0 && res.checks.forall(_._2)
    val metrics = if (a.trace) res.layers.filter(m => Layers.Reported.contains(m._1)) else res.e2e
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "host_probe_s" -> probe, "host_steal_pct" -> stealPct, "correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "fail_ratio" -> res.failed.toDouble / math.max(1L, res.attempted),
      "checks" -> res.checks.map { case (k, v) => k -> v }.toMap,
      "end_to_end" -> res.e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> res.layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> res.detail)
    Files.createDirectories(a.out)
    writeJson(a.out.resolve(s"$tag.json"), record)
    if (a.trace)
      writeJson(a.out.resolve(s"$tag-spans.json"), Trace.spans.map(s => Map(
        "name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs))

    // one row per workload: every metric by name with its unit
    println(s"[perfbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"correct=$correct attempted=${res.attempted} failed=${res.failed} | " +
      (res.e2e ++ res.layers).map { case (k, v, u) => f"$k=$v%.4f $u" }.mkString(", ") +
      f" | host_probe_s=${probe.head}%.3f/${probe.last}%.3f host_steal_pct=$stealPct%.1f")
    res.checks.filterNot(_._2).foreach { case (k, _) => println(s"[perfbench] FAILED check: $k") }
    println(summaryLine(correct, res.attempted, res.failed, metrics))
    sys.exit(0)
  }

  /** Seconds for a fixed integer loop run on `threads` threads at once,
    * measured before and after the workload: when runs of the same code
    * disagree, it tells a change of the host's speed from one of the program.
    */
  def hostProbe(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        var z = i.toLong
        var k = 0
        while (k < 50000000) { z = Gen.mix(z); k += 1 }
        sink.addAndGet(z)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Steal and total ticks of all CPUs from `/proc/stat`, where the kernel
    * exposes them: steal is time the hypervisor ran another guest while this
    * one had work, which slows every phase of a run alike.
    */
  def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val v = try f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally f.close()
      (v(7), v.sum)
    }.toOption

  /** The last stdout line, without spaces: a reader may keep only the
    * final 2,000 characters of the output.
    */
  def summaryLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.SerializationFeature.INDENT_OUTPUT)

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.TreeMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def writeJson(p: Path, v: Any): Unit = om.writeValue(p.toFile, toJava(v))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
