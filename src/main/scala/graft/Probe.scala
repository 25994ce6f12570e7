package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Diagnostic main (not part of the library surface) over SparkEntry
  * entries, on Bench's session, warm-up and cache clearing. Corpus dir
  * from SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS, as for Bench.
  *
  *  - `profile <entry>...`: three draws per entry after the sf0.001
  *    warm-up. Each draw prints its wall time, then every job of 20 ms
  *    or more and every stage of it with task count, executor CPU,
  *    input, shuffle read/write, spill and fetch wait — the headless
  *    stand-in for the Spark UI's stage table (the UI is disabled). A
  *    stage regression reproduces across draws; ambient load shows up
  *    as draw spread.
  *  - `explain <dir> <entry>...`: `.explain("formatted")` of each entry
  *    to `<dir>/<entry>.txt`, the plan evidence kept under plans/rNN/.
  *    Entries that mutate on-disk state (catalog writes, index builds)
  *    explain only their final read.
  *
  * A failing entry or draw prints its error and the sweep goes on: the
  * partial evidence is the attribution.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (mode, names) = args.toSeq match {
      case "profile" +: ns => (profile _, ns)
      case "explain" +: dir +: ns => (explain(dir) _, ns)
      case _ =>
        System.err.println("usage: Probe profile <entry>... | Probe explain <dir> <entry>...")
        sys.exit(2)
    }
    val (known, unknown) = names.partition(SparkEntry.queries.contains)
    unknown.foreach(n => println(s"[probe] SKIP unknown entry '$n'"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session("ERROR")
    try mode(spark, sfDir, known) finally spark.stop()
  }

  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Bench.warmUp(spark, names)
    for (name <- names; draw <- 1 to 3) {
      Bench.clearCaches(spark)
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val t0 = System.nanoTime()
      val outcome =
        try s"${SparkEntry.queries(name)(spark, sfDir).count()} rows"
        catch { case e: Throwable =>
          "FAILED: " + Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200) }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(rec)
      println(f"[probe] $name draw $draw: $wall%.2f s, ${rec.jobs.size} jobs ($outcome)")
      val stById = rec.stages.map(s => s.id -> s).toMap
      for ((jid, ms, sids) <- rec.jobs.sortBy(_._1) if ms >= 20) {
        println(f"[probe]   job $jid%3d ${ms / 1000.0}%7.2f s")
        for (sid <- sids.sorted; s <- stById.get(sid))
          println(f"[probe]     stage $sid%4d ${s.wallMs / 1000.0}%7.2f s wall ${s.cpuMs / 1000.0}%8.2f s cpu " +
            f"${s.tasks}%4d tasks in=${s.inputMB}%8.1fMB sr=${s.shufReadMB}%8.1fMB sw=${s.shufWriteMB}%8.1fMB " +
            f"spill=${s.spillMB}%6.0fMB fw=${s.fetchWaitMs}%5d ms  ${s.name}")
      }
    }
  }

  private def explain(outDir: String)(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for (name <- names)
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
        println(s"[probe] wrote $outDir/$name.txt")
      } catch {
        case e: Throwable => println(s"[probe] $name FAILED: ${e.getMessage}")
      }
  }

  private final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
      cpuMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, spillMB: Double, fetchWaitMs: Long)

  /** Jobs (id, wall ms, stage ids) and completed stages of one draw. */
  private final class Recorder extends SparkListener {
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
    private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = (e.time, e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, sids) =>
        jobs += ((e.jobId, e.time - t0, sids)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
        si.numTasks, wall, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        m.inputMetrics.bytesRead / 1048576.0,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0,
        m.shuffleReadMetrics.fetchWaitTime)
    }
  }
}
