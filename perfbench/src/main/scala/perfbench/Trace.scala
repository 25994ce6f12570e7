package perfbench

import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.jdk.CollectionConverters._

/** A timed interval around a call into one layer. Times are
  * `System.nanoTime`; `parent` is the enclosing span on the same thread
  * (0 for none). Listener-built spans carry their numbers in `attrs`.
  */
final case class Span(name: String, id: Long, parent: Long, start: Long, end: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans are kept only while [[enabled]] is set,
  * so the untraced run pays one volatile read per wrapped call.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val recorded = new ConcurrentLinkedQueue[Span]()

  // wall-clock ms (Spark listener times) → the nanoTime domain of spans
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromWallMs(ms: Long): Long = ms * 1000000L - wallOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(name, id, outer.headOption.getOrElse(0L), t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def add(name: String, start: Long, end: Long, attrs: Map[String, Any]): Unit =
    if (enabled) recorded.add(Span(name, ids.incrementAndGet(), 0L, start, end, attrs))

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.start)

  /** Module of the engine a Spark job was launched from, by the file of
    * its short call site ("collect at RpcServer.scala:420").
    */
  def moduleOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != '.')
    file match {
      case "RpcServer" | "NumpyCodec" => "wire"
      case "QueryService" => "api"
      case "SqlService" | "TbkSql" => "sql"
      case "BucketCatalog" => "catalog"
      case "DownsampleCascade" => "streaming"
      case _ => "other"
    }
  }

  /** Records one span per Spark job, with its stages' and tasks' totals.
    * A job launched for a SQL execution takes the call site of the action
    * that started the execution: adaptive execution submits its stages
    * from Spark's own thread pool, where no engine frame is on the stack.
    */
  final class JobListener extends SparkListener {
    private final class Acc(val start: Long, val site: String) {
      var stages = 0; var tasks = 0
      var cpuNs = 0L; var schedDelayMs = 0L; var inputBytes = 0L; var shuffleBytes = 0L
    }
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
        execSite.put(x.executionId, x.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      // otherwise the result stage is named after the job's call site
      val result = e.stageInfos.maxBy(_.stageId)
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong))).getOrElse(result.name)
      jobs.put(e.jobId, new Acc(fromWallMs(e.time), site))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(a => a.synchronized { a.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
        a.synchronized {
          a.tasks += 1
          Option(stageSubmit.get(e.stageId)).foreach(s =>
            a.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s))
          Option(e.taskMetrics).foreach { m =>
            a.cpuNs += m.executorCpuTime
            a.inputBytes += m.inputMetrics.bytesRead
            a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { a =>
        add("spark.job", a.start, fromWallMs(e.time), Map(
          "site" -> a.site, "module" -> moduleOf(a.site), "stages" -> a.stages, "tasks" -> a.tasks,
          "cpu_ms" -> a.cpuNs / 1e6, "sched_delay_ms" -> a.schedDelayMs.toDouble,
          "input_bytes" -> a.inputBytes, "shuffle_bytes" -> a.shuffleBytes))
      }
  }

  /** Records the analysis, optimization and planning phases of every
    * query execution that ran an action.
    */
  final class PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"sql.$phase", fromWallMs(s.startTimeMs), fromWallMs(s.endTimeMs), Map.empty)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** Process-wide counts of filesystem calls made through [[CountingLocalFs]]. */
object FsCounts {
  val Ops: IndexedSeq[String] =
    IndexedSeq("create", "rename", "delete", "mkdirs", "list_status", "open", "get_file_status")
  private val counts = new AtomicLongArray(Ops.size)
  /** The filesystem's own byte counters, shared by every instance. */
  @volatile var statistics: org.apache.hadoop.fs.FileSystem.Statistics = _
  def inc(op: Int): Unit = { counts.incrementAndGet(op); () }
  /** Counts per op of [[Ops]], then bytes written. */
  def snapshot(): IndexedSeq[Long] =
    Ops.indices.map(counts.get) :+ Option(statistics).map(_.getBytesWritten).getOrElse(0L)
}

/** The raw local filesystem with a count of every call the engine makes,
  * installed as `fs.file.impl`. Counting is always on: it costs one atomic
  * increment per call, against a system call per call.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    FsCounts.statistics = statistics
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.inc(0)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.inc(0)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.inc(0)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { FsCounts.inc(3); super.mkdirs(f) }
  override def rename(src: Path, dst: Path): Boolean = { FsCounts.inc(1); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { FsCounts.inc(2); super.delete(p, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { FsCounts.inc(3); super.mkdirs(f, permission) }
  override def listStatus(f: Path): Array[FileStatus] = { FsCounts.inc(4); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { FsCounts.inc(5); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { FsCounts.inc(6); super.getFileStatus(f) }
}

/** The engine's catalog with a span around each public read call and each
  * multi-symbol commit; every call delegates to the engine's own
  * implementation.
  */
class TracingCatalog(spark: SparkSession, root: String) extends BucketCatalog(spark, root) {
  override def listSymbols(ag: String): Seq[String] =
    Trace.span("catalog.listSymbols")(super.listSymbols(ag))
  override def listTimeframesBySymbol(ag: String): Map[String, Set[String]] =
    Trace.span("catalog.listTimeframesBySymbol")(super.listTimeframesBySymbol(ag))
  override def readMulti(ag: String, tf: String): DataFrame =
    Trace.span("catalog.readMulti")(super.readMulti(ag, tf))
  override def readMulti(ag: String, tf: String, symbols: Seq[String]): DataFrame =
    Trace.span("catalog.readMulti")(super.readMulti(ag, tf, symbols))
  override def read(tbk: TimeBucketKey): DataFrame =
    Trace.span("catalog.read")(super.read(tbk))
  override def writeMulti(ag: String, tf: String, df: DataFrame): Unit =
    Trace.span("catalog.writeMulti")(super.writeMulti(ag, tf, df))
  override def writeMultiTf(ag: String, df: DataFrame): Unit =
    Trace.span("catalog.writeMultiTf")(super.writeMultiTf(ag, df))
}
