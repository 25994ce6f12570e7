package graft

import graft.core.{CandleDuration, FunctionCall, TimeBucketKey}
import org.apache.spark.sql.functions._

/** Pure-core units: TBK parsing, timeframe algebra, function-call
  * parsing. Expectations mirror the reference semantics
  * (utils/timeframe_test.go, sqlparser/registry.go tests).
  */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("TimeBucketKey parse/expand") {
    val k = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    assert(k == TimeBucketKey("AAPL", "1Min", "OHLCV"))
    assert(TimeBucketKey.expand("A,B/1H/TICK").map(_.symbol) == Seq("A", "B"))
    assertThrows[IllegalArgumentException](TimeBucketKey.parse("AAPL/1Min"))
  }

  test("CandleDuration parse + divisibility + queryable selection") {
    assert(CandleDuration.parse("5Min").fixedSeconds.contains(300L))
    assert(CandleDuration.parse("4H").divisibleBy(CandleDuration.parse("1H")))
    assert(!CandleDuration.parse("4H").divisibleBy(CandleDuration.parse("3H")))
    assert(CandleDuration.parse("1D").divisibleBy(CandleDuration.parse("5Min")))
    assert(CandleDuration.parse("1M").divisibleBy(CandleDuration.parse("1D")))
    // widest divisor wins: 4H from {1Min, 1H} → 1H (timeframe.go:189-197)
    val q = CandleDuration.queryable(
      CandleDuration.parse("4H"),
      Seq("1Min", "1H", "3H").map(CandleDuration.parse))
    assert(q.map(_.string).contains("1H"))
    assert(CandleDuration.scaleLimit(
      CandleDuration.parse("4H"), CandleDuration.parse("1H"), 10) == 40)
  }

  test("truncate: fixed, week, month grids") {
    // 2024-01-10 13:47:05 = 1704894425
    val df = Seq(1704894425L).toDF("e")
    def t(tf: String) = df.select(CandleDuration.parse(tf).truncate(col("e"))).head.getLong(0)
    assert(t("1Min") == 1704894420L)
    assert(t("5Min") == 1704894300L)
    assert(t("1H") == 1704891600L) // 2024-01-10 13:00
    assert(t("1D") == 1704844800L) // 2024-01-10 00:00
    assert(t("1W") == 1704672000L) // Monday 2024-01-08
    assert(t("1M") == 1704067200L) // 2024-01-01
    assert(t("1Y") == 1704067200L)
  }

  test("ceil is exclusive window end") {
    val df = Seq(1704894425L).toDF("e")
    def c(tf: String) = df.select(CandleDuration.parse(tf).ceil(col("e"))).head.getLong(0)
    assert(c("1D") == 1704844800L + 86400L)
    assert(c("1M") == 1706745600L) // 2024-02-01
  }

  test("FunctionCall parse: init args, positional, named (registry.go:116-157)") {
    val fc = FunctionCall.parse("candlecandler('5Min', Open, High, Low, Close, Sum::Volume)")
    assert(fc.name == "candlecandler")
    assert(fc.initArgs == Seq("5Min"))
    assert(fc.positional == Seq("Open", "High", "Low", "Close"))
    assert(fc.named == Seq(("Sum", "Volume")))
    val m = fc.argMap(Seq("Open", "High", "Low", "Close"))
    assert(m("Open") == Seq("Open") && m("Sum") == Seq("Volume"))
  }

  test("FunctionCall: last required param absorbs remainder (candler.go:355-385)") {
    val fc = FunctionCall.parse("tickcandler('1Min', Bid, Ask)")
    val m = fc.argMap(Seq("CandlePrice"))
    assert(m("CandlePrice") == Seq("Bid", "Ask"))
  }

  test("FsOps.createExclusive: storage errors surface; only already-exists is a lost slot") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
    val conf = new org.apache.hadoop.conf.Configuration()
    def rawFs = {
      val f = new RawLocalFileSystem()
      f.initialize(java.net.URI.create("file:///"), conf)
      f
    }
    // FilterFileSystem shape dodges FsOps's local-path nio branch, so
    // these exercise the generic (HDFS/object-store) create path
    class Failing(e: java.io.IOException) extends FilterFileSystem(rawFs) {
      override def create(
          f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short,
          blockSize: Long, progress: org.apache.hadoop.util.Progressable)
          : org.apache.hadoop.fs.FSDataOutputStream = throw e
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-fsops").toString
    val p = new Path(s"$dir/slot")
    // a transient storage error must THROW, not masquerade as a lost
    // race (a caller would no-op a compaction or misdiagnose a refresh
    // abort as "another publisher holds the seal")
    val err = intercept[java.io.IOException] {
      graft.core.FsOps.createExclusive(
        new Failing(new java.io.IOException("disk on fire")), p, "x")
    }
    assert(err.getMessage == "disk on fire")
    // the FS's documented already-exists failure IS a lost slot
    assert(!graft.core.FsOps.createExclusive(
      new Failing(new org.apache.hadoop.fs.FileAlreadyExistsException("taken")), p, "x"))
    // a bare IOException with the slot demonstrably occupied: lost slot,
    // and the winner's bytes stay untouched
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/slot"), "winner")
    assert(!graft.core.FsOps.createExclusive(
      new Failing(new java.io.IOException("exists")), p, "x"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/slot")) == "winner")
    // happy path through the generic branch: first create wins, second
    // loses cleanly on the FS's own already-exists refusal
    val p2 = new Path(s"$dir/slot2")
    val plain = new FilterFileSystem(rawFs)
    assert(graft.core.FsOps.createExclusive(plain, p2, "body"))
    assert(!graft.core.FsOps.createExclusive(plain, p2, "other"))
    // a write failure AFTER the create surfaces — and must not leave a
    // torn (empty) file occupying the slot: an unparseable protocol
    // file (e.g. an empty seal) would otherwise wedge later contenders
    class TornWrite extends FilterFileSystem(rawFs) {
      override def create(
          f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short,
          blockSize: Long, progress: org.apache.hadoop.util.Progressable)
          : org.apache.hadoop.fs.FSDataOutputStream = {
        super.create(f, permission, overwrite, bufferSize, replication,
          blockSize, progress).close() // the slot file now exists on disk
        new org.apache.hadoop.fs.FSDataOutputStream(new java.io.OutputStream {
          override def write(b: Int): Unit =
            throw new java.io.IOException("torn write")
        }, null)
      }
    }
    val p3 = new Path(s"$dir/slot3")
    val torn = intercept[java.io.IOException] {
      graft.core.FsOps.createExclusive(new TornWrite, p3, "x")
    }
    assert(torn.getMessage == "torn write")
    assert(!rawFs.exists(p3), "a failed write must not leave a torn slot file")
    // the occupied-slot probe runs against the SAME store that just
    // failed the create: if the probe throws too, the ORIGINAL create
    // failure must surface — not the probe's unrelated error (a thrown
    // match guard would otherwise replace it)
    class Dying extends FilterFileSystem(rawFs) {
      override def create(
          f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short,
          blockSize: Long, progress: org.apache.hadoop.util.Progressable)
          : org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("store sick: create failed")
      override def exists(f: Path): Boolean =
        throw new java.io.IOException("store sick: probe failed too")
    }
    val sick = intercept[java.io.IOException] {
      graft.core.FsOps.createExclusive(new Dying, new Path(s"$dir/slot4"), "x")
    }
    assert(sick.getMessage == "store sick: create failed",
      s"the original create failure must surface, got: ${sick.getMessage}")
  }

  test("one session factory: the test session is GraftSession's, and only GraftSession builds sessions") {
    // every option GraftSession.builder sets (master and shuffle
    // partitions at SparkSpec's 4 cores) is live on the test session
    val b = GraftSession.builder("local[4]", 4)
    val shipped = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]]
    assert(shipped.contains("spark.sql.legacy.parquet.nanosAsLong"))
    for ((k, v) <- shipped)
      assert(spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k)).contains(v), k)
    // ... with the engine's SQL functions registered
    for (f <- Seq("cosine_sim", "ema_w"))
      assert(spark.catalog.functionExists(f), f)
    // no other source file builds a session of its own
    val call = Seq("SparkSession", "builder()").mkString(".")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val files = scalaFiles(new java.io.File("src"))
    assert(files.exists(_.getName == "GraftSession.scala"), "run from the project root")
    val builders = files.filter(f => f.getName != "GraftSession.scala" &&
      java.nio.file.Files.readString(f.toPath).contains(call))
    assert(builders.isEmpty, builders.mkString(", "))
  }
}
