package graft

import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import graft.sql.SqlService
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Marketstore SQL dialect goldens, mirroring
  * reference sqlparser/all_test.go:119-184 (range select with the
  * date-literal formats, impossible predicate → 0 rows, nested
  * predicate, SELECT *, INSERT INTO from SELECT, count(*) with integer
  * epoch) plus the date-literal format matrix of CoerceToNumeric.
  */
class SqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): (BucketCatalog, SqlService) = {
    val root = Files.createTempDirectory("graft-sql").toString
    val cat = new BucketCatalog(spark, root)
    (cat, new SqlService(spark, Some(cat)))
  }

  private val ohlcv = StructType(Seq(
    StructField("Epoch", LongType), StructField("Open", DoubleType),
    StructField("Close", DoubleType)))

  // 2000-01-05 12:00:00 UTC = 947073600; one bar per minute for 120 min
  private val t0 = 947073600L

  private def seedBars(cat: BucketCatalog): Unit = {
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, (0 until 120).map(i => (t0 + i * 60L, 10.0 + i, 10.5 + i))
      .toDF("Epoch", "Open", "Close"))
  }

  test("range SELECT with date literals (all_test.go:119-127 shape)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    // 12:30..13:00 inclusive → 31 one-minute bars
    val rows = svc.sql(
      """SELECT Epoch, Open, Close FROM `AAPL/1Min/OHLCV`
         WHERE Epoch BETWEEN '2000-01-05-12:30' AND '2000-01-05-13:00';""").collect()
    assert(rows.length == 31)
    val strict = svc.sql(
      """SELECT Epoch FROM `AAPL/1Min/OHLCV`
         WHERE Epoch > '2000-01-05-12:30' AND Epoch < '2000-01-05-13:00'""").collect()
    assert(strict.length == 29)
  }

  test("impossible predicate returns 0 rows, no error (all_test.go:138-146)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val rows = svc.sql(
      """SELECT Epoch FROM `AAPL/1Min/OHLCV`
         WHERE Epoch < '2000-01-05-12:30' AND Epoch > '2000-01-05-13:00'""").collect()
    assert(rows.isEmpty)
  }

  test("nested predicate with column + epoch conditions (all_test.go:149-157)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val rows = svc.sql(
      """SELECT Epoch, Open FROM `AAPL/1Min/OHLCV`
         WHERE Open > 40.5 AND (Epoch > '2000-01-05-12:30' AND Epoch < '2000-01-05-13:00')""").collect()
    // minutes 31..59 have Open 41..69; Open > 40.5 keeps all 29
    assert(rows.length == 29)
    assert(rows.map(_.getAs[Double]("Open")).min == 41.0)
  }

  test("SELECT * keeps bucket payload columns (all_test.go:160-168)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val df = svc.sql(
      """SELECT * FROM `AAPL/1Min/OHLCV`
         WHERE Epoch BETWEEN '2000-01-05-12:30' AND '2000-01-05-13:00'""")
    assert(df.columns.contains("Open") && df.columns.contains("Close"))
    assert(df.count() == 31)
  }

  test("INSERT INTO bucket SELECT ... writes through the catalog (all_test.go:171-179)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val dest = TimeBucketKey.parse("AAPL/30Min/OHLCV")
    cat.create(dest, ohlcv, isVariable = false)
    val res = svc.sql(
      """INSERT INTO `AAPL/30Min/OHLCV`
         SELECT Epoch, Open, Close FROM `AAPL/1Min/OHLCV`
         WHERE Epoch BETWEEN '2000-01-05-12:30' AND '2000-01-05-13:00'""").collect()
    // reference response shape: one row of (Epoch = now, "Rows Written")
    // (insertintostatement.go:117-123)
    assert(res.length == 1 && res.head.getAs[Float]("Rows Written") == 31.0f)
    assert(svc.sql("SELECT * FROM `AAPL/30Min/OHLCV`").count() == 31)
  }

  test("INSERT ... SELECT evaluates its SELECT once, in-batch duplicate keys included") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val evaluated = spark.sparkContext.longAccumulator("insert-select-rows")
    spark.udf.register("count_select_row", (e: Long) => { evaluated.add(1); e })
    cat.create(TimeBucketKey.parse("AAPL/1Min/ONCE"), ohlcv, isVariable = false)
    // 120 bars plus a second copy of the last 30 with a higher Open:
    // 150 input rows over 120 keys
    val insert =
      s"""INSERT INTO `AAPL/1Min/ONCE`
          SELECT count_select_row(Epoch) AS Epoch, Open, Close FROM (
            SELECT Epoch, Open, Close FROM `AAPL/1Min/OHLCV`
            UNION ALL
            SELECT Epoch, Open + 100 AS Open, Close FROM `AAPL/1Min/OHLCV`
            WHERE Epoch >= ${t0 + 90 * 60})"""
    // first INSERT creates the partition; the second overlaps every
    // key, so it takes the merge path
    for (round <- Seq("new partition", "merge")) {
      evaluated.reset()
      val res = svc.sql(insert).collect()
      assert(res.head.getAs[Float]("Rows Written") == 150.0f, round)
      assert(evaluated.value == 150L, s"$round: the SELECT ran over ${evaluated.value} rows")
      val back = svc.sql("SELECT Epoch, Open FROM `AAPL/1Min/ONCE` ORDER BY Epoch").collect()
      assert(back.length == 120, round)
      assert(back.last.getAs[Double]("Open") == 10.0 + 119 + 100, round)
    }
  }

  test("INSERT with a column list maps select aliases onto destination columns") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val dest = TimeBucketKey.parse("AAPL/5Min/OHLCV")
    cat.create(dest, ohlcv, isVariable = false)
    // select emits extra/reordered columns; the list picks and orders
    // (insertintostatement.go:62-100 alias mapping)
    svc.sql(
      """INSERT INTO `AAPL/5Min/OHLCV` (Epoch, Open, Close)
         SELECT Close, Epoch, Open, Open * 2 AS Doubled FROM `AAPL/1Min/OHLCV`
         WHERE Epoch BETWEEN '2000-01-05-12:30' AND '2000-01-05-12:35'""").collect()
    val back = svc.sql(
      "SELECT Epoch, Open, Close FROM `AAPL/5Min/OHLCV` ORDER BY Epoch").collect()
    assert(back.length == 6)
    assert(back.head.getAs[Double]("Open") == 40.0) // minute 30's Open
    assert(back.head.getAs[Double]("Close") == 40.5)
  }

  test("INSERT missing destination columns errors with the residue") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val dest = TimeBucketKey.parse("AAPL/10Min/OHLCV")
    cat.create(dest, ohlcv, isVariable = false)
    val e = intercept[IllegalArgumentException] {
      svc.sql(
        """INSERT INTO `AAPL/10Min/OHLCV`
           SELECT Epoch, Open FROM `AAPL/1Min/OHLCV`""").collect()
    }
    assert(e.getMessage.contains("Close"))
  }

  test("count(*) with integer epoch literal (all_test.go:182-189)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val n = svc.sql(
      s"""SELECT count(*) AS cnt FROM `AAPL/1Min/OHLCV` WHERE Epoch < $t0""").collect()
    assert(n.head.getLong(0) == 0L)
  }

  test("UDA call as the select list routes through the function registry (selectrelation.go:466-584)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val candles = svc.sql(
      """SELECT candlecandler('30Min', Open, Open, Open, Close)
         FROM `AAPL/1Min/OHLCV`
         WHERE Epoch BETWEEN '2000-01-05-12:00' AND '2000-01-05-13:00'""")
      .orderBy("Epoch").collect()
    // 12:00..13:00 inclusive start bars → 30Min windows at 12:00, 12:30, 13:00
    assert(candles.length == 3)
    assert(candles.head.getAs[Double]("Open") == 10.0)
    assert(candles.head.getAs[Double]("Close") == 39.5) // close of 12:29 bar
    // scalar UDA: reference's count outputs (Epoch = now, Count)
    // (uda/count/count.go:65-74)
    val cnt = svc.sql("SELECT count(*) FROM `AAPL/1Min/OHLCV` WHERE Epoch >= '2000-01-05'")
    assert(cnt.columns.toSeq == Seq("Epoch", "Count"))
    assert(cnt.collect().head.getAs[Long]("Count") == 120L)
  }

  test("vwap UDA through the SQL front: SELECT vwap('1H', Close, Open)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val out = svc.sql("SELECT vwap('1H', Close, Open) FROM `AAPL/1Min/OHLCV`")
      .orderBy("Epoch").collect()
    assert(out.length == 2) // 120 minutes → two 1H buckets
    val expect = (0 until 60).map(i => (10.5 + i) * (10.0 + i)).sum /
      (0 until 60).map(i => 10.0 + i).sum
    assert(math.abs(out.head.getAs[Double]("VWAP") - expect) < 1e-9)
    assert(out.head.getAs[Long]("N") == 60L)
  }

  test("ema UDA through the SQL front: SELECT ema('3', Close)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val out = svc.sql("SELECT ema('3', Close) FROM `AAPL/1Min/OHLCV`")
      .orderBy("Epoch").collect()
    assert(out.length == 120)
    // α = 0.5: seed 10.5, then 0.5·11.5 + 0.5·10.5 = 11.0
    assert(out(0).getAs[Double]("EMA") == 10.5)
    assert(out(1).getAs[Double]("EMA") == 11.0)
  }

  test("superset: joins and ORDER BY across TBK views (reference rejects both)") {
    // the reference errors on Join and ORDER BY
    // (executablestatement.go:194-200, :182-186); Spark SQL executes them
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val tbk2 = TimeBucketKey.parse("AAPL/1Min/SIGNAL")
    cat.create(tbk2, StructType(Seq(
      StructField("Epoch", LongType), StructField("Score", DoubleType))), isVariable = false)
    cat.write(tbk2, Seq((t0, 0.9), (t0 + 60, 0.1)).toDF("Epoch", "Score"))
    val rows = svc.sql(
      """SELECT b.Epoch, b.Open, s.Score
         FROM `AAPL/1Min/OHLCV` b JOIN `AAPL/1Min/SIGNAL` s ON b.Epoch = s.Epoch
         WHERE b.Epoch >= '2000-01-05'
         ORDER BY s.Score DESC""").collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[Double]("Score") == 0.9)
    assert(rows.head.getAs[Double]("Open") == 10.0)
  }

  test("unknown table errors (all_test.go TestStatementErrors)") {
    val (_, svc) = freshCatalog()
    intercept[Exception] {
      svc.sql("SELECT * FROM `foo/bar/baz`").collect()
    }
  }

  test("EXPLAIN returns the parse tree as one JSON column (explainstatement.go:21-26)") {
    val (cat, svc) = freshCatalog(); seedBars(cat)
    val plan = svc.sql("EXPLAIN SELECT Epoch FROM `AAPL/1Min/OHLCV` WHERE Epoch > '2000-01-05'")
    assert(plan.columns.toSeq == Seq("explain-output"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(plan.head.getString(0))
    assert(node.get("Type").asText() == "SelectStatement")
    assert(node.get("Tables").get(0).asText() == "AAPL/1Min/OHLCV")
    assert(node.get("QueryText").asText().contains("SELECT Epoch"))
    // INSERT explains as its statement node, not an executed plan
    val ins = svc.sql(
      """EXPLAIN INSERT INTO `AAPL/30Min/OHLCV` (Epoch, Open)
         SELECT Epoch, Open FROM `AAPL/1Min/OHLCV`""")
    val insNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ins.head.getString(0))
    assert(insNode.get("Type").asText() == "InsertIntoStatement")
    assert(insNode.get("TableName").asText() == "AAPL/30Min/OHLCV")
    assert(insNode.get("ColumnAliases").get(1).asText() == "Open")
    // UDA select lists aren't Spark SQL — they explain as the node only
    val uda = svc.sql("EXPLAIN SELECT tickcandler('1D', Open) FROM `AAPL/1Min/OHLCV`")
    val udaNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(uda.head.getString(0))
    assert(udaNode.get("UdaCall").asText() == "tickcandler")
    assert(udaNode.get("SparkPlan") == null)
  }

  test("date literal formats parse like the reference's CoerceToNumeric") {
    import SqlService.parseDateLiteralNs
    assert(parseDateLiteralNs("2000-01-05").contains(947030400L * 1000000000L))
    assert(parseDateLiteralNs("2000-01-05-12:30").contains((947030400L + 45000) * 1000000000L))
    assert(parseDateLiteralNs("2000-01-05-12:30:15").contains((947030400L + 45015) * 1000000000L))
    assert(parseDateLiteralNs("2000-01-05-12:30:15.12345678")
      .contains((947030400L + 45015) * 1000000000L + 123456780L))
    assert(parseDateLiteralNs("2000-01-05-12:30:15 UTC").contains((947030400L + 45015) * 1000000000L))
    assert(parseDateLiteralNs("not-a-date").isEmpty)
  }

  test("nanosecond-precision epoch compare on variable buckets") {
    val (cat, svc) = freshCatalog()
    val tbk = TimeBucketKey.parse("TEST/1Sec/TICK")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
      StructField("Bid", DoubleType))), isVariable = true)
    cat.write(tbk, Seq(
      (947073600L, 100000000, 1.0), (947073600L, 900000000, 2.0), (947073601L, 0, 3.0))
      .toDF("Epoch", "Nanoseconds", "Bid"))
    // 12:00:00.12345678 cuts between the two sub-second ticks
    val rows = svc.sql(
      """SELECT Bid FROM `TEST/1Sec/TICK`
         WHERE Epoch > '2000-01-05-12:00:00.12345678'""").collect()
    assert(rows.map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 3.0))
  }

  test("TbkSql: graft.`SYM/TF/AG` resolves as a plain Spark SQL table identifier") {
    val (cat, _) = freshCatalog()
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLC")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, (1 to 60).map(i => (t0 + i * 60L, i.toDouble, i + 0.5))
      .toDF("Epoch", "Open", "Close"))
    val tbk2 = TimeBucketKey.parse("MSFT/1Min/OHLC")
    cat.write(tbk2, (1 to 60).map(i => (t0 + i * 60L, 100.0 + i, 100.5 + i))
      .toDF("Epoch", "Open", "Close"))
    val s2 = graft.sql.TbkSql.enable(spark, cat)
    // plain SELECT with a range predicate — no view registration step
    val got = s2.sql(
      s"""SELECT Epoch, Close FROM graft.`AAPL/1Min/OHLC`
          WHERE Epoch >= ${t0 + 58 * 60} ORDER BY Epoch""").collect()
    assert(got.map(_.getDouble(1)).toSeq == Seq(58.5, 59.5, 60.5))
    // the identifiers work as first-class relations: a join of two TBKs
    val j = s2.sql(
      s"""SELECT a.Epoch, b.Open - a.Open AS spread
          FROM graft.`AAPL/1Min/OHLC` a JOIN graft.`MSFT/1Min/OHLC` b USING (Epoch)
          WHERE a.Epoch = ${t0 + 60}""").collect()
    assert(j.length == 1 && j.head.getDouble(1) == 100.0, j.mkString(","))
    // ...and inside a subquery
    val sq = s2.sql(
      """SELECT count(*) AS n FROM (
           SELECT Epoch FROM graft.`AAPL/1Min/OHLC` WHERE Open <= 5)""").collect()
    assert(sq.head.getLong(0) == 5L)
    // unknown catalog names still error the normal Spark way
    intercept[Exception] { s2.sql("SELECT * FROM nograft.`A/B/C`").collect() }
  }

  test("TbkSql: SQL-resolved plans keep Epoch pushdown and column pruning") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (cat, _) = freshCatalog()
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLC")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, (1 to 100).map(i => (i * 60L, i.toDouble, i + 0.5))
      .toDF("Epoch", "Open", "Close"))
    val s2 = graft.sql.TbkSql.enable(spark, cat)
    val q = s2.sql(
      "SELECT Open FROM graft.`AAPL/1Min/OHLC` WHERE Epoch >= 600 AND Epoch <= 1200")
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no parquet scan in the SQL-resolved plan")
    val meta = scans.head.metadata
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(Epoch,600)") &&
      meta("PushedFilters").contains("LessThanOrEqual(Epoch,1200)"),
      s"Epoch range not pushed: ${meta("PushedFilters")}")
    assert(meta("ReadSchema").contains("Open") && !meta("ReadSchema").contains("Close"),
      s"column pruning failed: ${meta("ReadSchema")}")
  }

  test("sargable date rewrite: the added Epoch conjunct never changes semantics") {
    // exhaustive boundary grid: the rewrite emits `nsExpr op v AND
    // Epoch bound` where the bound must be IMPLIED by the ns compare
    // (0 <= Nanoseconds < 1e9). Check every op against a directly
    // computed ns filter on rows straddling the literal second,
    // including NOT-wrapped predicates (a AND b ≡ a requires a ⇒ b).
    val litNs = 947030400L * 1000000000L // '2000-01-05'
    val litS = 947030400L
    val rows = for {
      e <- Seq(litS - 1, litS, litS + 1)
      n <- Seq(0, 1, 500000000, 999999999)
    } yield (e, n, s"$e.$n")
    val df = rows.toDF("Epoch", "Nanoseconds", "tag")
    val svc = new SqlService(spark)
    svc.mount("G/1Sec/GRID", df)
    def viaSql(where: String): Set[String] =
      svc.sql(s"SELECT tag FROM `G/1Sec/GRID` WHERE $where")
        .collect().map(_.getString(0)).toSet
    def direct(p: (Long, Int) => Boolean): Set[String] =
      rows.collect { case (e, n, t) if p(e, n) => t }.toSet
    def ns(e: Long, n: Int): Long = e * 1000000000L + n
    assert(viaSql("Epoch > '2000-01-05'") == direct((e, n) => ns(e, n) > litNs))
    assert(viaSql("Epoch >= '2000-01-05'") == direct((e, n) => ns(e, n) >= litNs))
    assert(viaSql("Epoch < '2000-01-05'") == direct((e, n) => ns(e, n) < litNs))
    assert(viaSql("Epoch <= '2000-01-05'") == direct((e, n) => ns(e, n) <= litNs))
    assert(viaSql("Epoch = '2000-01-05'") == direct((e, n) => ns(e, n) == litNs))
    assert(viaSql("Epoch != '2000-01-05'") == direct((e, n) => ns(e, n) != litNs))
    assert(viaSql("NOT Epoch >= '2000-01-05'") == direct((e, n) => !(ns(e, n) >= litNs)))
    assert(viaSql("NOT Epoch BETWEEN '2000-01-05' AND '2000-01-05'") ==
      direct((e, n) => !(ns(e, n) >= litNs && ns(e, n) <= litNs)))
    assert(viaSql("Epoch BETWEEN '2000-01-05' AND '2000-01-05'") ==
      direct((e, n) => ns(e, n) >= litNs && ns(e, n) <= litNs))
    // sub-second literal: the bound floor(v/1e9) sits INSIDE the second
    val frac = "'2000-01-05-00:00:00.50000000'" // litNs + 5e8
    assert(viaSql(s"Epoch >= $frac") == direct((e, n) => ns(e, n) >= litNs + 500000000L))
    assert(viaSql(s"Epoch < $frac") == direct((e, n) => ns(e, n) < litNs + 500000000L))
  }
}
