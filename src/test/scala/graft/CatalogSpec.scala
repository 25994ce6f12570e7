package graft

import graft.api.{QueryRequest, QueryService}
import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import graft.operators.TimeSeries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Bucket storage + query service round-trips, re-encoding the
  * reference's integration semantics: slot overwrite for FIXED
  * (executor/writer.go WriteCSM), unsorted-write → sorted-read for
  * VARIABLE (test_ticks_1sec_timeframe.py:432,480), LAST-n limits,
  * wildcard symbol expansion, timeframe substitution.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-cat").toString

  private val ohlcv = StructType(Seq(
    StructField("Epoch", LongType), StructField("Open", DoubleType),
    StructField("Close", DoubleType)))

  test("fixed bucket: write, read back time-ordered, slot overwrite") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, Seq((120L, 2.0, 2.5), (60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    val got = cat.read(tbk).select("Epoch", "Open").orderBy("Epoch").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(60L, 120L))
    // second write to same epoch overwrites the slot (fixed-record semantics)
    cat.write(tbk, Seq((60L, 9.0, 9.5)).toDF("Epoch", "Open", "Close"))
    val after = cat.read(tbk).orderBy("Epoch").collect()
    assert(after.length == 2)
    assert(after(0).getAs[Double]("Open") == 9.0)
  }

  test("variable bucket: unsorted multi-row-per-second write reads back sorted") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("TEST/1Sec/Tick")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
      StructField("Bid", DoubleType))), isVariable = true)
    cat.write(tbk, Seq((100L, 900, 3.0), (100L, 100, 1.0), (99L, 500, 0.5), (100L, 500, 2.0))
      .toDF("Epoch", "Nanoseconds", "Bid"))
    val got = TimeSeries.limit(cat.read(tbk), 10, fromStart = true).collect()
    assert(got.map(_.getAs[Double]("Bid")).toSeq == Seq(0.5, 1.0, 2.0, 3.0))
    // same (Epoch, Nanoseconds) key overwrites; distinct nanos appends
    cat.write(tbk, Seq((100L, 100, 7.0), (100L, 700, 9.0)).toDF("Epoch", "Nanoseconds", "Bid"))
    val after = TimeSeries.limit(cat.read(tbk), 10, fromStart = true).collect()
    assert(after.map(_.getAs[Double]("Bid")).toSeq == Seq(0.5, 7.0, 2.0, 9.0, 3.0))
    // a second symbol of the variable group lists beside the first
    cat.write(TimeBucketKey.parse("TEST2/1Sec/Tick"),
      Seq((100L, 200, 4.0)).toDF("Epoch", "Nanoseconds", "Bid"))
    assert(cat.listSymbols("Tick") == Seq("TEST", "TEST2"))
  }

  test("catalog: listSymbols, destroy, getInfo") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("AAPL/1Min/OHLCV"), ohlcv, isVariable = false)
    cat.write(TimeBucketKey.parse("AAPL/1Min/OHLCV"), Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    cat.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"), Seq((60L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    assert(cat.listSymbols("OHLCV") == Seq("AAPL", "MSFT"))
    val (schema, variable) = cat.getInfo("OHLCV")
    assert(!variable && schema.fieldNames.contains("Open"))
    cat.destroy(TimeBucketKey.parse("AAPL/1Min/OHLCV"))
    assert(cat.listSymbols("OHLCV") == Seq("MSFT"))
    cat.destroy(TimeBucketKey.parse("MSFT/1Min/OHLCV"))
    assert(cat.listSymbols("OHLCV").isEmpty)
  }

  test("listTimeframesBySymbol ≡ per-symbol listTimeframes (manifest + replica root)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    // heterogeneous stored-TF sets across symbols
    val stored = Seq("AAPL" -> Seq("1Min", "5Min"), "MSFT" -> Seq("1Min"), "GOOG" -> Seq("1D"))
    for ((sym, tfs) <- stored; tf <- tfs)
      cat.write(TimeBucketKey.parse(s"$sym/$tf/OHLCV"),
        Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    // the same groups on a replica root: no manifest there, so every
    // listing answers from the pre-manifest distinct scans
    val replicaRoot = freshRoot()
    new graft.catalog.ReplicaSync(spark, root, replicaRoot).sync()
    val replica = new BucketCatalog(spark, replicaRoot)
    assert(replica.liveFiles("OHLCV").isEmpty)
    for ((c, name) <- Seq(cat -> "manifest", replica -> "replica")) {
      val bulk = c.listTimeframesBySymbol("OHLCV")
      assert(bulk == stored.toMap.view.mapValues(_.toSet).toMap, name)
      for (s <- bulk.keySet)
        assert(bulk(s) == c.listTimeframes("OHLCV", s).toSet, s"$name symbol $s")
      for ((sym, tfs) <- stored; tf <- tfs)
        assert(c.latestYear(TimeBucketKey.parse(s"$sym/$tf/OHLCV")).contains(1970),
          s"$name $sym/$tf")
      assert(c.latestYear(TimeBucketKey.parse("AAPL/1D/OHLCV")).isEmpty, name)
      assert(c.listTimeframesBySymbol("NOPE").isEmpty, name)
    }
  }

  test("query service: range + projection + LAST limit + wildcard") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, (1 to 10).map(i => (i * 60L, i.toDouble, i + 0.5)).toDF("Epoch", "Open", "Close"))
    cat.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"),
      (1 to 3).map(i => (i * 60L, 100.0 + i, 0.0)).toDF("Epoch", "Open", "Close"))
    val svc = new QueryService(cat)
    val res = svc.query(QueryRequest(
      destination = "*/1Min/OHLCV", epochStart = 120L, epochEnd = 540L,
      columns = Seq("Open"), limit = Some(3), limitFromStart = false))
    assert(res.keySet == Set("AAPL/1Min/OHLCV", "MSFT/1Min/OHLCV"))
    val aapl = res("AAPL/1Min/OHLCV").collect()
    assert(aapl.map(_.getAs[Double]("Open")).toSeq == Seq(7.0, 8.0, 9.0)) // last 3 in range
    assert(aapl.head.schema.fieldNames.toSeq == Seq("Epoch", "Open"))
  }

  test("query service: timeframe substitution serves 2Min from 1Min with scaled limit") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, (1 to 8).map(i => (i * 60L, i.toDouble, 0.0)).toDF("Epoch", "Open", "Close"))
    val svc = new QueryService(cat)
    // request 2Min (not stored): scanned from 1Min, LIMIT 2 scaled to 4 rows
    val res = svc.query(QueryRequest(
      destination = "AAPL/2Min/OHLCV", limit = Some(2), limitFromStart = true,
      functions = Seq("candlecandler('2Min', Open, Open, Open, Close)")))
    // LIMIT 2 scaled ×2 → 4 scanned 1Min rows (epochs 60..240), which
    // straddle 3 2Min windows — limit applies BEFORE the pipeline, as
    // in the reference (frontend/query.go:322-334).
    val rows = res("AAPL/2Min/OHLCV").orderBy("Epoch").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("Epoch")).toSeq == Seq(0L, 120L, 240L))
    assert(rows.last.getAs[Double]("Open") == 4.0)
  }

  test("union keep-last (ColumnSeriesUnion, columnseries.go:343-396)") {
    val l = Seq((1L, 10.0), (2L, 20.0)).toDF("Epoch", "V")
    val r = Seq((2L, 99.0), (3L, 30.0)).toDF("Epoch", "V")
    val u = TimeSeries.unionKeepLast(l, r, Seq("Epoch")).orderBy("Epoch").collect()
    assert(u.map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("union keep-last breaks within-input duplicate keys by input position") {
    // an input that ITSELF carries duplicate keys: the later row wins,
    // matching the reference's sequential overwrite — and the result
    // is deterministic, not whichever task finished last
    val l = Seq((1L, 10.0)).toDF("Epoch", "V")
    val r = Seq((1L, 50.0), (1L, 60.0), (2L, 70.0)).toDF("Epoch", "V")
    val u = TimeSeries.unionKeepLast(l, r, Seq("Epoch")).orderBy("Epoch").collect()
    assert(u.map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((1L, 60.0), (2L, 70.0)))
    // same contract inside the LEFT input for keys the right lacks
    val l2 = Seq((5L, 1.0), (5L, 2.0)).toDF("Epoch", "V")
    val r2 = Seq((6L, 3.0)).toDF("Epoch", "V")
    val u2 = TimeSeries.unionKeepLast(l2, r2, Seq("Epoch")).orderBy("Epoch").collect()
    assert(u2.map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((5L, 2.0), (6L, 3.0)))
  }

  test("timeframe substitution uses the INTERSECTION of the symbols' stored TFs") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    // heterogeneous buckets: AAPL stores 1Min AND 2Min, MSFT only 1Min
    cat.write(TimeBucketKey.parse("AAPL/1Min/OHLCV"),
      Seq((60L, 1.0, 0.0), (120L, 2.0, 0.0)).toDF("Epoch", "Open", "Close"))
    cat.write(TimeBucketKey.parse("AAPL/2Min/OHLCV"),
      Seq((120L, 1.5, 0.0), (240L, 2.5, 0.0)).toDF("Epoch", "Open", "Close"))
    cat.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"),
      Seq((60L, 9.0, 0.0), (120L, 8.0, 0.0)).toDF("Epoch", "Open", "Close"))
    val svc = new QueryService(cat)
    // 4Min is unstored: resolving from the FIRST symbol's list alone
    // would substitute AAPL's 2Min, which MSFT doesn't store — the
    // intersection {1Min} serves both symbols
    val res = svc.queryMulti(QueryRequest(destination = "AAPL,MSFT/4Min/OHLCV"))
      .collect()
    assert(res.map(_.getAs[String]("symbol")).distinct.sorted.toSeq ==
      Seq("AAPL", "MSFT"), s"missing symbols in: ${res.mkString(",")}")
    assert(res.length == 4)
  }

  test("nanosecond-precision range filter (test_range_nanosec.py semantics)") {
    val df = Seq((10L, 100), (10L, 500), (10L, 900), (11L, 0))
      .toDF("Epoch", "Nanoseconds").withColumn("v", col("Nanoseconds"))
    val got = TimeSeries.rangeFilter(df, 10L, 200, 10L, 899).collect()
    assert(got.map(_.getAs[Int]("Nanoseconds")).toSeq == Seq(500))
  }

  test("range delete + trim (executor/delete.go, trim.go)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    // rows straddling a year boundary: 2020-12-31 23:59 + 2021 rows
    cat.write(tbk, Seq(
      (1609459140L, 1.0, 0.0), (1609459200L, 2.0, 0.0), (1609459260L, 3.0, 0.0),
      (1609459320L, 4.0, 0.0)).toDF("Epoch", "Open", "Close"))
    cat.deleteRange(tbk, 1609459200L, 0, 1609459260L)
    val left = cat.read(tbk).orderBy("Epoch").collect()
    assert(left.map(_.getAs[Double]("Open")).toSeq == Seq(1.0, 4.0))
    // other symbols untouched by a full trim of AAPL
    cat.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"),
      Seq((1609459200L, 9.0, 0.0)).toDF("Epoch", "Open", "Close"))
    cat.trim(tbk, 0L)
    assert(cat.read(tbk).count() == 0)
    assert(cat.read(TimeBucketKey.parse("MSFT/1Min/OHLCV")).count() == 1)
  }

  test("write-side type coercion + missing-column null fill (coercecolumn.go, test_coerce_column.py)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("T/1Min/COERCE")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType), StructField("Val", FloatType),
      StructField("Qty", IntegerType))), isVariable = false)
    // int column written into float bucket; Qty missing → null fill
    cat.write(tbk, Seq((60L, 7), (120L, 9)).toDF("Epoch", "Val"))
    val got = cat.read(tbk).orderBy("Epoch").collect()
    assert(got.head.getAs[Float]("Val") == 7.0f)
    assert(got.head.isNullAt(got.head.fieldIndex("Qty")))
  }

  test("STRING16 length cap rejects too-long strings (test_string16.py)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("T/1Min/S16")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType),
      StructField("Name", StringType,
        metadata = new MetadataBuilder()
          .putString("__CHAR_VARCHAR_TYPE_STRING", "varchar(16)").build()))),
      isVariable = false)
    cat.write(tbk, Seq((60L, "exactly16chars!!")).toDF("Epoch", "Name"))
    assert(cat.read(tbk).count() == 1)
    intercept[Exception] {
      cat.write(tbk, Seq((120L, "seventeen chars!!")).toDF("Epoch", "Name"))
    }
  }

  test("auto-create bucket from first write (executor/writer.go:287-320)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("NEW/1Sec/AUTO")
    cat.write(tbk, Seq((10L, 500, 1.5)).toDF("Epoch", "Nanoseconds", "Bid"))
    val (schema, variable) = cat.getInfo("AUTO")
    assert(variable) // Nanoseconds column ⇒ variable records
    assert(schema.fieldNames.toSeq == Seq("Epoch", "Nanoseconds", "Bid"))
    assert(cat.read(tbk).count() == 1)
  }

  test("column rename surface (columnseries.go:131-169)") {
    val df = Seq((1L, 10.0)).toDF("Epoch", "V")
    val r = TimeSeries.rename(df, Map("V" -> "Value"))
    assert(r.columns.toSeq == Seq("Epoch", "Value"))
    intercept[IllegalArgumentException] {
      TimeSeries.rename(df, Map("Nope" -> "X"))
    }
  }

  test("server shims: version, GetInfo shape, numpy dtype map (server.go:66-85, numpy.go:11-23)") {
    import graft.api.{NumpyTypes, ServerInfo}
    assert(ServerInfo.serverVersion().nonEmpty)
    assert(NumpyTypes.toSpark("i8") == LongType && NumpyTypes.toSpark("f4") == FloatType)
    assert(NumpyTypes.toNumpy(DoubleType) == "f8")
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    cat.create(TimeBucketKey.parse("AAPL/1Min/OHLCV"), ohlcv, isVariable = false)
    cat.write(TimeBucketKey.parse("AAPL/1Min/OHLCV"),
      Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    val info = ServerInfo.getInfo(cat, "OHLCV")
    assert(!info.isVariable)
    assert(info.dataShapes == Seq("Epoch" -> "i8", "Open" -> "f8", "Close" -> "f8"))
    assert(info.symbols == Seq("AAPL"))
    assert(info.timeframes("AAPL") == Seq("1Min"))
  }

  test("registry adjust: per-symbol CA rates through the query service (registry.go:40)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val prices = TimeBucketKey.parse("AAPL/1D/PRICES")
    cat.create(prices, StructType(Seq(
      StructField("Epoch", LongType), StructField("Close", DoubleType))), isVariable = false)
    cat.write(prices, Seq((86400L, 100.0), (2 * 86400L, 50.0)).toDF("Epoch", "Close"))
    cat.write(TimeBucketKey.parse("MSFT/1D/PRICES"),
      Seq((86400L, 10.0)).toDF("Epoch", "Close"))
    // CA bucket: AAPL 2:1 split effective day 2; MSFT untouched
    cat.create(TimeBucketKey.parse("AAPL/1D/CA"), StructType(Seq(
      StructField("Epoch", LongType), StructField("Rate", DoubleType))), isVariable = false)
    cat.write(TimeBucketKey.parse("AAPL/1D/CA"),
      Seq((2 * 86400L, 0.5)).toDF("Epoch", "Rate"))
    val svc = new QueryService(cat)
    val out = svc.queryMulti(QueryRequest(
      destination = "AAPL,MSFT/1D/PRICES", functions = Seq("adjust(Close)")))
      .orderBy("symbol", "Epoch").collect()
    // AAPL day-1 close scaled by the later split rate; day-2 and MSFT unchanged
    assert(out.map(r => (r.getAs[String]("symbol"), r.getAs[Double]("Close"))).toSeq ==
      Seq(("AAPL", 50.0), ("AAPL", 50.0), ("MSFT", 10.0)))
  }

  test("LAST-n across a year-partition boundary (test_query_overlapping_years.py)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    // 3 bars in Dec 2020, 2 bars in Jan 2021 (separate year partitions)
    val dec = Seq(1609459020L, 1609459080L, 1609459140L)
    val jan = Seq(1609459200L, 1609459260L)
    cat.write(tbk, (dec ++ jan).zipWithIndex
      .map { case (e, i) => (e, i.toDouble, 0.0) }.toDF("Epoch", "Open", "Close"))
    val svc = new QueryService(cat)
    val res = svc.queryMulti(QueryRequest(
      destination = "AAPL/1Min/OHLCV", limit = Some(4), limitFromStart = false))
      .orderBy("Epoch").collect()
    assert(res.map(_.getAs[Long]("Epoch")).toSeq == (dec.drop(1) ++ jan))
  }

  test("randomized unsorted write → sorted dedup read round-trip (test_data_integrity.py style)") {
    val rnd = new scala.util.Random(7)
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("RND/1Sec/TICKS")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
      StructField("V", DoubleType))), isVariable = true)
    // several shuffled batches with overlapping keys; last write wins
    val expected = scala.collection.mutable.Map[(Long, Int), Double]()
    (1 to 3).foreach { _ =>
      // unique keys WITHIN a batch (same-batch duplicate keys have no
      // defined winner); batches overlap ACROSS writes → upsert
      val batch = Seq.fill(200)((
        1700000000L + rnd.nextInt(500).toLong,
        rnd.nextInt(5) * 1000, rnd.nextDouble()))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      batch.foreach { case (e, n, v) => expected((e, n)) = v }
      cat.write(tbk, rnd.shuffle(batch).toDF("Epoch", "Nanoseconds", "V"))
    }
    val got = cat.read(tbk).select("Epoch", "Nanoseconds", "V").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == expected.toMap)
    // read-side ordering is (Epoch, Nanoseconds) ascending
    val ordered = TimeSeries.limit(cat.read(tbk), Int.MaxValue, fromStart = true)
      .select("Epoch", "Nanoseconds").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(ordered.toSeq == ordered.sortBy(identity).toSeq)
  }

  test("multi-year query with limit returns sorted, unduplicated rows (test_bug_duplicated_limit.py)") {
    for (variable <- Seq(true, false)) {
      val root = freshRoot()
      val cat = new BucketCatalog(spark, root)
      val tbk = TimeBucketKey.parse(s"TQVD/1Min/TICK$variable")
      val fields = Seq(StructField("Epoch", LongType)) ++
        (if (variable) Seq(StructField("Nanoseconds", IntegerType)) else Nil) ++
        Seq(StructField("Ask", FloatType))
      cat.create(tbk, StructType(fields), isVariable = variable)
      // 2017-01-01 and 2018-01-01: two year partitions
      cat.write(tbk, Seq((1483228800L, 10.0f), (1514764800L, 11.0f)).toDF("Epoch", "Ask"))
      val svc = new QueryService(cat)
      val res = svc.queryMulti(QueryRequest(destination = tbk.key, limit = Some(2)))
        .select("Epoch", "Ask").collect()
      assert(res.map(_.getLong(0)).toSeq == Seq(1483228800L, 1514764800L),
        s"variable=$variable: rows must be sorted and unduplicated")
      assert(res.map(_.getFloat(1)).toSeq == Seq(10.0f, 11.0f))
    }
  }

  test("ns-precision range bounds don't leak rows under LIMIT (test_leakage_1second_limit.py)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("DEBUG/1Sec/TICK")
    cat.create(tbk, StructType(Seq(
      StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
      StructField("Bid", FloatType), StructField("Ask", FloatType))), isVariable = true)
    val e = 1546304523L // 2019-01-01 01:02:03
    cat.write(tbk, Seq((e, 0, 1.0f, 2.0f)).toDF("Epoch", "Nanoseconds", "Bid", "Ask"))
    cat.write(tbk, Seq((e, 100000000, 3.0f, 4.0f)).toDF("Epoch", "Nanoseconds", "Bid", "Ask"))
    val svc = new QueryService(cat)
    // start at .1s, FIRST 1 → must be the .1s tick, not the .0s one
    val first = svc.queryMulti(QueryRequest(destination = tbk.key,
      epochStart = e, startNanos = 100000000, limit = Some(1), limitFromStart = true))
      .collect()
    assert(first.length == 1)
    assert(first.head.getAs[Float]("Bid") == 3.0f)
    assert(first.head.getAs[Int]("Nanoseconds") == 100000000)
    // end at .0s, LAST 1 → must be the .0s tick, not the .1s one
    val last = svc.queryMulti(QueryRequest(destination = tbk.key,
      epochEnd = e, endNanos = 0, limit = Some(1), limitFromStart = false))
      .collect()
    assert(last.length == 1)
    assert(last.head.getAs[Float]("Bid") == 1.0f)
    assert(last.head.getAs[Int]("Nanoseconds") == 0)
  }

  test("CSV load into a bucket (cmd/connect/session/load.go)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("CSV/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    val csv = java.nio.file.Files.createTempDirectory("graft-csv")
    java.nio.file.Files.writeString(csv.resolve("bars.csv"),
      "Epoch,Open,Close\n2021-01-01 00:01:00,1.5,1.6\n2021-01-01 00:02:00,2.5,2.6\n")
    val n = graft.sources.CsvLoader.load(spark, cat, tbk,
      csv.resolve("bars.csv").toString,
      timeFormat = Some("yyyy-MM-dd HH:mm:ss"))
    assert(n == 2)
    val got = cat.read(tbk).orderBy("Epoch").collect()
    assert(got.map(_.getAs[Long]("Epoch")).toSeq == Seq(1609459260L, 1609459320L))
    assert(got.map(_.getAs[Double]("Open")).toSeq == Seq(1.5, 2.5))
  }

  test("commit file count is decoupled from symbol cardinality (bucketed layout)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    // one multi-symbol batch at 2000 distinct symbols, one year: a
    // per-symbol layout would commit 2000 files; the bucketed layout
    // commits ≤ DefaultSymbolBuckets
    cat.writeMulti("WIDE", "1Sec", (1 to 2000)
      .map(i => (s"S$i", 1609459200L + i, i.toDouble)).toDF("symbol", "Epoch", "V"))
    val live = cat.liveFiles("WIDE").get
    assert(live.size <= BucketCatalog.DefaultSymbolBuckets,
      s"${live.size} files committed for 2000 symbols")
    assert(live.forall(_.startsWith("timeframe=1Sec/year=2021/sbucket=")))
    assert(cat.listSymbols("WIDE").size == 2000)
    // single-symbol read stays exact through the shared files
    val one = cat.read(TimeBucketKey.parse("S777/1Sec/WIDE")).collect()
    assert(one.map(r => (r.getAs[Long]("Epoch"), r.getAs[Double]("V"))).toSeq ==
      Seq((1609459200L + 777, 777.0)))
    // upsert of ONE symbol rewrites only its (timeframe, year, sbucket)
    // slice — commit cost bounded by 1/N of the group, not the group
    val before = live.toSet
    cat.write(TimeBucketKey.parse("S777/1Sec/WIDE"),
      Seq((1609459200L + 777, 99.0)).toDF("Epoch", "V"))
    val after = cat.liveFiles("WIDE").get.toSet
    val sb = BucketCatalog.symbolBucket("S777", BucketCatalog.DefaultSymbolBuckets)
    assert((before -- after).forall(_.contains(s"sbucket=$sb")),
      "an upsert of one symbol replaced files outside its bucket")
    assert(cat.read(TimeBucketKey.parse("S777/1Sec/WIDE")).head().getAs[Double]("V") == 99.0)
    // untouched symbol in ANOTHER bucket still intact
    assert(cat.read(TimeBucketKey.parse("S778/1Sec/WIDE")).count() == 1)
  }

  test("a group meta with no buckets= token is refused by name") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val meta = java.nio.file.Paths.get(root, "NOBKT", BucketCatalog.MetaFile)
    Files.createDirectories(meta.getParent)
    Files.writeString(meta, s"fixed\n${ohlcv.json}\n")
    val e = intercept[IllegalStateException] {
      cat.write(TimeBucketKey.parse("AAPL/1Min/NOBKT"),
        Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    }
    assert(e.getMessage.contains(meta.toString) && e.getMessage.contains("buckets="),
      e.getMessage)
    assert(cat.liveFiles("NOBKT").isEmpty, "a refused write must commit nothing")
  }

  test("cross-process single-writer guard refuses a locked root, recovers after release") {
    val root = freshRoot()
    // a "foreign process": an independent channel holding the lock
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(root, BucketCatalog.WriterLockFile),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val foreign = ch.tryLock()
    assert(foreign != null)
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/LOCKED")
    val e = intercept[IllegalStateException] {
      cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    }
    assert(e.getMessage.contains("another writer process"), e.getMessage)
    // the foreign writer exits -> the next mutation acquires and works
    foreign.release(); ch.close()
    cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    assert(cat.read(tbk).count() == 1)
    // a second catalog instance in the SAME process shares the lock
    new BucketCatalog(spark, root)
      .write(tbk, Seq((120L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    assert(cat.read(tbk).count() == 2)
  }

  // per-GROUP lease path helpers shared by the lease tests (r10: the
  // writer lease is scoped to the attribute group, not the root)
  private def agLease(root: String, ag: String): java.nio.file.Path = {
    Files.createDirectories(java.nio.file.Paths.get(root, ag))
    java.nio.file.Paths.get(root, ag, BucketCatalog.WriterLeaseFile)
  }
  private def plantLease(root: String, ag: String, writer: String,
      token: Long, ts: Long): Unit =
    Files.writeString(agLease(root, ag),
      s"""{"writer": "$writer", "token": $token, "ts": $ts}""")
  private def readAgLease(root: String, ag: String): (String, Long) = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(agLease(root, ag)))
    (n.get("writer").asText(), n.get("token").asLong())
  }

  test("non-local roots: per-group lease refuses a live foreign writer, takes over expired with a bumped token, fences a superseded commit") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nolock.impl", classOf[NoLockFileSystem].getName)
    val batch = Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close")
    // (1) a LIVE foreign lease on the GROUP refuses the mutation — the
    // no-lock root is no longer writable by convention-trusting
    // second writers
    val root1 = freshRoot()
    plantLease(root1, "LSE", "foreign-writer", 3L, System.currentTimeMillis())
    val cat1 = new BucketCatalog(spark, "nolock:" + root1)
    val e1 = intercept[IllegalStateException] {
      cat1.write(TimeBucketKey.parse("AAPL/1Min/LSE"), batch)
    }
    assert(e1.getMessage.contains("live lease"), e1.getMessage)
    // (2) an EXPIRED foreign lease is taken over with a bumped fencing
    // token, and writes proceed
    val root2 = freshRoot()
    plantLease(root2, "LSE", "foreign-writer", 5L, System.currentTimeMillis() - 120000L)
    val cat2 = new BucketCatalog(spark, "nolock:" + root2)
    val tbk2 = TimeBucketKey.parse("AAPL/1Min/LSE")
    cat2.create(tbk2, ohlcv, isVariable = false)
    cat2.write(tbk2, batch)
    assert(cat2.read(tbk2).count() == 1)
    val (w2, t2) = readAgLease(root2, "LSE")
    assert(w2 != "foreign-writer" && t2 == 6L, s"takeover: $w2 token $t2")
    // the won claim file is NOT deleted after the lease rewrite: a
    // deleted claim would recycle token 6 for a contender that read
    // the same expired state a few ms late (see (2b))
    val wonClaim = java.nio.file.Paths.get(
      root2, "LSE", BucketCatalog.WriterLeaseFile + ".claim.6")
    assert(Files.exists(wonClaim),
      "the winner's claim must persist until the next takeover sweeps it")
    // (2b) the late racer: a contender that read the SAME expired
    // state (token 5) but reaches the claim after the winner finished
    // must LOSE — before r10 the winner deleted claim.6 on completion,
    // letting this racer re-win token 6 and clobber the fresh lease
    val late = new BucketCatalog(spark, "nolock:" + root2)
    val eLate = intercept[IllegalStateException] {
      late.claimTakeover(Some("LSE"), 5L)
    }
    assert(eLate.getMessage.contains("takeover race"), eLate.getMessage)
    val (w2b, t2b) = readAgLease(root2, "LSE")
    assert(w2b == w2 && t2b == 6L, "the live lease must survive the late racer")
    // (3) a writer SUPERSEDED between renewal and commit is fenced at
    // the manifest flip: steal the group lease out from under cat2
    // (its in-memory renewal is fresh, so only the commit-time fence
    // sees the theft) — the commit must refuse, and the acknowledged
    // data must still be exactly the pre-theft row
    plantLease(root2, "LSE", "usurper", 7L, System.currentTimeMillis())
    val e3 = intercept[IllegalStateException] {
      cat2.write(tbk2, Seq((120L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    }
    assert(e3.getMessage.contains("fenced"), e3.getMessage)
    assert(cat2.read(tbk2).count() == 1, "fenced commit must not publish")
    // (4) the superseded writer's DESTRUCTIVE startup sweep must not
    // touch the new writer's group: the sweep takes each group's OWN
    // lease and SKIPS a group whose lease a live foreign writer holds
    // — the usurper's mid-commit staging survives, no exception
    val usurperStaging = java.nio.file.Paths.get(
      root2, BucketCatalog.StagingPrefix + "LSE_mid_commit")
    Files.createDirectory(usurperStaging)
    assert(cat2.recoverOrphanedStaging() == 0,
      "a group held by a live foreign writer must be skipped, not swept")
    assert(Files.exists(usurperStaging),
      "the sweep must not delete the new writer's staging")
    // a staging dir matching NO live group is age-gated: younger than
    // the lease expiry survives (it may be a brand-new group's first
    // commit racing this sweep)
    val unmatched = java.nio.file.Paths.get(
      root2, BucketCatalog.StagingPrefix + "GONE_mid_commit")
    Files.createDirectory(unmatched)
    assert(cat2.recoverOrphanedStaging() == 0)
    assert(Files.exists(unmatched), "fresh unmatched staging must survive")
  }

  test("per-group leases: writers on different groups of one root proceed in parallel; a root lease blocks group takeovers") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nolock.impl", classOf[NoLockFileSystem].getName)
    val batch = Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close")
    // a live foreign writer on NYSE must NOT serialize LSE ingest —
    // the r9 root-wide lease refused the whole root here
    val root = freshRoot()
    plantLease(root, "NYSE", "foreign-writer", 3L, System.currentTimeMillis())
    val cat = new BucketCatalog(spark, "nolock:" + root)
    val lse = TimeBucketKey.parse("AAPL/1Min/LSE")
    cat.create(lse, ohlcv, isVariable = false)
    cat.write(lse, batch)
    assert(cat.read(lse).count() == 1,
      "a foreign writer on another group must not block this group")
    val e = intercept[IllegalStateException] {
      cat.write(TimeBucketKey.parse("AAPL/1Min/NYSE"), batch)
    }
    assert(e.getMessage.contains("live lease"), e.getMessage)
    // a live foreign ROOT lease (a root-scoped mutation in flight, or
    // a root written by the pre-split protocol) blocks NEW group
    // acquisitions...
    val root2 = freshRoot()
    Files.writeString(
      java.nio.file.Paths.get(root2, BucketCatalog.WriterLeaseFile),
      s"""{"writer": "sweeper", "token": 2, "ts": ${System.currentTimeMillis()}}""")
    val cat2 = new BucketCatalog(spark, "nolock:" + root2)
    val e2 = intercept[IllegalStateException] {
      cat2.write(TimeBucketKey.parse("AAPL/1Min/LSE"), batch)
    }
    assert(e2.getMessage.contains("ROOT lease"), e2.getMessage)
    // ...and a RELEASED root lease (ts = 0 — what the sweep writes on
    // completion) unblocks them immediately, no expiry wait
    Files.writeString(
      java.nio.file.Paths.get(root2, BucketCatalog.WriterLeaseFile),
      s"""{"writer": "sweeper", "token": 2, "ts": 0}""")
    val lse2 = TimeBucketKey.parse("AAPL/1Min/LSE")
    cat2.create(lse2, ohlcv, isVariable = false)
    cat2.write(lse2, batch)
    assert(cat2.read(lse2).count() == 1)
    // the sweep itself releases its root lease on the way out: run one
    // and check the file is handed back (ts = 0, token preserved)
    val root3 = freshRoot()
    val cat3 = new BucketCatalog(spark, "nolock:" + root3)
    val lse3 = TimeBucketKey.parse("AAPL/1Min/LSE")
    cat3.create(lse3, ohlcv, isVariable = false)
    cat3.write(lse3, batch)
    cat3.recoverOrphanedStaging()
    val n3 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(
        java.nio.file.Paths.get(root3, BucketCatalog.WriterLeaseFile)))
    assert(n3.get("ts").asLong() == 0L,
      "the sweep must hand back its root lease (ts = 0)")
    // our OWN released lease must not resurrect via plain renewal — a
    // foreign contender may legitimately be mid-takeover on it; the
    // re-acquire goes through the claim path and BUMPS the token
    val tok3 = n3.get("token").asLong()
    cat3.recoverOrphanedStaging()
    val n3b = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(
        java.nio.file.Paths.get(root3, BucketCatalog.WriterLeaseFile)))
    assert(n3b.get("token").asLong() == tok3 + 1 && n3b.get("ts").asLong() == 0L,
      s"re-acquiring a released lease must bump the fencing token: $n3b")
  }

  test("idle group lease is handed back by the heartbeat; re-acquire goes through the takeover path with a bumped token") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nolock.impl", classOf[NoLockFileSystem].getName)
    val root = freshRoot()
    // short expiry: quarter = 125 ms, idle threshold = 8 quarters = 1 s
    val cat = new BucketCatalog(spark, "nolock:" + root, leaseExpiryMs = 500L)
    val tbk = TimeBucketKey.parse("AAPL/1Min/IDLE")
    cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    // raw reads can land in the heartbeat's create-truncate window
    // (the production readLease retries the same way): retry torn
    // reads here too
    def leaseState(): (String, Long) = {
      var last: Throwable = null
      for (_ <- 1 to 20) {
        try return readAgLease(root, "IDLE")
        catch { case scala.util.control.NonFatal(e) => last = e; Thread.sleep(25) }
      }
      throw last
    }
    def leaseTs(): Long =
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(agLease(root, "IDLE"))).get("ts").asLong()
      catch { case scala.util.control.NonFatal(_) => -1L }
    val (w0, t0) = leaseState()
    assert(leaseTs() != 0L, "the lease is live right after a mutation")
    // IdleReleaseQuarters quiet quarter-expiries later the heartbeat
    // must RELEASE (ts = 0, token preserved) instead of renewing until
    // process death — a foreign writer then takes over IMMEDIATELY
    // (ts = 0 is always-expired), never waiting out a full expiry
    val deadline = System.currentTimeMillis() + 20000L
    while (leaseTs() != 0L && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(leaseTs() == 0L, "an idle group lease must be handed back (ts = 0)")
    val (_, tRel) = leaseState()
    assert(tRel == t0, "release preserves the fencing token")
    // this process's next mutation re-acquires through the SAME
    // takeover path a foreign writer would use (a released lease never
    // resurrects via plain renewal): immediate, with a bumped token
    cat.write(tbk, Seq((120L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    val (w2, t2) = leaseState()
    assert(w2 == w0 && t2 > t0,
      s"re-acquire after idle release must bump the token: $t0 -> $t2")
    assert(cat.read(tbk).count() == 2)
    assert(leaseTs() != 0L, "the re-acquired lease is live again")
  }

  test("lease takeover: exactly one of 8 concurrent contenders wins the claim (per-group scope); stale claims recovered") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nolock.impl", classOf[NoLockFileSystem].getName)
    val root = freshRoot()
    val expired = System.currentTimeMillis() - 120000L
    plantLease(root, "NYSE", "dead-writer", 5L, expired)
    // 8 contenders race the SAME expired state of one GROUP's lease
    // through the atomic claim primitive (each with its own catalog
    // instance; a barrier releases them together). Exactly one must
    // win token 6; the other 7 must throw the takeover-race refusal —
    // never silently overwrite each other (the old delete->create
    // window).
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Long]]()
    val threads = (1 to n).map { _ =>
      val cat = new BucketCatalog(spark, "nolock:" + root)
      new Thread(() => {
        barrier.await()
        try results.add(Right(cat.claimTakeover(Some("NYSE"), 5L)))
        catch { case e: IllegalStateException => results.add(Left(e.getMessage)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    val (losers, winners) = {
      import scala.jdk.CollectionConverters._
      results.asScala.toSeq.partitionMap(identity)
    }
    assert(winners == Seq(6L), s"winners: $winners (losers: ${losers.size})")
    assert(losers.size == n - 1 && losers.forall(_.contains("takeover race")),
      s"losers: $losers")
    // stale-claim recovery: a claim whose creator died before
    // rewriting the lease must not wedge the slot — the next
    // contender advances past it and cleans it up
    val root2 = freshRoot()
    plantLease(root2, "NYSE", "dead-writer", 5L, expired)
    val staleClaim = java.nio.file.Paths.get(
      root2, "NYSE", BucketCatalog.WriterLeaseFile + ".claim.6")
    Files.writeString(staleClaim,
      s"""{"writer": "crashed-claimant", "ts": $expired}""")
    val cat2 = new BucketCatalog(spark, "nolock:" + root2)
    assert(cat2.claimTakeover(Some("NYSE"), 5L) == 7L,
      "stale claim slot must be skipped")
    assert(!Files.exists(staleClaim), "stale claim must be swept by the winner")
    // SPENT claims (token <= the lease's) are collected by the NEXT
    // takeover's entry sweep — never by their winner (deleting the
    // won claim would recycle the token, see the late-racer test)
    val spentClaim = java.nio.file.Paths.get(
      root2, "NYSE", BucketCatalog.WriterLeaseFile + ".claim.4")
    Files.writeString(spentClaim,
      s"""{"writer": "long-gone", "ts": $expired}""")
    assert(cat2.claimTakeover(Some("NYSE"), 7L) == 8L)
    assert(!Files.exists(spentClaim),
      "spent claims below the lease token must be swept on takeover entry")
    // ... but a FRESH claim (live contender mid-takeover) refuses
    val root3 = freshRoot()
    plantLease(root3, "NYSE", "dead-writer", 5L, expired)
    Files.writeString(
      java.nio.file.Paths.get(root3, "NYSE",
        BucketCatalog.WriterLeaseFile + ".claim.6"),
      s"""{"writer": "live-claimant", "ts": ${System.currentTimeMillis()}}""")
    val e = intercept[IllegalStateException] {
      new BucketCatalog(spark, "nolock:" + root3).claimTakeover(Some("NYSE"), 5L)
    }
    assert(e.getMessage.contains("takeover race"), e.getMessage)
    // end-to-end: a real mutation through the winning path still works
    // on the stress root (the lease file was never deleted mid-race,
    // so the takeover proceeds from a consistent state). The raced
    // primitive above stopped short of the lease rewrite, so its won
    // claim is still live and correctly blocks takeovers of NYSE —
    // but a DIFFERENT group on the same root is unaffected
    val tbk = TimeBucketKey.parse("AAPL/1Min/RACE")
    val cat = new BucketCatalog(spark, "nolock:" + root)
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    assert(cat.read(tbk).count() == 1)
  }

  test("manifest publish is exclusive per version slot (commit-time CAS) on checksummed and raw local fs") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nolock.impl", classOf[NoLockFileSystem].getName)
    def minimalDelta(v: Long): java.util.LinkedHashMap[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("version", v); m.put("kind", "delta")
      m
    }
    // checksummed local fs (the default catalog path)
    for (scheme <- Seq("", "nolock:")) {
      val bare = freshRoot()
      val cat = new BucketCatalog(spark, scheme + bare)
      cat.publishManifest("SLOT", 1L, minimalDelta(1L))
      val e = intercept[IllegalStateException] {
        cat.publishManifest("SLOT", 1L, minimalDelta(1L))
      }
      assert(e.getMessage.contains("version slot"), s"[$scheme] ${e.getMessage}")
      // the loser must not have clobbered the winner's manifest
      assert(cat.manifestVersions("SLOT") == Seq(1L), s"[$scheme]")
      // ... and the loser's tmp bytes must not linger (tmp is unique
      // per attempt, r10: a shared tmp name would let a zombie's bytes
      // be published by the slot winner; a lingering tmp is the smell)
      import scala.jdk.CollectionConverters._
      val mdir = java.nio.file.Paths.get(bare, "SLOT", BucketCatalog.ManifestDir)
      val tmps = Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".tmp_")).toSeq
      assert(tmps.isEmpty, s"[$scheme] loser tmp left behind: $tmps")
      cat.publishManifest("SLOT", 2L, minimalDelta(2L)) // next slot free
    }
  }

  test("commit-record naming survives a foreign writer's sequence collision (parallel-group commit log)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/SEQ")
    cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    val before = cat.commitHistory()
    assert(before.size == 1, s"one commit -> one record, got $before")
    // a FOREIGN process ingesting ANOTHER group of this root (legal
    // under the per-group lease) seeds its own commit counter from the
    // same directory max — simulate its next commit landing FIRST by
    // publishing a record at exactly the number this process's cached
    // counter will produce next. Pre-r11 the collision either dropped
    // our record (warn-and-swallow) or clobbered the foreign one
    // (POSIX rename overwrites) — and a reused number leaves NO gap,
    // so ReplicaSync could never detect the loss.
    val dir = java.nio.file.Paths.get(root, BucketCatalog.CommitLog)
    Files.writeString(dir.resolve(f"${2L}%015d.json"),
      """{"ts": 1, "attGroup": "FOREIGN_GROUP", "partitions": []}""")
    cat.write(tbk, Seq((120L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    val recs = cat.commitHistory()
    assert(recs.size == 3, s"no record may be lost or clobbered: $recs")
    assert(recs.count(_.contains("FOREIGN_GROUP")) == 1,
      s"the foreign writer's record must survive intact: $recs")
    assert(recs.count(_.contains("\"SEQ\"")) == 2,
      s"both of this writer's commits must be published: $recs")
    // the retry re-seeded PAST the collision: the counter stays
    // monotonic for subsequent commits (no second collision cascade)
    cat.write(tbk, Seq((180L, 3.0, 3.5)).toDF("Epoch", "Open", "Close"))
    assert(cat.commitHistory().size == 4)
  }

  test("forward ingest appends without rewriting; late data merges; file count stays bounded") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    cat.writeMulti("APP", "1Min",
      Seq(("A", 60L, 1.0), ("B", 60L, 2.0)).toDF("symbol", "Epoch", "V"))
    val after1 = cat.liveFiles("APP").get.toSet
    // commit 2: strictly later epochs -> APPEND: every commit-1 file
    // survives in the live set and new files join it
    cat.writeMulti("APP", "1Min",
      Seq(("A", 120L, 3.0), ("B", 120L, 4.0)).toDF("symbol", "Epoch", "V"))
    val after2 = cat.liveFiles("APP").get.toSet
    assert(after1.subsetOf(after2),
      s"append must keep prior files live: ${after1 -- after2} vanished")
    assert(after2.size > after1.size, "append must add files")
    assert(cat.read(TimeBucketKey.parse("A/1Min/APP")).orderBy("Epoch").collect()
      .map(_.getAs[Double]("V")).toSeq == Seq(1.0, 3.0))
    // commit 3: an epoch EQUAL to an existing one -> merge path, slot
    // overwrite wins, and the partition's old files leave the live set
    cat.writeMulti("APP", "1Min",
      Seq(("A", 120L, 9.0)).toDF("symbol", "Epoch", "V"))
    val after3 = cat.liveFiles("APP").get.toSet
    val sbA = BucketCatalog.symbolBucket("A", BucketCatalog.DefaultSymbolBuckets)
    assert((after2 -- after3).forall(_.contains(s"sbucket=$sbA")),
      "merge replaced files outside the late batch's partition")
    assert((after2 -- after3).nonEmpty, "late data must take the merge path")
    assert(cat.read(TimeBucketKey.parse("A/1Min/APP")).orderBy("Epoch").collect()
      .map(_.getAs[Double]("V")).toSeq == Seq(1.0, 9.0))
    // ranges survive a process restart (fresh catalog instance):
    // strictly-later data still appends
    val cat2 = new BucketCatalog(spark, root)
    val before4 = cat2.liveFiles("APP").get.toSet
    cat2.writeMulti("APP", "1Min",
      Seq(("A", 180L, 5.0), ("B", 180L, 6.0)).toDF("symbol", "Epoch", "V"))
    assert(before4.subsetOf(cat2.liveFiles("APP").get.toSet),
      "manifest-persisted ranges must survive a restart and keep appending")
    // sustained forward ingest: per-partition file count is bounded by
    // CompactAtFiles (the merge path compacts when the ceiling hits)
    (1 to BucketCatalog.CompactAtFiles + 4).foreach { i =>
      cat2.writeMulti("APP", "1Min",
        Seq(("A", 180L + i * 60L, i.toDouble)).toDF("symbol", "Epoch", "V"))
    }
    val perPart = cat2.liveFiles("APP").get
      .groupBy(f => f.substring(0, f.lastIndexOf('/'))).view.mapValues(_.size)
    assert(perPart.values.forall(_ <= BucketCatalog.CompactAtFiles),
      s"file count must stay bounded, got $perPart")
    // every row of the loop survives, time-ordered
    val a = cat2.read(TimeBucketKey.parse("A/1Min/APP")).orderBy("Epoch").collect()
    assert(a.length == 3 + BucketCatalog.CompactAtFiles + 4)
    // in-batch duplicate keys down the APPEND path: the last-write
    // contract must not depend on the route — exactly one row per key
    cat2.writeMulti("APP", "1Min",
      Seq(("B", 5000L, 7.0), ("B", 5000L, 8.0)).toDF("symbol", "Epoch", "V"))
    val dupRead = cat2.read(TimeBucketKey.parse("B/1Min/APP"))
      .filter(col("Epoch") === 5000L).collect()
    assert(dupRead.length == 1, s"in-batch dup keys must collapse, got ${dupRead.length}")
    // ... and the surviving VALUE is deterministic: the greatest value
    // tuple wins (not whichever row dropDuplicates' plan happened to
    // keep) — so re-running the same batch can never flip the result
    assert(dupRead.head.getAs[Double]("V") == 8.0,
      s"in-batch dup winner must be the max value tuple, got ${dupRead.head}")
    // variable records: same epoch, distinct nanos must MERGE (key is
    // (Epoch, Nanoseconds); epoch equality alone forces the safe path)
    val vt = TimeBucketKey.parse("T/1Sec/APPV")
    cat2.create(vt, StructType(Seq(
      StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
      StructField("Bid", DoubleType))), isVariable = true)
    cat2.write(vt, Seq((100L, 100, 1.0)).toDF("Epoch", "Nanoseconds", "Bid"))
    cat2.write(vt, Seq((100L, 500, 2.0)).toDF("Epoch", "Nanoseconds", "Bid"))
    assert(TimeSeries.limit(cat2.read(vt), 10, fromStart = true).collect()
      .map(_.getAs[Double]("Bid")).toSeq == Seq(1.0, 2.0))
  }

  test("orphaned staging dirs are recoverable; commits leave a durable trail (executor/wal.go role)") {
    val root = freshRoot()
    val cat = new BucketCatalog(spark, root)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    cat.create(tbk, ohlcv, isVariable = false)
    cat.write(tbk, Seq((60L, 1.0, 1.5)).toDF("Epoch", "Open", "Close"))
    // second write merges → stage-and-swap → one commit record
    cat.write(tbk, Seq((120L, 2.0, 2.5)).toDF("Epoch", "Open", "Close"))
    val commits = cat.commitHistory()
    assert(commits.nonEmpty)
    assert(commits.last.contains("\"attGroup\":\"OHLCV\""))
    // bucketed layout: commits name (timeframe, year, sbucket) slices
    val sb = BucketCatalog.symbolBucket("AAPL", BucketCatalog.DefaultSymbolBuckets)
    assert(commits.last.contains(s"timeframe=1Min/year=1970/sbucket=$sb"))
    // deleteRange commits through the same path and logs too
    cat.deleteRange(tbk, 100L)
    assert(cat.commitHistory().size > commits.size)

    // simulate a writer that crashed mid-stage: an orphan staging dir
    val orphan = java.nio.file.Path.of(root, ".staging_OHLCV_123")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk"), "x")
    assert(cat.recoverOrphanedStaging() == 1)
    assert(!java.nio.file.Files.exists(orphan))
    // live data untouched by recovery
    assert(cat.read(tbk).count() == 1)
    assert(cat.read(tbk).head().getAs[Long]("Epoch") == 60L)

    // a crash BETWEEN the staged-file moves and the manifest flip
    // leaves data files no manifest references: the sweep must remove
    // exactly those and keep every referenced file
    val livePart = cat.liveFiles("OHLCV").get.head
    val partDir = livePart.substring(0, livePart.lastIndexOf('/'))
    val fake = java.nio.file.Path.of(root, "OHLCV", partDir,
      "part-99999-deadbeef.c000.snappy.parquet")
    java.nio.file.Files.writeString(fake, "not parquet")
    cat.recoverOrphanedStaging()
    assert(!java.nio.file.Files.exists(fake),
      "unreferenced data file from a mid-commit crash must be swept")
    assert(cat.read(tbk).count() == 1, "referenced files must survive the sweep")
  }

  test("local-ness probe survives RawLocalFileSystem (getScheme is unimplemented there)") {
    // Bench/the probes install fs.file.impl = RawLocalFileSystem for
    // checksum-free local IO; Hadoop's BASE FileSystem.getScheme()
    // throws UnsupportedOperationException and RawLocalFileSystem
    // does not override it — the writer-lock local-ness probe must
    // therefore read fs.getUri.getScheme (r6 regression: every
    // catalog-write bench entry failed under the bench session)
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    intercept[UnsupportedOperationException](raw.getScheme)
    assert(raw.getUri.getScheme == "file")
  }
}
