package graft

import graft.catalog.BucketCatalog
import graft.wire.{MsgPack, NumpyCodec, RpcServer}
import org.apache.spark.sql.types._
import java.net.{HttpURLConnection, URL}

/** Wire-protocol integration: a real HTTP round trip through the
  * JSON-RPC/msgpack `/rpc` front — Create → Write → Query (range +
  * limit, mirroring tests/integ/tests/test_grpc_compat.py:66 shapes) →
  * ListSymbols → GetInfo → Destroy, all msgpack-encoded on the socket.
  */
class WireSpec extends SparkSpec {

  private def rpc(port: Int, method: String, params: Map[String, Any],
      id: Long = 1L): Map[Any, Any] = {
    val req = Map("jsonrpc" -> "2.0", "method" -> method,
      "params" -> Seq(params), "id" -> id)
    val conn = new URL(s"http://127.0.0.1:$port/rpc")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/x-msgpack")
    conn.setDoOutput(true)
    conn.getOutputStream.write(MsgPack.encode(req))
    val bytes = conn.getInputStream.readAllBytes()
    val resp = MsgPack.decode(bytes).asInstanceOf[Map[Any, Any]]
    assert(resp("jsonrpc") == "2.0" && resp("id") == id)
    resp.get("error").foreach(e => fail(s"rpc error: $e"))
    resp("result").asInstanceOf[Map[Any, Any]]
  }

  /** Like [[rpc]] but returns the whole response — for asserting the
    * error channel itself.
    */
  private def rpcRaw(port: Int, method: String, params: Map[String, Any]): Map[Any, Any] = {
    val req = Map("jsonrpc" -> "2.0", "method" -> method,
      "params" -> Seq(params), "id" -> 1L)
    val conn = new URL(s"http://127.0.0.1:$port/rpc")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/x-msgpack")
    conn.setDoOutput(true)
    conn.getOutputStream.write(MsgPack.encode(req))
    MsgPack.decode(conn.getInputStream.readAllBytes()).asInstanceOf[Map[Any, Any]]
  }

  test("msgpack codec round-trips the protocol value shapes") {
    val v = Map(
      "s" -> "hello", "neg" -> -5L, "big" -> 1590000000000L,
      "f" -> 3.5, "t" -> true, "n" -> null,
      "bin" -> Array[Byte](1, 2, -3),
      "arr" -> Vector(1L, "two", Vector(3L)),
      "m" -> Map("k" -> 127L, "j" -> -32L),
      "longstr" -> ("x" * 300))
    val back = MsgPack.decode(MsgPack.encode(v)).asInstanceOf[Map[Any, Any]]
    assert(back("s") == "hello" && back("neg") == -5L && back("big") == 1590000000000L)
    assert(back("f") == 3.5 && back("t") == true && back("n") == null)
    assert(back("bin").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, -3))
    assert(back("arr") == Vector(1L, "two", Vector(3L)))
    assert(back("m") == Map("k" -> 127L, "j" -> -32L))
    assert(back("longstr") == "x" * 300)
  }

  test("rpc server: create/write/query/list/getinfo/destroy over a socket") {
    val root = java.nio.file.Files.createTempDirectory("graft-wire").toString
    val cat = new BucketCatalog(spark, root)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val port = srv.boundPort

      // ---- Create (frontend/write.go:70-128 key format)
      val created = rpc(port, "DataService.Create", Map("requests" -> Seq(Map(
        "key" -> "AAPL/1Min/OHLC:Symbol/Timeframe/AttributeGroup",
        "column_names" -> Seq("Epoch", "Open", "Close", "Note"),
        "column_types" -> Seq("i8", "f4", "f8", "U16"),
        "is_variable_length" -> false))))
      assert(created("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("error") == "")

      // ---- Write two symbols in one NumpyMultiDataset
      val t0 = 1590000000L
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Open", FloatType),
        StructField("Close", DoubleType), StructField("Note", StringType)))
      def rows(base: Double) = (0 until 20).map(i =>
        org.apache.spark.sql.Row(t0 + 60L * i, (base + i).toFloat, base + i + 0.5, s"n$i"))
      val ds = NumpyCodec.encode(schema, Seq(
        "AAPL/1Min/OHLC" -> rows(100.0), "TSLA/1Min/OHLC" -> rows(700.0)))
      val written = rpc(port, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> ds, "is_variable_length" -> false))))
      assert(written("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("error") == "")

      // ---- Query with range + LAST-limit (test_grpc_compat.py range cases)
      val q = rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "AAPL,TSLA/1Min/OHLC",
        "epoch_start" -> (t0 + 5 * 60L), "epoch_end" -> (t0 + 15 * 60L),
        "limit_record_count" -> 3L, "limit_from_start" -> false))))
      assert(q("version") == graft.api.ServerInfo.Version)
      val result = q("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("result").asInstanceOf[Map[Any, Any]]
      val (rSchema, groups) = NumpyCodec.decode(result)
      assert(rSchema.fieldNames.toSeq == Seq("Epoch", "Open", "Close", "Note"))
      val byTbk = groups.toMap
      assert(byTbk.keySet == Set("AAPL/1Min/OHLC", "TSLA/1Min/OHLC"))
      // LAST 3 inside [t0+300, t0+900]: minutes 13, 14, 15
      val aapl = byTbk("AAPL/1Min/OHLC")
      assert(aapl.map(_.getLong(0)) == Seq(t0 + 13 * 60L, t0 + 14 * 60L, t0 + 15 * 60L))
      assert(aapl.last.getFloat(1) == 115.0f)
      assert(aapl.last.getDouble(2) == 115.5)
      assert(aapl.last.getString(3) == "n15")

      // ---- SQL through the same endpoint
      val sq = rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "is_sqlstatement" -> true,
        "sql_statement" -> "SELECT count(*) AS cnt FROM `AAPL/1Min/OHLC`"))))
      val sqlResult = sq("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("result").asInstanceOf[Map[Any, Any]]
      val (_, sqlGroups) = NumpyCodec.decode(sqlResult)
      assert(sqlGroups.head._2.head.getLong(0) == 20L)

      // ---- ListSymbols, both formats
      val syms = rpc(port, "DataService.ListSymbols", Map.empty)("Results")
      assert(syms == Vector("AAPL", "TSLA"))
      val tbks = rpc(port, "DataService.ListSymbols", Map("format" -> "tbk"))("Results")
      assert(tbks == Vector("AAPL/1Min/OHLC", "TSLA/1Min/OHLC"))

      // ---- GetInfo shape (frontend/write.go:139-160)
      val info = rpc(port, "DataService.GetInfo", Map("requests" -> Seq(Map(
        "key" -> "AAPL/1Min/OHLC"))))("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]
      assert(info("LatestYear") == 2020L)
      assert(info("TimeFrame") == 60L * 1000000000L)
      assert(info("RecordType") == 0L)
      val dsv = info("DSV").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[Any, Any]])
      assert(dsv.map(d => d("Name") -> d("Type")) ==
        Seq("Epoch" -> 3L, "Open" -> 0L, "Close" -> 2L, "Note" -> 14L))

      // ---- Destroy drops the symbol
      rpc(port, "DataService.Destroy", Map("requests" -> Seq(Map(
        "key" -> "TSLA/1Min/OHLC"))))
      val after = rpc(port, "DataService.ListSymbols", Map.empty)("Results")
      assert(after == Vector("AAPL"))
    } finally srv.stop()
  }

  test("query with a functions pipeline re-candles per symbol over the wire") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wire-fn").toString
    val cat = new BucketCatalog(spark, root)
    val t0 = 1590000000L
    val bars = (0 until 20).flatMap(i => Seq(
      ("AAPL", t0 + 60L * i, 100.0 + i, 100.5 + i),
      ("TSLA", t0 + 60L * i, 700.0 + i, 700.5 + i)))
      .toDF("symbol", "Epoch", "Open", "Close")
    cat.writeMulti("OHLC", "1Min", bars)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      // candlecandler('5Min', ...) through QueryRequest.functions —
      // the chained-UDA pipeline of frontend/query.go:21-47, grouped
      // per symbol in ONE job
      val q = rpc(srv.boundPort, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "*/1Min/OHLC",
        "functions" -> Seq("candlecandler('5Min', Open, Open, Open, Close)")))))
      val result = q("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("result").asInstanceOf[Map[Any, Any]]
      val (schema, groups) = NumpyCodec.decode(result)
      val byTbk = groups.toMap
      assert(byTbk.keySet == Set("AAPL/1Min/OHLC", "TSLA/1Min/OHLC"))
      // 20 one-minute bars → 4 five-minute candles per symbol
      val ep = schema.fieldIndex("Epoch")
      val open = schema.fieldIndex("Open")
      val close = schema.fieldIndex("Close")
      val aapl = byTbk("AAPL/1Min/OHLC").sortBy(_.getLong(ep))
      assert(aapl.size == 4)
      assert(aapl.head.getDouble(open) == 100.0)
      assert(aapl.head.getDouble(close) == 104.5) // close of minute 4
      assert(byTbk("TSLA/1Min/OHLC").size == 4)
    } finally srv.stop()
  }

  test("nanosecond-precision variable records round-trip the wire; empty ranges and bad symbols behave") {
    val root = java.nio.file.Files.createTempDirectory("graft-wire-ns").toString
    val cat = new BucketCatalog(spark, root)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      val t0 = 1451606400L // 2016-01-01
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Nanoseconds", IntegerType),
        StructField("Bid", DoubleType)))
      // three sub-second ticks in one epoch second (test_nanoseconds_precision)
      val rows = Seq(
        org.apache.spark.sql.Row(t0, 100000000, 1.0),
        org.apache.spark.sql.Row(t0, 500000000, 2.0),
        org.apache.spark.sql.Row(t0, 900000000, 3.0))
      val ds = NumpyCodec.encode(schema, Seq("TICK/1Sec/NS" -> rows))
      rpc(port, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> ds, "is_variable_length" -> true))))

      // ns bounds cut between the ticks: [t0+200ms, t0+999ms] → 2.0, 3.0
      val q = rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "TICK/1Sec/NS",
        "epoch_start" -> t0, "epoch_start_nanos" -> 200000000L,
        "epoch_end" -> t0, "epoch_end_nanos" -> 999999999L))))
      val (rs, groups) = NumpyCodec.decode(
        q("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]("result")
          .asInstanceOf[Map[Any, Any]])
      val got = groups.toMap.apply("TICK/1Sec/NS")
      assert(got.map(_.getDouble(rs.fieldIndex("Bid"))) == Seq(2.0, 3.0))
      assert(got.map(_.getInt(rs.fieldIndex("Nanoseconds"))) == Seq(500000000, 900000000))

      // empty range → zero-length dataset, not an error (test_no_data_available)
      val empty = rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "TICK/1Sec/NS",
        "epoch_start" -> (t0 - 86400L), "epoch_end" -> (t0 - 1L)))))
      val emptyResult = empty("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("result").asInstanceOf[Map[Any, Any]]
      assert(emptyResult("length") == 0L)

      // unknown attribute group → JSON-RPC error, not a hang/crash
      val conn = new URL(s"http://127.0.0.1:$port/rpc")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/x-msgpack")
      conn.setDoOutput(true)
      conn.getOutputStream.write(MsgPack.encode(Map("jsonrpc" -> "2.0",
        "method" -> "DataService.Query",
        "params" -> Seq(Map("requests" -> Seq(Map("destination" -> "NOPE/1Min/MISSING")))),
        "id" -> 9L)))
      val resp = MsgPack.decode(conn.getInputStream.readAllBytes()).asInstanceOf[Map[Any, Any]]
      assert(resp.contains("error"))
      assert(resp("error").asInstanceOf[Map[Any, Any]]("message") != null)
    } finally srv.stop()
  }

  test("wire writes fire matching triggers (executor/written.go dispatch)") {
    val root = java.nio.file.Files.createTempDirectory("graft-wire-trig").toString
    val cat = new BucketCatalog(spark, root)
    val reg = new graft.streaming.TriggerRegistry
    val fired = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    reg.register("*/1Min/*", (tbk: String, batch: org.apache.spark.sql.DataFrame) =>
      fired.synchronized { fired += (tbk -> batch.count()) })
    val srv = new RpcServer(spark, cat, port = 0, triggers = Some(reg))
    srv.start()
    try {
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Open", DoubleType)))
      val rows = (0 until 5).map(i => org.apache.spark.sql.Row(1590000000L + 60L * i, 1.0 + i))
      val ds = NumpyCodec.encode(schema, Seq(
        "AAPL/1Min/OHLC" -> rows, "AAPL/5Min/OHLC" -> rows))
      rpc(srv.boundPort, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> ds, "is_variable_length" -> false))))
      // only the 1Min bucket matches the glob
      assert(fired.toSeq == Seq("AAPL/1Min/OHLC" -> 5L))
    } finally srv.stop()
  }

  test("full ingest loop over the wire: write fires the cascade, coarser bars queryable") {
    val root = java.nio.file.Files.createTempDirectory("graft-wire-loop").toString
    val cat = new BucketCatalog(spark, root)
    val reg = new graft.streaming.TriggerRegistry
    val cascade = new graft.streaming.DownsampleCascade(
      cat, "OHLCV", "1Min", destinations = Seq("5Min"), sums = Seq("Volume"))
    // write lands the batch; the trigger re-derives the touched 5Min
    // windows — the reference's ondiskagg deployment loop
    reg.register("*/1Min/OHLCV", (tbk: String, batch: org.apache.spark.sql.DataFrame) =>
      cascade.cascade(batch.select(
        org.apache.spark.sql.functions.col("symbol"),
        org.apache.spark.sql.functions.col("Epoch"))))
    val srv = new RpcServer(spark, cat, port = 0, triggers = Some(reg))
    srv.start()
    try {
      val t0 = 1590000000L // divisible by 300 → clean 5Min windows
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Open", DoubleType),
        StructField("High", DoubleType), StructField("Low", DoubleType),
        StructField("Close", DoubleType), StructField("Volume", DoubleType)))
      val bars = (0 until 10).map(i => org.apache.spark.sql.Row(
        t0 + 60L * i, i.toDouble, i + 0.5, i - 0.5, i + 0.25, 10.0))
      rpc(srv.boundPort, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> NumpyCodec.encode(schema, Seq("AAPL/1Min/OHLCV" -> bars)),
        "is_variable_length" -> false))))
      val q = rpc(srv.boundPort, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "AAPL/5Min/OHLCV"))))
      val (rs, groups) = NumpyCodec.decode(
        q("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]("result")
          .asInstanceOf[Map[Any, Any]])
      val candles = groups.toMap.apply("AAPL/5Min/OHLCV")
      assert(candles.size == 2)
      def f(r: org.apache.spark.sql.Row, c: String) = r.getDouble(rs.fieldIndex(c))
      val first = candles.head
      assert(first.getLong(rs.fieldIndex("Epoch")) == t0)
      assert(f(first, "Open") == 0.0 && f(first, "Close") == 4.25)
      assert(f(first, "High") == 4.5 && f(first, "Low") == -0.5)
      assert(f(first, "Volume") == 50.0)
    } finally srv.stop()
  }

  test("non-stored timeframe served by substitution with scaled LAST-limit over the wire") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wire-tf").toString
    val cat = new BucketCatalog(spark, root)
    val t0 = 1590000000L
    cat.writeMulti("OHLC", "1Min", (0 until 30).map(i =>
      ("AAPL", t0 + 60L * i, 100.0 + i)).toDF("symbol", "Epoch", "Open"))
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      // 5Min was never stored: the query serves it from the stored
      // 1Min bucket, scaling LAST 2 → 10 base rows
      // (frontend/query.go:313-334 + utils/timeframe.go:189-208)
      val q = rpc(srv.boundPort, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "AAPL/5Min/OHLC",
        "limit_record_count" -> 2L, "limit_from_start" -> false))))
      val (rs, groups) = NumpyCodec.decode(
        q("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]("result")
          .asInstanceOf[Map[Any, Any]])
      val rows = groups.head._2
      assert(rows.size == 10) // LAST 2 five-minute windows = 10 one-minute rows
      val ep = rs.fieldIndex("Epoch")
      assert(rows.map(_.getLong(ep)) == (20 until 30).map(i => t0 + 60L * i))
    } finally srv.stop()
  }

  test("multi-symbol SQL results keep every row in one span; u8 columns round-trip GetInfo") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wire-sqlm").toString
    val cat = new BucketCatalog(spark, root)
    val t0 = 1590000000L
    cat.writeMulti("OHLC", "1Min", Seq(
      ("AAPL", t0, 1.0), ("AAPL", t0 + 60L, 2.0),
      ("TSLA", t0, 7.0)).toDF("symbol", "Epoch", "Open"))
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      // a SQL union across two TBK views yields a multi-symbol frame:
      // it must arrive as ONE ":SQL" span with symbol as a data column
      val stmt =
        """SELECT symbol, Epoch, Open FROM `AAPL/1Min/OHLC`
           UNION ALL SELECT symbol, Epoch, Open FROM `TSLA/1Min/OHLC`"""
      val q = rpc(srv.boundPort, "DataService.Query", Map("requests" -> Seq(Map(
        "is_sqlstatement" -> true, "sql_statement" -> stmt))))
      val result = q("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]("result").asInstanceOf[Map[Any, Any]]
      assert(result("length") == 3L)
      val (rs, groups) = NumpyCodec.decode(result)
      assert(groups.size == 1 && groups.head._1.endsWith(":SQL"))
      assert(rs.fieldNames.contains("symbol"))
      val syms = groups.head._2.map(_.getString(rs.fieldIndex("symbol")))
      assert(syms.count(_ == "AAPL") == 2 && syms.count(_ == "TSLA") == 1)

      // u8 create → GetInfo round trip (DecimalType(20,0) ↔ "u8")
      rpc(srv.boundPort, "DataService.Create", Map("requests" -> Seq(Map(
        "key" -> "X/1Min/COUNTS:Symbol/Timeframe/AttributeGroup",
        "column_names" -> Seq("Epoch", "Hits"),
        "column_types" -> Seq("i8", "u8"),
        "is_variable_length" -> false))))
      val info = rpc(srv.boundPort, "DataService.GetInfo", Map("requests" -> Seq(Map(
        "key" -> "X/1Min/COUNTS"))))("responses").asInstanceOf[Seq[Any]].head
        .asInstanceOf[Map[Any, Any]]
      assert(info("ServerResp").asInstanceOf[Map[Any, Any]]("error") == "")
      val dsv = info("DSV").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[Any, Any]])
      assert(dsv.map(d => d("Name") -> d("Type")) == Seq("Epoch" -> 3L, "Hits" -> 13L))
    } finally srv.stop()
  }

  test("OpsService.Run: dedup_exact / knn / report_card as server jobs over the socket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-rpc").toString
    // a tiny corpus with one exact clone pair and two sources
    Seq(
      (1L, "the quick brown fox", "en", "web"),
      (2L, "the quick brown fox", "en", "web"),
      (3L, "ganz anderer text hier", "de", "web"),
      (4L, "the house and the water with the other people", "en", "books"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/docs")
    // four 2-d embeddings: 10 and 11 nearly parallel, 12 orthogonal
    Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.0f, 1.0f)), (13L, Seq(-1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/emb")
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-wire-ops").toString)
    val srv = new RpcServer(spark, cat, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val port = srv.boundPort
      // exact dedup: clone pair (1,2) collapses to canonical 1
      val dd = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> s"$dir/docs"))
      assert(dd("columns") == Vector("doc_id", "canonical_id"), dd("columns").toString)
      val mapping = dd("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
      assert(mapping == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), mapping.toString)
      assert(dd("truncated") == false)
      // knn: n_queries is a COUNT (the smallest-id rows) — 1 selects
      // vec 10; its top-2 are 11 (cos ≈ 0.994) then 12
      val knn = rpc(port, "OpsService.Run",
        Map("op" -> "knn", "input" -> s"$dir/emb",
          "options" -> Map("k" -> 2L, "n_queries" -> 1L)))
      val hits = knn("rows").asInstanceOf[Seq[Seq[Any]]]
        .filter(_.head == 10L).map(r => r(1).asInstanceOf[Long])
      assert(hits == Seq(11L, 12L), s"knn rows: ${knn("rows")}")
      // knn_sq8: the same contract over the compressed corpus — on
      // this well-separated fixture the ranking matches exact knn
      val knn8 = rpc(port, "OpsService.Run",
        Map("op" -> "knn_sq8", "input" -> s"$dir/emb",
          "options" -> Map("k" -> 2L, "n_queries" -> 1L)))
      val hits8 = knn8("rows").asInstanceOf[Seq[Seq[Any]]]
        .filter(_.head == 10L).map(r => r(1).asInstanceOf[Long])
      assert(hits8 == Seq(11L, 12L), s"knn_sq8 rows: ${knn8("rows")}")
      // knn_pq (r11): ADC candidates + exact-dot re-rank as a server
      // job — with k_cand covering the whole corpus the composite
      // answers the exhaustive dot ranking whatever the codebook
      // quality (scores are dots: 11 -> 0.9, 12 -> 0.0, 13 -> -1.0)
      val knnPq = rpc(port, "OpsService.Run",
        Map("op" -> "knn_pq", "input" -> s"$dir/emb",
          "options" -> Map("k" -> 2L, "n_queries" -> 1L, "k_cand" -> 3L,
            "m" -> 2L, "ksub" -> 4L, "train_iters" -> 0L)))
      val hitsPq = knnPq("rows").asInstanceOf[Seq[Seq[Any]]]
        .filter(_.head == 10L).map(r => r(1).asInstanceOf[Long])
      assert(hitsPq == Seq(11L, 12L), s"knn_pq rows: ${knnPq("rows")}")
      // report card: per-source health table
      val rep = rpc(port, "OpsService.Run",
        Map("op" -> "report_card", "input" -> s"$dir/docs"))
      assert(rep("columns") == Vector(
        "source", "n_docs", "n_distinct_texts", "total_tokens", "avg_tokens", "n_en"))
      val bySource = rep("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => r.head.toString -> r).toMap
      assert(bySource("web")(1) == 3L && bySource("web")(2) == 2L,
        s"web row: ${bySource("web")}")
      assert(bySource("books")(1) == 1L && bySource("books")(5) == 1L)
      // output mode: job lands parquet, returns the observed row count
      val outPath = s"$dir/dedup_out"
      val wrote = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> s"$dir/docs", "output" -> outPath))
      assert(wrote("rows_written") == 4L, wrote.toString)
      assert(spark.read.parquet(outPath).count() == 4L)
      // inline cap: limit=2 truncates and says so
      val capped = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> s"$dir/docs", "limit" -> 2L))
      assert(capped("rows").asInstanceOf[Seq[_]].size == 2 && capped("truncated") == true)
      // unknown op errors cleanly through the rpc error channel
      val bad = rpcRaw(port, "OpsService.Run", Map("op" -> "nope", "input" -> s"$dir/docs"))
      assert(bad.contains("error"), bad.toString)
    } finally srv.stop()
  }

  test("OpsService.Run: knn_ivf serves from the trigger-maintained index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-ivf").toString
    // two well-separated clusters (x-axis, y-axis) + a straggler
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)), (12L, Seq(0.95f, 0.05f)),
      (20L, Seq(0.0f, 1.0f)), (21L, Seq(0.1f, 0.9f)),
      (30L, Seq(-1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.ops.Similarity.sampledCentroids(corpus, 4)
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, s"$dir/idx")
    trig.fire("V/1Sec/EMB", corpus.filter(col("vec_id") < 20))
    trig.fire("V/1Sec/EMB", corpus.filter(col("vec_id") >= 20)) // delta append
    trig.writeCentroids(s"$dir/cents")
    corpus.filter(col("vec_id") === 10L || col("vec_id") === 20L)
      .write.parquet(s"$dir/queries")
    corpus.write.parquet(s"$dir/corpus")
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-wire-ivf").toString)
    val srv = new RpcServer(spark, cat, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val port = srv.boundPort
      // full probe == exact: server result matches brute force exactly
      val got = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "idx", "centroids" -> "cents", "k" -> 2L)))
      assert(got("columns") == Vector("query_id", "vec_id", "score"), got("columns").toString)
      // the probe contract is ON the response (r12): no n_probe and no
      // probe_recall option → full probe, depth = cell count
      assert(got("probe_source") == "full" && got("n_probe").toString.toLong == 4L,
        s"full-probe contract fields: ${got.filterKeys(k => k.toString.contains("probe"))}")
      val rows = got("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val expect = graft.ops.Similarity.bruteForceTopK(
          corpus, corpus.filter(col("vec_id") === 10L || col("vec_id") === 20L), 2)
        .orderBy("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == expect, s"got $rows expected $expect")
      // parquet-out mode: job lands the hit table, returns its count
      val wrote = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries", "output" -> "ivf_out",
          "options" -> Map("index" -> "idx", "centroids" -> "cents", "k" -> 2L)))
      assert(wrote("rows_written") == 4L, wrote.toString)
      assert(spark.read.parquet(s"$dir/ivf_out").count() == 4L)
      // n_probe=1 prunes to the query's own cluster cell — results
      // stay within-cluster on this separated fixture
      val pruned = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "idx", "centroids" -> "cents",
            "k" -> 2L, "n_probe" -> 1L)))
      val prunedRows = pruned("rows").asInstanceOf[Seq[Seq[Any]]]
      assert(prunedRows.nonEmpty)
      // an explicit depth is echoed back as such
      assert(pruned("probe_source") == "explicit" &&
        pruned("n_probe").toString.toLong == 1L, pruned.toString)
      // dedup_semantic job: 4 pairs clear threshold 0.8 (3 in the
      // x-cluster, 1 in the y-cluster); cap=1 with one cell keeps
      // exactly the highest-cosine pair (10,12)
      val sem = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_semantic", "input" -> "corpus",
          "options" -> Map("threshold" -> 0.8, "n_cells" -> 1L, "cap" -> 1L)))
      val semRows = sem("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(semRows == Seq((10L, 12L)), s"cap=1 top pair: $semRows")
      val semAll = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_semantic", "input" -> "corpus",
          "options" -> Map("threshold" -> 0.8, "n_cells" -> 1L, "cap" -> 0L)))
      assert(semAll("rows").asInstanceOf[Seq[_]].size == 4, semAll("rows").toString)
      // a missing index/centroids option errors via the rpc channel
      val bad = rpcRaw(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries"))
      assert(bad.contains("error"), bad.toString)
      // the index path is ops-root-confined like every other path
      val esc = rpcRaw(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "/etc", "centroids" -> "cents")))
      assert(esc.contains("error"), esc.toString)
      // blue/green refresh (r10): retrain + rebuild flips the index
      // AND its quantizer in one generation marker; a request with NO
      // centroids option serves from the generation's own quantizer —
      // full probe stays exact across the flip, so the pre-flip
      // expectation still holds verbatim
      trig.refreshQuantizer(trainIters = 2)
      val flipped = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "idx", "k" -> 2L)))
      val flippedRows = flipped("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(flippedRows == expect, s"across the flip: $flippedRows expected $expect")
      // probe_recall derives the depth server-side when n_probe is
      // absent — a contract, not a geometry, crosses the wire
      val contracted = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "idx", "k" -> 2L, "probe_recall" -> 1.0)))
      val contractedRows = contracted("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(contractedRows == expect, s"probe_recall=1.0 must stay exact: $contractedRows")
      // a calibrated serve reports the floor, the derived depth, the
      // cache fingerprint, and the contract's one remaining assumption
      // — so a client can detect a stale or inherited calibration
      assert(contracted("probe_source") == "calibrated" &&
        contracted("recall_floor").toString.toDouble == 1.0 &&
        contracted("n_probe").toString.toLong >= 1L &&
        contracted("calibration_fingerprint").toString.contains("#path:") &&
        contracted("calibration_assumes").toString.contains("stationary"),
        s"calibrated contract fields: ${contracted.filterKeys(_.toString.startsWith("calib")).toMap} ${contracted.get("probe_source")} ${contracted.get("recall_floor")}")
      // knn_ivf_refresh: blue/green reindex ON DEMAND over the wire —
      // a second retrain flips another generation, and serving (still
      // no centroids option) keeps answering exactly at full probe
      val refreshed = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf_refresh", "input" -> "idx",
          "options" -> Map("train_iters" -> 1L)))
      val refRow = refreshed("rows").asInstanceOf[Seq[Seq[Any]]].head
      assert(refRow.head.toString.startsWith("gen-") && refRow(1).toString.toLong > 0,
        s"refresh must report the flipped generation: $refreshed")
      val afterRef = rpc(port, "OpsService.Run",
        Map("op" -> "knn_ivf", "input" -> "queries",
          "options" -> Map("index" -> "idx", "k" -> 2L)))
      val afterRefRows = afterRef("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(afterRefRows == expect, s"serve after wire refresh: $afterRefRows")
    } finally srv.stop()
  }

  test("probe-recall calibration cache: hit on repeat, re-key on append and on a new query source, contract held") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-cal").toString
    val corpus0 = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)), (12L, Seq(0.95f, 0.05f)),
      (20L, Seq(0.0f, 1.0f)), (21L, Seq(0.1f, 0.9f)),
      (30L, Seq(-1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.ops.Similarity.sampledCentroids(corpus0, 4)
    val trig = new graft.streaming.IvfIndexTrigger(spark, cents, s"$dir/idx")
    trig.fire("V/1Sec/EMB", corpus0)
    // compact so the index is generation-resolved with its own
    // persisted quantizer — the pure-path case the cache serves (an
    // explicit centroids option is deliberately uncacheable)
    trig.compact()
    val q1 = corpus0.filter(col("vec_id") === 10L || col("vec_id") === 20L)
    q1.write.parquet(s"$dir/queries")
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-wire-cal").toString)
    val srv = new RpcServer(spark, cat, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val port = srv.boundPort
      var lastResp: Map[Any, Any] = Map.empty
      def serve(input: String): Seq[(Long, Long)] = {
        lastResp = rpc(port, "OpsService.Run",
          Map("op" -> "knn_ivf", "input" -> input,
            "options" -> Map("index" -> "idx", "k" -> 2L, "probe_recall" -> 1.0)))
        lastResp("rows").asInstanceOf[Seq[Seq[Any]]]
          .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      }
      def fingerprint: String = lastResp("calibration_fingerprint").toString
      def brute(c: org.apache.spark.sql.DataFrame,
          q: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        graft.ops.Similarity.bruteForceTopK(c, q, 2)
          .orderBy("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      def cals: Double = srv.metrics.probeCalibrations.get
      val c0 = cals
      // first request calibrates (observable at /metrics) and, at
      // floor 1.0 with the queries inside the calibration sample,
      // answers exactly
      assert(serve("queries") == brute(corpus0, q1))
      assert(cals == c0 + 1, s"first request must calibrate: $c0 -> $cals")
      val fp1 = fingerprint
      // identical request -> cache hit: no second exact pass, same
      // reported fingerprint (the client-visible staleness detector)
      assert(serve("queries") == brute(corpus0, q1))
      assert(cals == c0 + 1, s"repeat request must hit the cache: $cals")
      assert(fingerprint == fp1, "a cache hit must echo the same fingerprint")
      // an append into the SAME generation (no flip) changes the
      // directory signature: the cached depth may no longer cover the
      // new vectors, so the server must RE-calibrate — and the new
      // neighbors must displace the old ones in the answer
      val delta = Seq((13L, Seq(0.98f, 0.02f)), (22L, Seq(0.05f, 0.95f)))
        .toDF("vec_id", "embedding")
      trig.fire("V/1Sec/EMB", delta)
      val corpus1 = corpus0.unionByName(delta)
      assert(serve("queries") == brute(corpus1, q1),
        "post-append serve must reflect the appended neighbors exactly")
      assert(cals == c0 + 2, s"append must force a re-calibration: $cals")
      assert(fingerprint != fp1, "an append must rotate the reported fingerprint")
      val fp2 = fingerprint
      // a DIFFERENT query source with the same (k, floor) gets its own
      // calibration — the first client's depth is not silently reused
      // for a query distribution it was never derived on
      val q2 = corpus1.filter(col("vec_id") === 30L)
      q2.write.parquet(s"$dir/queries2")
      assert(serve("queries2") == brute(corpus1, q2))
      assert(cals == c0 + 3, s"a new query source must calibrate: $cals")
      assert(fingerprint != fp2, "a new query source must carry its own fingerprint")
      // ... and repeating it hits ITS cache entry
      assert(serve("queries2") == brute(corpus1, q2))
      assert(cals == c0 + 3)
    } finally srv.stop()
  }

  test("OpsService.Run: client paths are confined to the ops root; no root disables ops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-confine").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/docs")
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-wire-confine").toString)
    val srv = new RpcServer(spark, cat, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val port = srv.boundPort
      // absolute path outside the root → refused on input
      val esc = rpcRaw(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> "/etc/passwd"))
      assert(esc.contains("error"), esc.toString)
      // ..-escape → refused even when the prefix matches the root
      val dots = rpcRaw(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> s"$dir/../outside"))
      assert(dots.contains("error"), dots.toString)
      // relative paths resolve UNDER the root
      val rel = rpc(port, "OpsService.Run", Map("op" -> "dedup_exact", "input" -> "docs"))
      assert(rel("rows").asInstanceOf[Seq[_]].size == 2, rel.toString)
      // output escape → refused BEFORE any write happens
      val outEsc = rpcRaw(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> "docs",
          "output" -> "/tmp/graft-ops-escape-should-not-exist"))
      assert(outEsc.contains("error"), outEsc.toString)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get("/tmp/graft-ops-escape-should-not-exist")))
      // output defaults to errorifexists: clobbering an existing
      // dataset needs the explicit overwrite flag
      val clobber = rpcRaw(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> "docs", "output" -> "docs"))
      assert(clobber.contains("error"), clobber.toString)
      assert(spark.read.parquet(s"$dir/docs").count() == 2L) // input intact
      val replaced = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> "docs", "output" -> "out1",
          "overwrite" -> true))
      assert(replaced("rows_written") == 2L, replaced.toString)
    } finally srv.stop()
    // a server constructed without an ops root refuses the endpoint
    val noRoot = new RpcServer(spark, cat, port = 0)
    noRoot.start()
    try {
      val r = rpcRaw(noRoot.boundPort, "OpsService.Run",
        Map("op" -> "dedup_exact", "input" -> s"$dir/docs"))
      assert(r.contains("error"), r.toString)
    } finally noRoot.stop()
  }

  test("OpsService.Run: dedup_minhash_delta + text_decontaminate server jobs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-delta").toString
    // existing corpus: two docs; new batch: one near-identical to corpus
    // doc 1, one novel
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "completely different corpus content about ships and harbors"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/corpus")
    Seq(
      (100L, "the quick brown fox jumps over the lazy dog again today"),
      (101L, "novel text that matches nothing in the existing corpus"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/batch")
    // eval set sharing one 3-gram with corpus doc 1
    Seq((900L, "quick brown fox"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/eval")
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-wire-delta").toString)
    val srv = new RpcServer(spark, cat, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val port = srv.boundPort
      val delta = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_minhash_delta", "input" -> "batch",
          "options" -> Map("corpus" -> "corpus", "threshold" -> 0.9)))
      assert(delta("columns") == Vector("id1", "id2", "jaccard"), delta.toString)
      val pairs = delta("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(pairs == Seq((1L, 100L)), s"delta pairs: $pairs")
      // the incremental shape over the wire: build the corpus's band
      // index as a server job, then gate the batch AGAINST the index —
      // same answer, corpus never re-shingled
      val built = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_minhash_index", "input" -> "corpus", "output" -> "bandidx"))
      assert(built("rows_written").asInstanceOf[Long] > 0, built.toString)
      val viaIdx = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_minhash_delta", "input" -> "batch",
          "options" -> Map("corpus" -> "corpus", "threshold" -> 0.9,
            "index" -> "bandidx")))
      val idxPairs = viaIdx("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(idxPairs == pairs, s"index-served delta diverges: $idxPairs vs $pairs")
      val decon = rpc(port, "OpsService.Run",
        Map("op" -> "text_decontaminate", "input" -> "corpus",
          "options" -> Map("eval" -> "eval")))
      assert(decon("columns") == Vector(
        "doc_id", "train_grams", "hit_grams", "contaminated_frac"), decon.toString)
      val rows = decon("rows").asInstanceOf[Seq[Seq[Any]]]
      assert(rows.map(_.head) == Seq(1L), s"contaminated docs: $rows")
      assert(rows.head(2) == 1L, s"hit grams: ${rows.head}")
      // corpus ops run over CATALOG buckets too (tbk input — no export
      // step, no ops root needed: the catalog confines the read)
      cat.write(graft.core.TimeBucketKey.parse("DOCS/1Sec/CORPUS"),
        Seq((1L, 101L, "same text twice"), (2L, 102L, "same text twice"),
          (3L, 103L, "unique row here"))
          .toDF("Epoch", "doc_id", "text"))
      val viaTbk = rpc(port, "OpsService.Run",
        Map("op" -> "dedup_exact", "tbk" -> "DOCS/1Sec/CORPUS"))
      val m2 = viaTbk("rows").asInstanceOf[Seq[Seq[Any]]]
        .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
      assert(m2 == Map(101L -> 101L, 102L -> 101L, 103L -> 103L), m2.toString)
    } finally srv.stop()
  }

  test("/metrics exposes request histograms and moves after traffic (metrics/metrics.go)") {
    val root = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    val cat = new BucketCatalog(spark, root)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      def scrape(): String = {
        val conn = new URL(s"http://127.0.0.1:$port/metrics")
          .openConnection().asInstanceOf[HttpURLConnection]
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      }
      def counter(body: String, name: String): Long =
        body.linesIterator.find(_.startsWith(name)).map(_.split("\\s+").last.toLong)
          .getOrElse(0L)
      val before = scrape()
      assert(before.contains("# TYPE alpaca_marketstore_rpc_total_request_duration_seconds histogram"))
      assert(before.contains("alpaca_marketstore_ws_connections 0"))
      // the IVF protocol counters are on the ops surface (sampled live
      // from the trigger; process-local like every gauge here)
      assert(before.contains("# TYPE alpaca_marketstore_ops_ivf_seal_waits gauge") &&
        before.contains("# TYPE alpaca_marketstore_ops_ivf_serve_repins gauge") &&
        before.contains("# TYPE alpaca_marketstore_ops_ivf_ticket_renewal_failures gauge") &&
        before.contains("# TYPE alpaca_marketstore_ops_ivf_ack_recoveries gauge"),
        "IVF seal/serve/renewal/ack protocol gauges must be exposed")
      val c0 = counter(before, "alpaca_marketstore_rpc_total_request_duration_seconds_count")

      // one write + one query move the total, per-method and write hists
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Open", DoubleType)))
      val ds = NumpyCodec.encode(schema, Seq("AAPL/1Min/MET" ->
        (0 until 3).map(i => org.apache.spark.sql.Row(1590000000L + 60L * i, 1.0 + i))))
      rpc(port, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> ds, "is_variable_length" -> false))))
      rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "AAPL/1Min/MET"))))
      val after = scrape()
      assert(counter(after, "alpaca_marketstore_rpc_total_request_duration_seconds_count") >= c0 + 2)
      assert(after.contains("""method="DataService.Query""""))
      assert(counter(after, "alpaca_marketstore_write_csm_duration_seconds_count") >= 1)
      // ws gauge tracks live connections through the shared registry
      val ws = new graft.wire.WsServer(metrics = Some(srv.metrics))
      ws.start()
      val sock = new java.net.Socket("127.0.0.1", ws.boundPort)
      sock.getOutputStream.write(
        ("GET /ws HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
          "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n\r\n").getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val deadline = System.currentTimeMillis() + 5000
      while (!scrape().contains("alpaca_marketstore_ws_connections 1") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(scrape().contains("alpaca_marketstore_ws_connections 1"))
      sock.close()
      while (!scrape().contains("alpaca_marketstore_ws_connections 0") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(scrape().contains("alpaca_marketstore_ws_connections 0"))
      ws.close()
    } finally srv.stop()
  }

  test("numpy wire shape matches the reference field-for-field (utils/io/numpy.go:45-156)") {
    // hand-authored fixture, NOT a self-round-trip: a NumpyMultiDataset
    // for two rows of (Epoch i8, Open f4) must carry exactly the
    // msgpack keys types/names/data/length/startindex/lengths with
    // little-endian column blobs — what a pymarketstore client decodes
    val schema = StructType(Seq(
      StructField("Epoch", LongType), StructField("Open", FloatType)))
    val enc = NumpyCodec.encode(schema, Seq("AAPL/1Min/OHLC" -> Seq(
      org.apache.spark.sql.Row(1590000000L, 1.5f),
      org.apache.spark.sql.Row(1590000060L, 2.5f))))
    assert(enc.keySet == Set("types", "names", "data", "length", "startindex", "lengths"))
    assert(enc("types") == Seq("i8", "f4"))
    assert(enc("names") == Seq("Epoch", "Open"))
    assert(enc("length") == 2L)
    assert(enc("startindex") == Map("AAPL/1Min/OHLC" -> 0L))
    assert(enc("lengths") == Map("AAPL/1Min/OHLC" -> 2L))
    val data = enc("data").asInstanceOf[Seq[Array[Byte]]]
    // ColumnData[i] = concatenated little-endian row values (numpy.go:50-56)
    def le64(v: Long): Seq[Byte] = (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte)
    def le32f(v: Float): Seq[Byte] = {
      val bits = java.lang.Float.floatToIntBits(v)
      (0 until 4).map(i => ((bits >>> (8 * i)) & 0xff).toByte)
    }
    assert(data(0).toSeq == le64(1590000000L) ++ le64(1590000060L))
    assert(data(1).toSeq == le32f(1.5f) ++ le32f(2.5f))
    // and the msgpack layer preserves exactly those keys on the wire
    val onWire = MsgPack.decode(MsgPack.encode(enc)).asInstanceOf[Map[Any, Any]]
    assert(onWire.keySet.map(_.toString) ==
      Set("types", "names", "data", "length", "startindex", "lengths"))
    assert(onWire("data").asInstanceOf[Seq[Any]].head
      .asInstanceOf[Array[Byte]].toSeq == data(0).toSeq)
  }

  test("rpc server speaks plain JSON too") {
    val root = java.nio.file.Files.createTempDirectory("graft-wire-json").toString
    val cat = new BucketCatalog(spark, root)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val conn = new URL(s"http://127.0.0.1:${srv.boundPort}/rpc")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"jsonrpc":"2.0","method":"DataService.ListSymbols","params":[{}],"id":7}"""
          .getBytes("UTF-8"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getHeaderField("Content-Type").contains("application/json"))
      assert(body.contains(""""Results":[]""") && body.contains(""""id":7"""))

      // no Content-Type header at all (raw socket — HttpURLConnection
      // always injects one): the '{' body sniffs as JSON
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(5000)
      val payload =
        """{"jsonrpc":"2.0","method":"DataService.ListSymbols","params":[{}],"id":8}"""
      sock.getOutputStream.write(
        (s"POST /rpc HTTP/1.1\r\nHost: localhost\r\nContent-Length: ${payload.length}\r\n" +
          s"Connection: close\r\n\r\n$payload").getBytes("UTF-8"))
      val raw = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      sock.close()
      assert(raw.contains("application/json") && raw.contains(""""id":8"""))
    } finally srv.stop()
  }

  test("goDuration renders Go time.Duration strings") {
    import graft.wire.RpcServer.goDuration
    assert(goDuration(0L) == "0s")
    assert(goDuration(500L) == "500ns")
    assert(goDuration(1500L) == "1.5µs")
    assert(goDuration(842000000L) == "842ms")
    assert(goDuration(1234000000L) == "1.234s")
    assert(goDuration(63200000000L) == "1m3.2s")
    assert(goDuration(3723000000000L) == "1h2m3s")
    assert(goDuration(7200000000000L) == "2h0m0s")
  }

  test("/heartbeat reports queryable status; gate refuses reads (frontend/utilities.go:30-77)") {
    val root = java.nio.file.Files.createTempDirectory("graft-hb").toString
    val cat = new BucketCatalog(spark, root)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      def beat(): (Int, String) = {
        val conn = new URL(s"http://127.0.0.1:$port/heartbeat")
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val in = if (code == 200) conn.getInputStream else conn.getErrorStream
        (code, new String(in.readAllBytes(), "UTF-8"))
      }
      val (okCode, okBody) = beat()
      assert(okCode == 200 && okBody.contains("\"status\":\"queryable\""))
      assert(okBody.contains("\"version\"") && okBody.contains("\"uptime\""))
      // uptime is a Go time.Duration string (utilities.go:50 serves
      // time.Since(start).String()), e.g. "1.234s" / "1m3.2s" / "842ms"
      val up = "\"uptime\":\"([^\"]+)\"".r.findFirstMatchIn(okBody).get.group(1)
      assert(up.matches("""(\d+h)?(\d+m)?\d+(\.\d+)?s|\d+(\.\d+)?(ms|µs|ns)"""),
        s"uptime '$up' is not a Go duration string")

      // flip off: heartbeat 503s and read endpoints refuse with the
      // reference's errNotQueryable message (frontend/server.go:21)
      srv.setQueryable(false)
      val (downCode, downBody) = beat()
      assert(downCode == 503 && downBody.contains("\"status\":\"not queryable\""))
      val req = Map("jsonrpc" -> "2.0", "method" -> "DataService.ListSymbols",
        "params" -> Seq(Map.empty[String, Any]), "id" -> 1L)
      val conn = new URL(s"http://127.0.0.1:$port/rpc")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/x-msgpack")
      conn.setDoOutput(true)
      conn.getOutputStream.write(MsgPack.encode(req))
      val resp = MsgPack.decode(conn.getInputStream.readAllBytes())
        .asInstanceOf[Map[Any, Any]]
      val err = resp("error").asInstanceOf[Map[Any, Any]]
      assert(err("message").toString == "server is not queryable")

      srv.setQueryable(true)
      assert(beat()._1 == 200)
    } finally srv.stop()
  }

  test("keep-alive responses do not wait for the client's delayed ACK") {
    // without TCP_NODELAY the body segment waits ~40 ms for the ACK of
    // the header segment on every call; with it a loopback call takes
    // a few ms
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-nodelay").toString)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      def medianMs(call: => Unit): Double = {
        val ms = (1 to 20).map { _ =>
          val t0 = System.nanoTime()
          call
          (System.nanoTime() - t0) / 1e6
        }.sorted
        (ms(9) + ms(10)) / 2
      }
      val beat = medianMs {
        val conn = new URL(s"http://127.0.0.1:$port/heartbeat")
          .openConnection().asInstanceOf[HttpURLConnection]
        val in = conn.getInputStream
        in.readAllBytes()
        in.close()
      }
      val list = medianMs {
        assert(rpc(port, "DataService.ListSymbols", Map.empty)("Results") == Vector())
      }
      assert(beat < 20.0 && list < 20.0,
        f"median round trips: /heartbeat $beat%.1f ms, ListSymbols $list%.1f ms")
    } finally srv.stop()
  }

  test("every Spark job of an RPC runs in a job group named after its request id") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val cat = new BucketCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-jobgroup").toString)
    val srv = new RpcServer(spark, cat, port = 0)
    srv.start()
    // job groups in listener order; markers run on this thread bracket
    // the query's jobs, and the bus delivers events in order
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(): Unit = {
      sc.setJobGroup("wirespec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    def markers: Int = groups.asScala.count(_ == "wirespec-marker")
    sc.addSparkListener(listener)
    try {
      val port = srv.boundPort
      val schema = StructType(Seq(
        StructField("Epoch", LongType), StructField("Close", DoubleType)))
      val ds = NumpyCodec.encode(schema, Seq("AAPL/1Min/JG" ->
        (0 until 5).map(i => org.apache.spark.sql.Row(1590000000L + 60L * i, 1.0 + i))))
      rpc(port, "DataService.Write", Map("requests" -> Seq(Map(
        "dataset" -> ds, "is_variable_length" -> false))))
      marker()
      val q = rpc(port, "DataService.Query", Map("requests" -> Seq(Map(
        "destination" -> "AAPL/1Min/JG", "limit_record_count" -> 2L,
        "limit_from_start" -> false))), id = 4242L)
      assert(q("responses").asInstanceOf[Seq[Any]].size == 1)
      marker()
      val deadline = System.currentTimeMillis() + 10000
      while (markers < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markers == 2, "listener did not see both marker jobs")
      val seen = groups.asScala.toSeq
      val queryJobs = seen.drop(seen.indexOf("wirespec-marker") + 1)
        .takeWhile(_ != "wirespec-marker")
      assert(queryJobs.nonEmpty, "the query ran no Spark job")
      assert(queryJobs.forall(_ == "rpc-4242"), s"job groups of the query: $queryJobs")
    } finally {
      sc.removeSparkListener(listener)
      srv.stop()
    }
  }
}
