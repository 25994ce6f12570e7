package graft.wire

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.api.{NumpyTypes, QueryRequest, QueryService, ServerInfo}
import graft.catalog.BucketCatalog
import graft.core.{CandleDuration, TimeBucketKey}
import graft.sql.SqlService
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JSON-RPC 2.0 server on `POST /rpc`, speaking both
  * `application/x-msgpack` (utils/rpc/msgpack2/server.go:24-60) and
  * `application/json` — the reference's wire surface
  * (frontend/server.go:66-85), so a pymarketstore-style client's
  * Query/Write/Create/Destroy/ListSymbols/GetInfo round-trips work
  * against this engine unchanged.
  *
  * The HTTP layer is the JDK's built-in server: the RPC front is a
  * control-plane fan-in (requests are row-bounded by LIMIT/range;
  * heavy lifting stays in Spark jobs), so no server framework is
  * warranted. Method dispatch mirrors frontend/query.go:91-116 and
  * frontend/write.go:36-51,70-128,152-210.
  */
class RpcServer(
    spark: SparkSession,
    catalog: BucketCatalog,
    port: Int = 5993,
    timezone: String = "UTC",
    triggers: Option[graft.streaming.TriggerRegistry] = None,
    val metrics: Metrics = new Metrics,
    opsRoot: Option[String] = None) {

  private val queryService = new QueryService(catalog)
  private val sqlService = new SqlService(spark, Some(catalog))
  private val json = new ObjectMapper()
  private val startNanos = System.nanoTime()
  // (resolved generation path, k, recall floor) → calibrated probe
  // depth; see the knn_ivf probe_recall branch. Bounded: one entry
  // per live generation × (k, floor) pair a client actually uses,
  // and generations are retired by compaction/refresh.
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Double), Integer]()
  /** frontend/utilities.go:14 `Queryable` — flipped off during bulk
    * maintenance (the reference starts false until WAL replay
    * finishes); read endpoints refuse while unset.
    */
  private val queryable = new java.util.concurrent.atomic.AtomicBoolean(true)
  def setQueryable(b: Boolean): Unit = queryable.set(b)
  private def requireQueryable(): Unit =
    if (!queryable.get()) throw new IllegalStateException("server is not queryable")

  private val http = RpcServer.createHttpServer(port)
  http.createContext("/rpc", new Handler)
  // Prometheus text scrape endpoint (the reference exposes /metrics
  // via promhttp; metrics/metrics.go names carried over)
  http.createContext("/metrics", (ex: HttpExchange) => {
    val out = metrics.render().getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, out.length.toLong)
    ex.getResponseBody.write(out)
    ex.close()
  })
  // liveness probe (frontend/utilities.go:30-77): JSON status payload,
  // 200 while queryable, 503 otherwise — same body shape either way.
  // uptime is a Go time.Duration string ("1m3.2s") — the reference
  // serves time.Since(start).String() (utilities.go:50) and clients
  // parse that format; git_hash comes from -Dgraft.git.hash (the
  // packaging step's hook), empty when unset, matching the
  // reference's unset-ldflags behavior
  http.createContext("/heartbeat", (ex: HttpExchange) => {
    val ok = queryable.get()
    val body = json.writeValueAsBytes(toJava(Map(
      "status" -> (if (ok) "queryable" else "not queryable"),
      "version" -> ServerInfo.Version,
      "git_hash" -> sys.props.getOrElse("graft.git.hash", ""),
      "uptime" -> RpcServer.goDuration(System.nanoTime() - startNanos))))
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(if (ok) 200 else 503, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  })
  // daemon threads + explicit shutdown: a non-daemon pool would pin
  // any embedding JVM (Verify, a user's driver) open after main exits
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => { val t = new Thread(r, "graft-rpc"); t.setDaemon(true); t })
  http.setExecutor(pool)

  def start(): Unit = http.start()
  def stop(): Unit = { http.stop(0); pool.shutdownNow(); () }
  def boundPort: Int = http.getAddress.getPort

  private final class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val reqStart = System.nanoTime()
      val body = ex.getRequestBody.readAllBytes()
      // explicit header wins; otherwise sniff — a JSON-RPC body always
      // starts with '{', a msgpack request map with a fixmap/map byte
      val isMsgpack = Option(ex.getRequestHeaders.getFirst("Content-Type")) match {
        case Some(ct) => ct.toLowerCase.contains("msgpack")
        case None => body.isEmpty || body(0) != '{'.toByte
      }
      val req =
        try {
          if (isMsgpack) MsgPack.decode(body).asInstanceOf[Map[Any, Any]]
          else fromJava(json.readValue(body, classOf[Object])).asInstanceOf[Map[Any, Any]]
        } catch { case NonFatal(_) => Map.empty[Any, Any] }
      val id = req.getOrElse("id", null)
      val method = req.getOrElse("method", "").toString
      val response: Map[String, Any] =
        try {
          val params = req.getOrElse("params", Map.empty[Any, Any]) match {
            case s: Seq[_] if s.nonEmpty => s.head.asInstanceOf[Map[Any, Any]]
            case m: Map[_, _] => m.asInstanceOf[Map[Any, Any]]
            case _ => Map.empty[Any, Any]
          }
          // one Spark job group per request, so an operator can tie a
          // slow RPC to its jobs; pool threads are reused, hence the clear
          val sc = spark.sparkContext
          sc.setJobGroup(s"rpc-$id", method)
          val result = try dispatch(method, params) finally sc.clearJobGroup()
          metrics.observeMethod(method, (System.nanoTime() - reqStart) / 1e9)
          Map("jsonrpc" -> "2.0", "result" -> result, "id" -> id)
        } catch {
          case NonFatal(e) =>
            Map("jsonrpc" -> "2.0", "id" -> id,
              "error" -> Map("code" -> -32000L,
                "message" -> Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      val out =
        if (isMsgpack) MsgPack.encode(response)
        else json.writeValueAsBytes(toJava(response))
      ex.getResponseHeaders.set("Content-Type",
        if (isMsgpack) "application/x-msgpack" else "application/json")
      ex.getResponseHeaders.set("marketstore-version", ServerInfo.Version)
      ex.sendResponseHeaders(200, out.length.toLong)
      ex.getResponseBody.write(out)
      ex.close()
      // the reference observes every request at the HTTP layer
      // (frontend/server.go:60-64 RPCTotalRequestDuration)
      metrics.rpcTotal.observe((System.nanoTime() - reqStart) / 1e9)
    }
  }

  // ------------------------------------------------------------- dispatch

  private def dispatch(method: String, params: Map[Any, Any]): Any = method match {
    case "DataService.Query" => queryEndpoint(params)
    case "DataService.Write" => writeEndpoint(params)
    case "DataService.Create" => createEndpoint(params)
    case "DataService.Destroy" => destroyEndpoint(params)
    case "DataService.ListSymbols" => listSymbolsEndpoint(params)
    case "DataService.GetInfo" => getInfoEndpoint(params)
    case "OpsService.Run" => runOpEndpoint(params)
    case other => throw new IllegalArgumentException(s"rpc: unknown method '$other'")
  }

  /** The LLM-pipeline job surface: named op + table in → table out.
    * The timeseries extension point is the `functions` pipeline of
    * DataService.Query; this is its corpus-scale sibling — the dedup /
    * similarity / text operators as server jobs instead of
    * library-only Scala calls. Inputs are parquet paths (the lake
    * convention), outputs either land as parquet (`output` param →
    * {rows_written, path}) or return inline as a columns+rows payload
    * capped at `limit` rows (default 10000, `truncated` flag set when
    * the cap bit). Ops:
    *  - `dedup_exact`: (doc_id, canonical_id) clone mapping
    *    ([[graft.ops.Dedup.exactGroups]] expanded through membership)
    *  - `knn`: exact cosine top-k ([[graft.ops.Similarity
    *    .bruteForceTopK]]); queries from `options.queries` (a parquet
    *    path) or the `options.n_queries` smallest-id rows of the input
    *  - `knn_sq8`: same contract scored over the SQ8-compressed
    *    corpus ([[graft.ops.Similarity.sq8TopK]] — 1 byte/dim scan)
    *  - `knn_ivf`: ANN top-k served from a MAINTAINED index — the
    *    [[graft.streaming.IvfIndexTrigger]] artifact (`options.index`
    *    parquet or `options.index_tbk` catalog bucket) plus its
    *    persisted quantizer (`options.centroids`); `input`/`tbk` is
    *    the query relation, `options.n_probe` trades recall for cells
    *    probed (default full probe = exact)
    *    ([[graft.ops.Similarity.ivfTopKIndexed]])
    *  - `report_card`: per-source corpus health
    *    ([[graft.ops.TextAnalysis.sourceReport]])
    *  - `dedup_minhash_delta`: incremental near-dup gate — new batch
    *    (`input`) vs the existing corpus (`options.corpus`, optionally
    *    a persisted band index at `options.index`) →
    *    (id1, id2, jaccard) ([[graft.ops.Dedup.minhashDeltaPairsVerified]])
    *  - `text_decontaminate`: eval-leakage gate — training docs
    *    (`input`) sharing n-grams with an eval set (`options.eval`) →
    *    per-doc contamination report
    *    ([[graft.ops.Dedup.contaminationReport]])
    *  - `dedup_semantic`: SemDeDup pairs over an embedding column —
    *    CAPPED by default (`options.cap` per-cell pairs, priority
    *    score desc then id asc) so a clone-heavy corpus cannot
    *    request a quadratic payload; `cap <= 0` opts into all-pairs
    *    ([[graft.ops.Similarity.semanticDedupPairsCapped]])
    *  - `dedup_minhash_index`: build/refresh the persisted (id, band,
    *    bucket) band index for a corpus
    *    ([[graft.ops.Dedup.minhashBandIndex]]) — the artifact
    *    `dedup_minhash_delta` consumes via `options.index`, so the
    *    daily incremental gate never re-shingles the corpus
    *
    * SECURITY: every filesystem path a client supplies — `input`,
    * `output`, `options.queries/corpus/index/eval` — is confined under
    * the server's configured `opsRoot`; paths with `..` segments or
    * outside the root are refused, and a server constructed WITHOUT an
    * ops root refuses the endpoint entirely. Output writes default to
    * errorifexists (pass `overwrite: true` to replace), so a client
    * can never destroy data it didn't ask to replace. The rest of the
    * RPC surface stays TBK/catalog-confined as before.
    */
  private def confinedOpsPath(p: String): String = {
    val root = opsRoot.getOrElse(throw new IllegalStateException(
      "OpsService is disabled: server started without an ops root"))
    if (p.split("[/\\\\]").contains(".."))
      throw new IllegalArgumentException(s"ops: path must not contain '..': $p")
    val rootNorm = root.stripSuffix("/")
    val absolute = p.contains("://") || p.startsWith("/")
    val resolved = if (absolute) p else s"$rootNorm/$p"
    if (!(resolved == rootNorm || resolved.startsWith(rootNorm + "/")))
      throw new IllegalArgumentException(s"ops: path escapes the ops root: $p")
    resolved
  }

  private def fsExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Cheap change signature of a directory (file count + newest
    * mtime, one listing) — the probe-calibration cache's append
    * detector.
    */
  private def dirSignature(p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hp).filter(_.isFile)
    s"${files.length}:${files.map(_.getModificationTime).maxOption.getOrElse(0L)}"
  }

  private def runOpEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    requireQueryable()
    val op = str(params, "op").getOrElse(
      throw new IllegalArgumentException("ops: op required"))
    val opts = params.getOrElse("options", Map.empty[Any, Any])
      .asInstanceOf[Map[Any, Any]]
    // input is either a lake parquet path (confined under the ops
    // root) or a catalog bucket by TBK — the corpus ops run over
    // catalog-stored tables with no export step, and the TBK path is
    // catalog-confined by construction (no opsRoot needed). Lazy:
    // maintenance ops (knn_ivf_refresh) interpret `input` themselves
    // (a generation-structured index root is not a flat parquet dir).
    lazy val df = (str(params, "tbk"), str(params, "input")) match {
      case (Some(t), _) => catalog.read(TimeBucketKey.parse(t))
      case (None, Some(p)) => spark.read.parquet(confinedOpsPath(p))
      case _ => throw new IllegalArgumentException(
        "ops: input (parquet path) or tbk (catalog bucket) required")
    }
    // op-specific response metadata (the knn_ivf probe contract) —
    // merged into the reply beside rows/rows_written
    var opMeta: Map[String, Any] = Map.empty
    val out = op match {
      case "dedup_exact" =>
        graft.ops.Dedup.exactGroups(df,
            id = str(opts, "id").getOrElse("doc_id"),
            text = str(opts, "text").getOrElse("text"))
          .select(explode(col("ids")).as("doc_id"), col("canonical_id"))
          .orderBy("doc_id")
      case "knn" | "knn_sq8" | "knn_pq" =>
        val k = math.min(1000L, math.max(1L, lng(opts, "k").getOrElse(10L))).toInt
        val queries = str(opts, "queries") match {
          case Some(qPath) => spark.read.parquet(confinedOpsPath(qPath))
          case None =>
            // a COUNT, as documented: the n_queries smallest ids of
            // the input (deterministic regardless of the id range)
            val n = math.min(100000L,
              math.max(1L, lng(opts, "n_queries").getOrElse(5L))).toInt
            df.orderBy(col("vec_id")).limit(n)
        }
        val hits = op match {
          case "knn_sq8" =>
            graft.ops.Similarity.sq8TopK(graft.ops.Similarity.sq8Encode(df), queries, k)
          case "knn_pq" =>
            // the r11 serving composite: ADC candidates + exact-dot
            // re-rank (scores are DOT products — the metric ADC
            // approximates; ≅ cosine on unit-normalized corpora).
            // Codebooks train per job (a batch surface, like the dedup
            // jobs); kCand/k is the client's recall knob.
            val kCand = math.min(100000L,
              math.max(k.toLong, lng(opts, "k_cand").getOrElse(5L * k))).toInt
            graft.ops.Similarity.pqRerankTopK(df, queries, k, kCand,
              m = math.min(256L, math.max(1L, lng(opts, "m").getOrElse(32L))).toInt,
              ksub = math.min(256L, math.max(2L, lng(opts, "ksub").getOrElse(16L))).toInt,
              trainIters = math.min(10L, math.max(0L, lng(opts, "train_iters").getOrElse(2L))).toInt)
          case _ => graft.ops.Similarity.bruteForceTopK(df, queries, k)
        }
        hits.orderBy("query_id", "vec_id")
      case "report_card" =>
        graft.ops.TextAnalysis.sourceReport(df,
          textCol = str(opts, "text").getOrElse("text"),
          sourceCol = str(opts, "source").getOrElse("source"))
      case "knn_ivf" =>
        // serve ANN from a MAINTAINED index (the IvfIndexTrigger
        // artifact: (cell, vec_id, embedding) parquet + the persisted
        // quantizer) — the base corpus is never touched; `input`/`tbk`
        // is the QUERY relation. nProbe defaults to full probe (exact
        // under any quantizer); clients trade recall for cells probed.
        // generation-aware: a compacted trigger index resolves to its
        // highest complete generation, a flat one to itself. Resolved
        // ONCE and reused for the quantizer below, so a blue/green
        // flip landing mid-request can never pair an old index with
        // new centroids or vice versa.
        val resolvedIdx = str(opts, "index").map(p =>
          graft.streaming.IvfIndexTrigger.resolveIndexPath(spark, confinedOpsPath(p)))
        val index = (str(opts, "index_tbk"), resolvedIdx) match {
          case (Some(t), _) => catalog.read(TimeBucketKey.parse(t))
          case (None, Some(p)) => spark.read.parquet(p)
          case _ => throw new IllegalArgumentException(
            "ops: options.index (parquet path) or options.index_tbk required")
        }
        // quantizer: an explicit options.centroids path wins; otherwise
        // the resolved generation's own quantizer (gen-N/_quantizer,
        // written by compaction and blue/green refresh) — but ONLY
        // when the rows actually came from that path: with index_tbk
        // the catalog supplied the rows, and pairing them with an
        // unrelated path's quantizer would silently mis-probe
        val genQuantizer = resolvedIdx
          .filter(_ => str(opts, "index_tbk").isEmpty)
          .map(p => s"$p/${graft.streaming.IvfIndexTrigger.QuantizerDir}")
          .filter(p => fsExists(p))
        val cents = graft.ops.Similarity.loadCentroids(spark.read.parquet(
          str(opts, "centroids").map(confinedOpsPath)
            .orElse(genQuantizer)
            .getOrElse(throw new IllegalArgumentException(
              "ops: options.centroids required (no generation quantizer found beside the index)"))))
        val k = math.min(1000L, math.max(1L, lng(opts, "k").getOrElse(10L))).toInt
        // probe depth: explicit n_probe wins; else a probe_recall
        // contract (0,1] derives the smallest depth meeting it on a
        // bounded calibration sample against the index itself (the
        // index rows carry the full vectors, so the exact calibration
        // truth never needs the base corpus); else full probe (exact
        // under any quantizer). Calibrations are CACHED per resolved
        // generation — a serving endpoint must not pay the exact
        // calibration pass per request; the key includes the resolved
        // gen path, so a compaction or blue/green flip naturally
        // invalidates (new path, new entry), and the index under one
        // generation only ever grows by appends assigned under the
        // SAME quantizer, which leaves cell geometry (and therefore
        // the calibrated depth) stable.
        // every resolution path also reports HOW the depth was chosen
        // (r12): the response carries n_probe, the source of the depth
        // and — for calibrated serving — the recall floor, the exact
        // cache fingerprint and the contract's one remaining
        // assumption, so a client can detect a stale or inherited
        // calibration itself instead of trusting an invisible cache
        val nProbe = lng(opts, "n_probe") match {
          case Some(p) =>
            opMeta = Map("probe_source" -> "explicit")
            math.min(cents.length.toLong, math.max(1L, p)).toInt
          case None => dbl(opts, "probe_recall") match {
            case Some(r) =>
              val floor = math.min(1.0, math.max(0.01, r))
              opMeta = Map("probe_source" -> "calibrated",
                "recall_floor" -> floor,
                "calibration_assumes" ->
                  "same-source stationary query distribution; shifting clients pass n_probe")
              def calibrate(): Int = {
                metrics.probeCalibrations.inc()
                graft.ops.Similarity.ivfProbeForRecall(
                  index.select(col("vec_id"), col("embedding")), df, k, cents,
                  recallFloor = floor, nCal = 64)
              }
              // cacheable ONLY in the pure-path case: rows from the
              // resolved generation AND its own quantizer. index_tbk
              // rows or explicit foreign centroids would poison the
              // path-keyed entry with a different geometry. The key
              // carries the generation's file signature (count +
              // newest mtime) so an append into the SAME generation
              // re-calibrates — new vectors can displace true
              // neighbors even under an unchanged quantizer. The
              // calibrated depth still assumes a stationary query
              // distribution across requests (the standard ANN
              // serving assumption); clients that shift distribution
              // pass n_probe explicitly.
              val cacheable = resolvedIdx.filter(_ =>
                str(opts, "index_tbk").isEmpty && str(opts, "centroids").isEmpty)
              cacheable match {
                case Some(gp) =>
                  // the calibrated depth is only as good as the query
                  // distribution it was derived on: the key carries a
                  // QUERY-SOURCE fingerprint too, so a second client
                  // with the same (k, floor) but a different query set
                  // gets its own calibration instead of silently
                  // inheriting the first client's depth (whose floor
                  // its distribution may not meet). Within one source
                  // the fingerprint re-keys on change — parquet paths
                  // by directory signature, catalog buckets by the
                  // group's manifest version — leaving only
                  // same-source stationarity assumed (the standard ANN
                  // serving contract; shifting clients pass n_probe).
                  val querySrc = (str(params, "tbk"), str(params, "input")) match {
                    case (Some(t), _) =>
                      val ag = TimeBucketKey.parse(t).attGroup
                      s"tbk:$t@v${catalog.manifestVersions(ag).lastOption.getOrElse(0L)}"
                    case (None, Some(p)) =>
                      val cp = confinedOpsPath(p)
                      s"path:$cp#${dirSignature(cp)}"
                    case _ => "none"
                  }
                  val fingerprint = s"$gp#${dirSignature(gp)}#$querySrc"
                  opMeta += ("calibration_fingerprint" -> fingerprint)
                  val key = (fingerprint, k, floor)
                  Option(probeCache.get(key)).map(_.intValue()).getOrElse {
                    // compute OUTSIDE the map (a calibration is a
                    // multi-job Spark pass — never hold a CHM bin
                    // lock across it); bound the map crudely: retired
                    // generations and superseded signatures otherwise
                    // accrete one entry each for a server's lifetime
                    val d = calibrate()
                    if (probeCache.size > 512) probeCache.clear()
                    probeCache.putIfAbsent(key, d)
                    d
                  }
                case None =>
                  // index_tbk rows or foreign centroids: calibrated
                  // per-request, never cached — no fingerprint exists
                  opMeta += ("calibration_fingerprint" -> "uncached")
                  calibrate()
              }
            case None =>
              opMeta = Map("probe_source" -> "full")
              cents.length
          }
        }
        opMeta += ("n_probe" -> nProbe)
        graft.ops.Similarity.ivfTopKIndexed(index, df, k, cents, nProbe)
          .orderBy("query_id", "vec_id")
      case "knn_ivf_refresh" =>
        // blue/green reindex ON DEMAND over the wire — drift repair
        // for a served index without a serving gap: retrain from the
        // index's own vectors, rebuild into gen-(N+1) with its
        // quantizer inside, flip via the marker (see
        // IvfIndexTrigger.refreshPath; readers and the knn_ivf job
        // resolve old or new, never mixed). `input` is the index
        // ROOT (generation-structured, so this op interprets it
        // itself rather than reading it as flat parquet).
        val p = confinedOpsPath(str(params, "input").getOrElse(
          throw new IllegalArgumentException("ops: input (index root path) required")))
        val n = graft.streaming.IvfIndexTrigger.refreshPath(spark, p,
            nCells = math.min(65536L, math.max(0L, lng(opts, "n_cells").getOrElse(0L))).toInt,
            trainIters = math.min(10L, math.max(1L, lng(opts, "train_iters").getOrElse(3L))).toInt,
            // the drain clock must match the index's appenders (the
            // lease rule): ingest sides configured with a custom
            // ticket expiry pass the same value, or this publisher
            // would presume a slow-but-renewing appender dead and
            // snapshot without its batch
            ticketExpiryMs = math.min(86400000L,
              math.max(0L, lng(opts, "ticket_expiry_ms").getOrElse(0L))))
          .getOrElse(throw new IllegalArgumentException(
            s"ops: no index rows at ${str(params, "input").get}"))
        val gen = graft.streaming.IvfIndexTrigger.resolveIndexPath(spark, p)
        import spark.implicits._
        Seq((gen.substring(gen.lastIndexOf('/') + 1), n))
          .toDF("generation", "n_cells")
      case "dedup_minhash_delta" =>
        val corpus = spark.read.parquet(confinedOpsPath(str(opts, "corpus").getOrElse(
          throw new IllegalArgumentException("ops: options.corpus required"))))
        val index = str(opts, "index").map(p => spark.read.parquet(confinedOpsPath(p)))
        graft.ops.Dedup.minhashDeltaPairsVerified(
            df, corpus,
            threshold = dbl(opts, "threshold").getOrElse(0.8),
            id = str(opts, "id").getOrElse("doc_id"),
            text = str(opts, "text").getOrElse("text"),
            oldIndex = index)
          .orderBy("id1", "id2")
      case "dedup_semantic" =>
        // SemDeDup as a server job — CAPPED by default (the wire
        // surface must not let a clone-heavy corpus request a
        // quadratic inline payload): per-cell top-`cap` pairs by
        // (score desc, id asc); cap<=0 opts into the uncapped
        // all-pairs contract for bounded corpora
        val nCells = math.min(65536L, math.max(1L, lng(opts, "n_cells").getOrElse(16L))).toInt
        val thr = dbl(opts, "threshold").getOrElse(0.8)
        val cap = lng(opts, "cap").getOrElse(10000L)
        val idCol = str(opts, "id").getOrElse("vec_id")
        val embCol = str(opts, "emb").getOrElse("embedding")
        val out0 =
          if (cap <= 0L) graft.ops.Similarity.semanticDedupPairs(
            df, thr, nCells, id = idCol, emb = embCol)
          else graft.ops.Similarity.semanticDedupPairsCapped(
            df, thr, nCells, math.min(1000000L, cap).toInt, id = idCol, emb = embCol)
        out0.orderBy("id1", "id2")
      case "dedup_minhash_index" =>
        graft.ops.Dedup.minhashBandIndex(df,
            id = str(opts, "id").getOrElse("doc_id"),
            text = str(opts, "text").getOrElse("text"))
          .orderBy(str(opts, "id").getOrElse("doc_id"), "band")
      case "text_decontaminate" =>
        val evalSet = spark.read.parquet(confinedOpsPath(str(opts, "eval").getOrElse(
          throw new IllegalArgumentException("ops: options.eval required"))))
        val idCol = str(opts, "id").getOrElse("doc_id")
        graft.ops.Dedup.contaminationReport(
            df, evalSet,
            n = lng(opts, "n").getOrElse(3L).toInt,
            id = idCol,
            text = str(opts, "text").getOrElse("text"))
          .orderBy(idCol)
      case other =>
        throw new IllegalArgumentException(s"ops: unknown op '$other' " +
          "(supported: dedup_exact, dedup_semantic, knn, knn_sq8, knn_ivf, " +
          "knn_ivf_refresh, report_card, dedup_minhash_delta, " +
          "dedup_minhash_index, text_decontaminate)")
    }
    str(params, "output") match {
      case Some(dest0) =>
        val dest = confinedOpsPath(dest0)
        // row count observed on the write job itself — one execution.
        // errorifexists unless the client explicitly opts into
        // replacement — an overwrite deletes whatever is at `dest`
        val mode = if (bool(params, "overwrite")) "overwrite" else "errorifexists"
        val obs = org.apache.spark.sql.Observation()
        out.observe(obs, count(lit(1)).as("rows"))
          .write.mode(mode).parquet(dest)
        opMeta ++ Map("rows_written" -> obs.get("rows").asInstanceOf[Long],
          "path" -> dest, "version" -> ServerInfo.Version)
      case None =>
        // clamped: a client long past Int range must cap, not wrap
        // negative and error out of Dataset.limit
        val limit = math.min(1000000L,
          math.max(1L, lng(params, "limit").getOrElse(10000L))).toInt
        val rows = out.limit(limit + 1).collect()
        val kept = rows.take(limit)
        opMeta ++ Map(
          "columns" -> out.columns.toVector,
          "rows" -> kept.toVector.map(r =>
            (0 until r.length).toVector.map(r.get)),
          "truncated" -> (rows.length > limit),
          "version" -> ServerInfo.Version)
    }
  }

  private def requests(params: Map[Any, Any]): Seq[Map[Any, Any]] =
    params.getOrElse("requests", Vector.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[Any, Any]])

  private def str(m: Map[Any, Any], k: String): Option[String] =
    m.get(k).collect { case s if s != null => s.toString }
  private def lng(m: Map[Any, Any], k: String): Option[Long] =
    m.get(k).collect { case n: Long => n; case n: Int => n.toLong; case d: Double => d.toLong }
  private def dbl(m: Map[Any, Any], k: String): Option[Double] =
    m.get(k).collect { case d: Double => d; case n: Long => n.toDouble; case n: Int => n.toDouble }
  private def bool(m: Map[Any, Any], k: String): Boolean =
    m.get(k).contains(true)

  /** frontend/query.go:91-116: each request is either a query-API call
    * or a SQL statement; responses are NumpyMultiDatasets.
    */
  private def queryEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    requireQueryable() // frontend/grpc.go:286-288 (gRPC Query gate)
    val responses = requests(params).map { r =>
      val df =
        if (bool(r, "is_sqlstatement")) sqlService.sql(str(r, "sql_statement").get)
        else {
          val dest = str(r, "destination").getOrElse(
            throw new IllegalArgumentException("query: destination required"))
          queryService.queryMulti(QueryRequest(
            destination = dest,
            epochStart = lng(r, "epoch_start").getOrElse(0L),
            startNanos = lng(r, "epoch_start_nanos").getOrElse(0L).toInt,
            epochEnd = lng(r, "epoch_end").getOrElse(Long.MaxValue),
            endNanos = lng(r, "epoch_end_nanos").getOrElse(999999999L).toInt,
            columns = r.getOrElse("columns", Vector.empty).asInstanceOf[Seq[Any]].map(_.toString),
            limit = lng(r, "limit_record_count").map(_.toInt),
            limitFromStart = bool(r, "limit_from_start"),
            functions = r.getOrElse("functions", Vector.empty).asInstanceOf[Seq[Any]].map(_.toString)))
        }
      // SQL results are ONE span under "<stmt>:SQL" (executeSQL,
      // frontend/query.go:118-141) — any symbol column stays a data
      // column; grouping it into per-symbol spans would collapse the
      // identical keys and drop rows. Native queries span per symbol.
      val result =
        if (bool(r, "is_sqlstatement"))
          toNumpyMulti(df, _ => str(r, "sql_statement").get + ":SQL", groupBySymbol = false)
        else {
          val proto = TimeBucketKey.parse(str(r, "destination").get)
          toNumpyMulti(df, sym => s"$sym/${proto.timeframe}/${proto.attGroup}")
        }
      Map("result" -> result)
    }
    Map("responses" -> responses,
      "version" -> ServerInfo.Version, "timezone" -> timezone)
  }

  /** One collected payload: rows grouped per symbol (contiguous spans,
    * numpy.go:133-156). Frames without a symbol column (SQL results)
    * become a single span.
    */
  private def toNumpyMulti(
      df0: DataFrame, tbkOf: String => String,
      groupBySymbol: Boolean = true): Map[String, Any] = {
    val hasSymbol = groupBySymbol && df0.columns.contains("symbol")
    // wire dtypes are fixed-width: widen whatever the frame carries
    val df = {
      val casted = df0.schema.fields.map { f =>
        f.dataType match {
          case LongType | IntegerType | ShortType | ByteType |
               FloatType | DoubleType | StringType => col(f.name)
          case BooleanType => col(f.name).cast("byte").as(f.name)
          // the u8-widened decimal IS a wire dtype; others narrow to f8
          case dt: DecimalType if dt.precision == 20 && dt.scale == 0 => col(f.name)
          case _: DecimalType => col(f.name).cast("double").as(f.name)
          case TimestampType => unix_micros(col(f.name)).as(f.name)
          case other =>
            throw new IllegalArgumentException(s"wire: unsupported column type $other (${f.name})")
        }
      }
      df0.select(casted.toSeq: _*)
    }
    val rows = df.collect().toSeq
    // implicit time sort — the reference always returns rows
    // time-ordered (executor/sort.go:11-50); the payload is bounded by
    // the query, so this driver-side sort is control-plane work
    def timeSorted(schema: StructType, rs: Seq[Row]): Seq[Row] =
      if (!schema.fieldNames.contains("Epoch")) rs
      else {
        val e = schema.fieldIndex("Epoch")
        val n = schema.fieldNames.indexOf("Nanoseconds")
        rs.sortBy(r => (r.getLong(e), if (n >= 0) r.getInt(n).toLong else 0L))
      }
    val (schema, groups) =
      if (hasSymbol) {
        val i = df.schema.fieldIndex("symbol")
        val dataSchema = StructType(df.schema.fields.toSeq.filterNot(_.name == "symbol"))
        val grouped = rows.groupBy(_.getString(i)).toSeq.sortBy(_._1).map { case (sym, rs) =>
          tbkOf(sym) -> timeSorted(dataSchema, rs.map(r =>
            Row.fromSeq(r.toSeq.zipWithIndex.collect { case (v, j) if j != i => v })))
        }
        (dataSchema, grouped)
      } else (df.schema, Seq(tbkOf("") -> rows))
    NumpyCodec.encode(schema, groups)
  }

  /** frontend/write.go:36-51: decode each dataset and upsert per TBK.
    * All of one request's buckets go through catalog writes; the
    * variable flag creates missing buckets with the right record type.
    */
  private def writeEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    val responses = requests(params).map { r =>
      try {
        val ds = r.getOrElse("dataset",
          throw new IllegalArgumentException("write: dataset required")).asInstanceOf[Map[Any, Any]]
        val variable = bool(r, "is_variable_length")
        val (schema, groups) = NumpyCodec.decode(ds)
        groups.foreach { case (tbkStr, rows) =>
          val tbk = TimeBucketKey.parse(tbkStr)
          catalog.create(tbk, schema, variable)
          val df = spark.createDataFrame(rows.asJava, schema)
          val wStart = System.nanoTime()
          catalog.write(tbk, df)
          metrics.writeDuration.observe((System.nanoTime() - wStart) / 1e9)
          // the reference fires matching triggers after every durable
          // write (executor/written.go:24-47) — downsample cascade,
          // stream push, user plugins
          triggers.foreach(_.dispatch(tbk.key,
            df.withColumn("symbol", lit(tbk.symbol))))
        }
        Map("error" -> "", "version" -> ServerInfo.Version)
      } catch {
        case NonFatal(e) =>
          Map("error" -> Option(e.getMessage).getOrElse("write failed"),
            "version" -> ServerInfo.Version)
      }
    }
    Map("responses" -> responses)
  }

  /** frontend/write.go:70-128: bucket creation from wire dtypes.
    * Key format "SYM/1Min/OHLC:Symbol/Timeframe/AttributeGroup".
    */
  private def createEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    val responses = requests(params).map { r =>
      try {
        val key = str(r, "key").getOrElse(
          throw new IllegalArgumentException("create: key required"))
        val tbk = TimeBucketKey.parse(key.split(":")(0))
        val names = r.getOrElse("column_names", Vector.empty).asInstanceOf[Seq[Any]].map(_.toString)
        val types = r.getOrElse("column_types", Vector.empty).asInstanceOf[Seq[Any]].map(_.toString)
        val declared = NumpyCodec.schemaOf(names, types)
        val withEpoch =
          if (declared.fieldNames.contains("Epoch")) declared
          else StructType(StructField("Epoch", LongType) +: declared.fields)
        catalog.create(tbk, withEpoch, bool(r, "is_variable_length"))
        Map("error" -> "", "version" -> ServerInfo.Version)
      } catch {
        case NonFatal(e) =>
          Map("error" -> Option(e.getMessage).getOrElse("create failed"),
            "version" -> ServerInfo.Version)
      }
    }
    Map("responses" -> responses)
  }

  /** frontend/write.go:182-210. */
  private def destroyEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    val responses = requests(params).map { r =>
      try {
        val key = str(r, "key").getOrElse(
          throw new IllegalArgumentException("destroy: key required"))
        catalog.destroy(TimeBucketKey.parse(key.split(":")(0)))
        Map("error" -> "", "version" -> ServerInfo.Version)
      } catch {
        case NonFatal(e) =>
          Map("error" -> Option(e.getMessage).getOrElse("destroy failed"),
            "version" -> ServerInfo.Version)
      }
    }
    Map("responses" -> responses)
  }

  /** frontend/query.go:264-288: "symbol" (default) or "tbk" format. */
  private def listSymbolsEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    requireQueryable() // frontend/query.go:265-267
    val format = str(params, "format").getOrElse("symbol")
    val ags = catalog.listAttGroups()
    val results: Seq[String] =
      if (format == "tbk")
        for {
          ag <- ags; sym <- catalog.listSymbols(ag)
          tf <- catalog.listTimeframes(ag, sym)
        } yield s"$sym/$tf/$ag"
      else ags.flatMap(catalog.listSymbols).distinct.sorted
    Map("Results" -> results)
  }

  /** frontend/write.go:139-179: per-key schema/record-type info.
    * TimeFrame rides as duration nanos (Go time.Duration), Type ints
    * use the reference enum (datatypes.go:41-57), RecordType 0=fixed
    * 1=variable.
    */
  private def getInfoEndpoint(params: Map[Any, Any]): Map[String, Any] = {
    val responses = requests(params).map { r =>
      try {
        val key = str(r, "key").getOrElse(
          throw new IllegalArgumentException("getinfo: key required"))
        val tbk = TimeBucketKey.parse(key.split(":")(0))
        val (schema, variable) = catalog.getInfo(tbk.attGroup)
        val tfNanos = CandleDuration.parse(tbk.timeframe).approxSeconds * 1000000000L
        Map(
          "LatestYear" -> catalog.latestYear(tbk).getOrElse(0).toLong,
          "TimeFrame" -> tfNanos,
          "DSV" -> schema.fields.toSeq.map(f => Map(
            "Name" -> f.name,
            "Type" -> RpcServer.elementTypeEnum(NumpyTypes.fieldToTypeStr(f)))),
          "RecordType" -> (if (variable) 1L else 0L),
          "ServerResp" -> Map("error" -> "", "version" -> ServerInfo.Version))
      } catch {
        case NonFatal(e) =>
          Map("LatestYear" -> 0L, "TimeFrame" -> 0L, "DSV" -> Vector.empty,
            "RecordType" -> 2L, // NOTYPE
            "ServerResp" -> Map(
              "error" -> Option(e.getMessage).getOrElse("getinfo failed"),
              "version" -> ServerInfo.Version))
      }
    }
    Map("responses" -> responses)
  }

  // ------------------------------------------------ JSON <-> plain values

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, value) => (k: Any) -> fromJava(value) }.toMap
    case l: java.util.List[_] => l.asScala.toVector.map(fromJava)
    case i: java.lang.Integer => i.longValue()
    case other => other
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, value) => out.put(k.toString, toJava(value)) }
      out
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case other => other
  }
}

object RpcServer {
  /** The JDK server with `TCP_NODELAY` on. The JDK writes a response's
    * headers and body as two segments and leaves Nagle on unless
    * `sun.net.httpserver.nodelay` is set; with Nagle every keep-alive body
    * waits for the client's delayed ACK, 44 ms per RPC on Linux against
    * 1-3 ms with nodelay (Go's net package sets it on every connection).
    * The JDK reads the property once per JVM, when its first HttpServer is
    * built, so it is set here before `create`; an explicit `-D` value is
    * kept.
    */
  private def createHttpServer(port: Int): HttpServer = {
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** numpy dtype string → reference EnumElementType ordinal
    * (utils/io/datatypes.go:41-57).
    */
  val elementTypeEnum: Map[String, Long] = Map(
    "f4" -> 0L, "i4" -> 1L, "f8" -> 2L, "i8" -> 3L, "i1" -> 5L,
    "i2" -> 9L, "u1" -> 10L, "u2" -> 11L, "u4" -> 12L, "u8" -> 13L,
    "U16" -> 14L)

  /** Go `time.Duration.String()` for non-negative durations — the
    * format the reference's heartbeat serves (utilities.go:50):
    * `[Xh][Ym]Z(.f)s` with the fraction's trailing zeros trimmed for
    * durations ≥ 1s; `ms`/`µs`/`ns` units below that; `"0s"` for zero.
    */
  private[graft] def goDuration(nanos: Long): String = {
    require(nanos >= 0, s"negative duration: $nanos")
    def trimFrac(units: Long, scale: Long): String = {
      val whole = units / scale
      val frac = units % scale
      if (frac == 0) s"$whole"
      else {
        val digits = scale.toString.length - 1
        val fs = s"%0${digits}d".format(frac).reverse.dropWhile(_ == '0').reverse
        s"$whole.$fs"
      }
    }
    if (nanos == 0L) "0s"
    else if (nanos < 1000L) s"${nanos}ns"
    else if (nanos < 1000000L) trimFrac(nanos, 1000L) + "µs"
    else if (nanos < 1000000000L) trimFrac(nanos, 1000000L) + "ms"
    else {
      val totalSec = nanos / 1000000000L
      val h = totalSec / 3600
      val m = (totalSec % 3600) / 60
      val secNanos = (totalSec % 60) * 1000000000L + nanos % 1000000000L
      (if (h > 0) s"${h}h" else "") +
        (if (h > 0 || m > 0) s"${m}m" else "") +
        trimFrac(secNanos, 1000000000L) + "s"
    }
  }
}
