package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.operators.{Catalog, Engine, QueryException}
import org.apache.spark.sql.types._

/** The reference's route surface bound to an [[graft.operators.Engine]] —
  * everything `httproutes.rs` does between the HTTP listener and the index
  * engine, as a pure dispatcher any server shell (or test) can host.
  *
  * Routes (httproutes.rs:160-182):
  *  - `GET  /api/v1/indexes`                      → IndexInfo[]
  *  - `GET  /api/v1/indexes/{ks}/{idx}`           → IndexInfo | 404
  *  - `GET  /api/v1/indexes/{ks}/{idx}/status`    → {status, count,
  *    build_progress} (IndexStatusResponse, lib.rs:192-214) | 404
  *  - `POST /api/v1/indexes/{ks}/{idx}/ann`       → PostIndexAnnResponse |
  *    400 | 404 | 503 (IndexNotReadyReason body, lib.rs:216-231)
  *  - `POST /api/v1/indexes/{ks}/{idx}/bm25`      → PostIndexBm25Response |
  *    errors as above
  *  - `GET  /api/v1/info`                         → {engine, service, version}
  *  - `GET  /api/v1/status`                       → NodeStatus
  *
  * Node lifecycle note: the reference's node walks
  * Initializing→ConnectingToDb→Bootstrapping→Serving while it owns its own
  * process (node_state.rs:21-43); on Spark the cluster manager owns process
  * lifecycle, so a constructed engine reports SERVING and per-index
  * readiness carries the build progress (the INDEX_BUILDING 503 reason).
  * Error bodies are JSON `{status, message}` throughout (the reference's
  * 404s are plain text — normalized here, documented deviation).
  *
  * Column types for value conversion derive from the registered frame's
  * Spark schema — the analogue of the reference reading table column
  * metadata from the database (httproutes.rs:1077).
  */
object Routes {

  /** The response knows its own content type (only /metrics is non-JSON),
    * so transport shells never sniff paths to label bodies. */
  final case class Response(status: Int, body: String,
      contentType: String = "application/json")

  val Service = "graft-vector-store"
  val Version = "0.1.0"

  private val mapper = new ObjectMapper

  /** Spark column type → JSON-boundary native type (schema discovery). */
  def nativeTypeOf(dt: DataType): Option[JsonValues.NativeType] = dt match {
    case StringType => Some(JsonValues.Text)
    case ByteType => Some(JsonValues.TinyIntT)
    case ShortType => Some(JsonValues.SmallIntT)
    case IntegerType => Some(JsonValues.IntT)
    case LongType => Some(JsonValues.BigIntT)
    case FloatType => Some(JsonValues.FloatT)
    case DoubleType => Some(JsonValues.DoubleT)
    case BooleanType => Some(JsonValues.BooleanT)
    case DateType => Some(JsonValues.DateT)
    case _: TimestampType => Some(JsonValues.TimestampT)
    case BinaryType => Some(JsonValues.BlobT)
    case d: DecimalType if d.scale == 0 => Some(JsonValues.VarintT)
    case _: DecimalType => Some(JsonValues.DecimalT)
    case _ => None // vectors/maps/arrays never appear in restrictions
  }

  private def columnTypes(engine: Engine, ks: String, idx: String)
      : Map[String, JsonValues.NativeType] =
    engine.indexFrame(ks, idx).map(_.schema.fields.flatMap(f =>
      nativeTypeOf(f.dataType).map(f.name -> _)).toMap).getOrElse(Map.empty)

  private def statusName(s: Catalog.IndexStatus): String = s match {
    case Catalog.Initializing => "INITIALIZING"
    case Catalog.FullScanning => "BOOTSTRAPPING" // wire name, lib.rs:133-140
    case Catalog.Serving => "SERVING"
  }

  private def spaceName(s: graft.functions.VectorFunctions.Space): String = {
    import graft.functions.VectorFunctions._
    s match {
      case Euclidean => "EUCLIDEAN"
      case Cosine => "COSINE"
      case DotProduct => "DOT_PRODUCT"
      case Hamming => "HAMMING"
    }
  }

  private def quantName(q: Catalog.Quantization): String = q match {
    case Catalog.F32 => "F32"
    case Catalog.F16 => "F16"
    case Catalog.BF16 => "BF16"
    case Catalog.I8 => "I8"
    case Catalog.B1 => "B1"
  }

  /** IndexInfo body (lib.rs:86-90 + tagged IndexOptions). */
  private def indexInfoNode(engine: Engine, e: Catalog.Entry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("keyspace", e.meta.keyspace)
    n.put("index", e.meta.index)
    val opts = n.putObject("options")
    e.meta.kind match {
      case Catalog.Vs(o) =>
        opts.put("type", "vector")
        opts.put("dimensions", o.dims)
        opts.put("maximum_node_connections", o.connectivity)
        opts.put("construction_beam_width", o.expansionAdd)
        opts.put("search_beam_width", o.expansionSearch)
        opts.put("similarity_function", spaceName(o.space))
        opts.put("quantization", quantName(o.quantization))
        // how the index is served ("lsh" when LSH serving is attached,
        // "exact" otherwise) — the HTTP surface reflects serving reality,
        // like the reference's per-index engine options (lib.rs:766-775)
        opts.put("backend", engine.servingBackendName(e.meta.keyspace, e.meta.index))
      case Catalog.Fts(_) =>
        opts.put("type", "fulltext")
        opts.put("analyzer", "lowercase+stopwords") // Bm25.tokenize chain
        opts.put("positions", true) // positional postings (phrase queries)
    }
    n
  }

  /** Counter snapshot as a sorted JSON object (the BTreeMap serialization
    * order of internals.rs CountersR). */
  private def countersJson(cs: Map[String, Long]): String = {
    val n = mapper.createObjectNode()
    cs.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    mapper.writeValueAsString(n)
  }

  private[api] def error(status: Int, message: String): Response =
    Response(status, Wire.errorJson(new QueryException(status, message)))

  /** The ANN/BM25 503 body: IndexNotReadyReason (lib.rs:216-231). A running
    * engine is past bootstrap, so the reason is always INDEX_BUILDING with
    * the progress message the engine raised. */
  private def notReady(message: String): Response = {
    val n = mapper.createObjectNode()
    n.put("reason", "INDEX_BUILDING")
    n.put("message", message)
    Response(503, mapper.writeValueAsString(n))
  }

  /** Prometheus text-format label-value escaping (exposition format spec:
    * backslash, double-quote and line-feed are the three escapes). */
  def escapeLabelValue(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** HELP-text escaping: backslash and line-feed only (quotes are legal). */
  private def escapeHelp(v: String): String =
    v.replace("\\", "\\\\").replace("\n", "\\n")

  /** Plain-decimal float rendering for sample values and `le` bounds
    * ("0.0001", not "1.0E-4"). */
  private def fmtDouble(d: Double): String =
    if (d.isPosInfinity) "+Inf"
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .stripTrailingZeros.toPlainString

  /** Prometheus text exposition (the `/metrics` route, httproutes.rs:160).
    * Enumerates the reference's ten registered families NAME-FOR-NAME in
    * registration order (metrics.rs:20-29,162-171): every family always
    * emits its HELP/TYPE header (a registered-but-unsampled Vec renders
    * exactly that way in the reference's exposition too), and samples
    * render wherever the engine holds state — `index_size`/`fts_*` from the
    * per-index metrics frame, the latency/lag histograms and the
    * modified/CDC families from [[Engine.promSnapshot]]. Histograms are
    * cumulative `le` buckets + `_sum`/`_count`, with the reference's exact
    * bucket bounds. */
  private def prometheusText(engine: Engine): String = {
    // per-index fenced collect: each index's row waits only for ITS OWN
    // in-flight commit, so a slow scrape never blocks serving reads on
    // unrelated indexes (ADVICE r10)
    val rows = engine.metricsRowsFenced()
    val snap = engine.promSnapshot()
    val sb = new StringBuilder
    def lbl(ks: String, idx: String, extra: (String, String)*): String =
      (Seq("keyspace" -> ks, "index_name" -> idx) ++ extra)
        .map { case (k, v) => s"""$k="${escapeLabelValue(v)}"""" }
        .mkString("{", ",", "}")
    def family(name: String, help: String, tpe: String)(emit: => Unit): Unit = {
      sb ++= s"# HELP $name ${escapeHelp(help)}\n"
      sb ++= s"# TYPE $name $tpe\n"
      emit
    }
    def histogram(name: String, series: Map[graft.operators.Catalog.IndexKey,
        graft.operators.Engine.HistogramSnapshot]): Unit = {
      series.toSeq.sortBy(k => (k._1.keyspace, k._1.index)).foreach {
        case (key, h) =>
          h.bounds.zip(h.cumulative).foreach { case (le, c) =>
            sb ++= s"${name}_bucket${lbl(key.keyspace, key.index, "le" -> fmtDouble(le))} $c\n"
          }
          sb ++= s"${name}_bucket${lbl(key.keyspace, key.index, "le" -> "+Inf")} ${h.count}\n"
          sb ++= s"${name}_sum${lbl(key.keyspace, key.index)} ${fmtDouble(h.sum)}\n"
          sb ++= s"${name}_count${lbl(key.keyspace, key.index)} ${h.count}\n"
      }
    }
    def perReader[T](name: String,
        series: scala.collection.immutable.SortedMap[
          (graft.operators.Catalog.IndexKey, String), T]): Unit =
      series.foreach { case ((key, reader), v) =>
        sb ++= s"$name${lbl(key.keyspace, key.index, "reader" -> reader)} " +
          (v match { case d: Double => fmtDouble(d) case x => x.toString }) + "\n"
      }

    family("request_latency_seconds", "Latency per index (seconds)",
      "histogram")(histogram("request_latency_seconds", snap.latency))
    family("index_size", "Number of Vector per index", "gauge") {
      rows.foreach(r =>
        sb ++= s"index_size${lbl(r.getString(0), r.getString(1))} ${r.getLong(5)}\n")
    }
    family("index_modified", "Number of modified items per index", "counter") {
      snap.modified.foreach { case ((key, op), n) =>
        sb ++= s"index_modified${lbl(key.keyspace, key.index, "operation" -> op)} $n\n"
      }
    }
    family("indexing_lag_seconds",
      "Time in seconds between a CDC-recorded change and its indexing in the vector store",
      "histogram")(histogram("indexing_lag_seconds", snap.indexingLag))
    family("cdc_reader_up",
      "Whether the CDC reader for an index is currently running (1) or stopped (0)",
      "gauge")(perReader("cdc_reader_up", snap.cdcReaderUp))
    family("cdc_handler_errors_total",
      "Total number of CDC handler errors per index and reader",
      "counter")(perReader("cdc_handler_errors_total", snap.cdcHandlerErrors))
    family("cdc_reader_restarts_total",
      "Total number of CDC reader restart attempts after an error, per index and reader",
      "counter")(perReader("cdc_reader_restarts_total", snap.cdcReaderRestarts))
    family("cdc_last_processed_timestamp_seconds",
      "Unix timestamp (seconds) up to which the CDC log has been fully consumed",
      "gauge")(perReader("cdc_last_processed_timestamp_seconds", snap.cdcCheckpoints))
    val fts = rows.filter(_.getString(2) == "fulltext")
    family("fts_index_size_bytes",
      "Total size of a full-text search index (bytes)", "gauge") {
      fts.foreach(r =>
        sb ++= s"fts_index_size_bytes${lbl(r.getString(0), r.getString(1))} ${r.getLong(7)}\n")
    }
    family("fts_segment_count",
      "Number of segments in a full-text search index", "gauge") {
      // segment analogue on Spark: the store's part-file count, fixed at
      // registration (Engine.addIndex) — the scrape path never touches the
      // frame's plan or lineage
      fts.foreach { r =>
        engine.segmentCount(r.getString(0), r.getString(1)).foreach { n =>
          sb ++= s"fts_segment_count${lbl(r.getString(0), r.getString(1))} $n\n"
        }
      }
    }
    sb.result()
  }

  /** OpenAPI 3 document for the served routes — the reference publishes its
    * generated spec at `/api-docs/openapi.json` (httproutes.rs:165);
    * hand-authored here (same paths, parameters and response codes), since
    * the wire shapes live in [[Wire]] rather than derive macros. */
  private lazy val openApiJson: String = {
    val root = mapper.createObjectNode()
    root.put("openapi", "3.0.0")
    val info = root.putObject("info")
    info.put("title", "Graft Vector Store API")
    info.put("description",
      "REST API for the Spark-native vector store: vector search queries, " +
        "index listing, and service status.")
    info.put("version", Version)
    val paths = root.putObject("paths")
    def op(path: String, method: String, summary: String,
        codes: Seq[Int], hasBody: Boolean = false): Unit = {
      val p = paths.path(path) match {
        case o: ObjectNode => o
        case _ => paths.putObject(path)
      }
      val m = p.putObject(method)
      m.put("summary", summary)
      if (path.contains("{keyspace}")) {
        val params = m.putArray("parameters")
        for (name <- Seq("keyspace", "index")) {
          val prm = params.addObject()
          prm.put("name", name); prm.put("in", "path"); prm.put("required", true)
          prm.putObject("schema").put("type", "string")
        }
      }
      if (hasBody)
        m.putObject("requestBody").putObject("content").putObject("application/json")
      val rs = m.putObject("responses")
      codes.foreach(c => rs.putObject(c.toString).put("description",
        if (c == 200) "OK" else if (c == 400) "Bad request"
        else if (c == 404) "Index not found" else "Index not ready"))
    }
    op("/api/v1/indexes", "get", "List indexes", Seq(200))
    op("/api/v1/indexes/{keyspace}/{index}", "get", "Index info", Seq(200, 404))
    op("/api/v1/indexes/{keyspace}/{index}/status", "get",
      "Index status, count and build progress", Seq(200, 404))
    op("/api/v1/indexes/{keyspace}/{index}/ann", "post",
      "ANN top-k search with CQL restrictions", Seq(200, 400, 404, 503), hasBody = true)
    op("/api/v1/indexes/{keyspace}/{index}/bm25", "post",
      "BM25 full-text search", Seq(200, 400, 404, 503), hasBody = true)
    op("/api/v1/info", "get", "Service info", Seq(200))
    op("/api/v1/status", "get", "Node status", Seq(200))
    mapper.writeValueAsString(root)
  }

  /** Dispatch one request. `path` is the full `/api/v1/...` path. */
  def handle(engine: Engine, method: String, path: String, body: String = ""): Response = {
    val parts = path.stripPrefix("/").stripSuffix("/").split("/").toList
    try {
      (method.toUpperCase, parts) match {
        case ("GET", List("metrics")) =>
          Response(200, prometheusText(engine), "text/plain; version=0.0.4")

        case ("GET", List("api-docs", "openapi.json")) =>
          Response(200, openApiJson)

        // internals debug counters (httproutes.rs:1546-1554, internals.rs):
        // the reference validator's test-instrumentation surface
        case ("GET", List("api", "internals", "counters")) =>
          Response(200, countersJson(engine.counters()))
        case ("DELETE", List("api", "internals", "counters")) =>
          engine.clearCounters(); Response(200, "{}")
        case ("PUT", List("api", "internals", "counters", id)) =>
          engine.startCounter(id); Response(200, "{}")
        case ("GET", List("api", "internals", "session-counters")) =>
          Response(200, countersJson(engine.sessionCounters()))

        case ("GET", List("api", "v1", "info")) =>
          val n = mapper.createObjectNode()
          n.put("engine", s"spark-${org.apache.spark.SPARK_VERSION}")
          n.put("service", Service)
          n.put("version", Version)
          Response(200, mapper.writeValueAsString(n))

        case ("GET", List("api", "v1", "status")) =>
          Response(200, "\"SERVING\"")

        case ("GET", List("api", "v1", "indexes")) =>
          val arr = mapper.createArrayNode()
          engine.catalog.list.sortBy(e => (e.meta.keyspace, e.meta.index))
            .foreach(e => arr.add(indexInfoNode(engine, e)))
          Response(200, mapper.writeValueAsString(arr))

        case ("GET", List("api", "v1", "indexes", ks, idx)) =>
          engine.catalog.get(Catalog.IndexKey(ks, idx)) match {
            case Some(e) => Response(200, mapper.writeValueAsString(indexInfoNode(engine, e)))
            case None => error(404, s"missing index: $ks.$idx")
          }

        case ("GET", List("api", "v1", "indexes", ks, idx, "status")) =>
          engine.catalog.get(Catalog.IndexKey(ks, idx)) match {
            case Some(e) =>
              val n = mapper.createObjectNode()
              n.put("status", statusName(e.status))
              n.put("count", engine.count(ks, idx))
              n.put("build_progress", e.progressPct)
              Response(200, mapper.writeValueAsString(n))
            case None => error(404, s"missing index: $ks.$idx")
          }

        // the index lookup (404) comes BEFORE body parsing (400), matching
        // the reference's route ordering (httproutes.rs resolves the index
        // from the path, then deserializes the request)
        case ("POST", List("api", "v1", "indexes", ks, idx, "ann")) =>
          val meta = engine.catalog.get(Catalog.IndexKey(ks, idx))
            .map(_.meta).getOrElse(throw new QueryException(404, s"missing index: $ks.$idx"))
          val types = columnTypes(engine, ks, idx)
          val req = Wire.parseAnnRequest(body, types)
          // observe the FULL request wall-clock (plan + collect inside the
          // response serializer) — what the reference's axum layer times
          val t0 = System.nanoTime()
          // store fence read side around plan + collect: a maintenance
          // commit (segment append / fold) can never interleave
          // with this request's scan (Engine.withQuiescedRead)
          val json = engine.withQuiescedRead(ks, idx) {
            val res = engine.ann(ks, idx, req)
            Wire.annResponseJson(res, meta.primaryKeyColumns, types)
          }
          engine.recordLatency(ks, idx, (System.nanoTime() - t0) / 1e9)
          Response(200, json)

        case ("POST", List("api", "v1", "indexes", ks, idx, "bm25")) =>
          val meta = engine.catalog.get(Catalog.IndexKey(ks, idx))
            .map(_.meta).getOrElse(throw new QueryException(404, s"missing index: $ks.$idx"))
          val types = columnTypes(engine, ks, idx)
          val (q, limit) = Wire.parseBm25Request(body)
          val t0 = System.nanoTime()
          val json = engine.withQuiescedRead(ks, idx) {
            val res = engine.bm25(ks, idx, q, limit)
            Wire.bm25ResponseJson(res, meta.primaryKeyColumns.head, types)
          }
          engine.recordLatency(ks, idx, (System.nanoTime() - t0) / 1e9)
          Response(200, json)

        case _ => error(404, s"no route: $method $path")
      }
    } catch {
      case e: QueryException if e.status == 503 => notReady(e.getMessage)
      case e: QueryException => error(e.status, e.getMessage)
    }
  }
}
