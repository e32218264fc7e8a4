package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.Routes
import graft.functions.VectorFunctions.Euclidean
import graft.operators.{Catalog, Engine}
import org.apache.spark.sql.DataFrame

/** The route dispatcher end-to-end against a live engine — the
  * `httproutes.rs` surface (paths, response bodies, error taxonomy) minus
  * only the HTTP listener. */
class RoutesSpec extends SparkSpec {
  import spark.implicits._

  private val om = new ObjectMapper

  private def engineWith(status: Catalog.IndexStatus = Catalog.Serving,
      progress: Double = 100.0): (Engine, DataFrame) = {
    val df = Seq(
      (1L, Seq(0f, 0f, 1f), "alpha data"),
      (2L, Seq(0f, 1f, 0f), "beta data"),
      (3L, Seq(1f, 0f, 0f), "gamma spark")).toDF("pk", "vec", "body")
    val eng = new Engine
    eng.addIndex(Catalog.IndexMetadata("ks", "vidx", "tbl", "vec",
      primaryKeyColumns = Seq("pk"),
      kind = Catalog.Vs(Catalog.IndexOptionsVs(3, Euclidean))), df,
      status = status, progressPct = progress)
    eng.addIndex(Catalog.IndexMetadata("ks", "fidx", "tbl", "body",
      primaryKeyColumns = Seq("pk"),
      kind = Catalog.Fts(Catalog.IndexOptionsFts())), df)
    (eng, df)
  }

  test("GET /api/v1/indexes lists vector + fulltext IndexInfo (httproutes.rs:290)") {
    val (eng, _) = engineWith()
    val r = Routes.handle(eng, "GET", "/api/v1/indexes")
    assert(r.status == 200)
    val arr = om.readTree(r.body)
    assert(arr.size() == 2)
    val byIdx = (0 until arr.size()).map(arr.get)
      .map(n => n.get("index").asText() -> n).toMap
    assert(byIdx("vidx").get("options").get("type").asText() == "vector")
    assert(byIdx("vidx").get("options").get("dimensions").asInt() == 3)
    assert(byIdx("vidx").get("options").get("similarity_function").asText() == "EUCLIDEAN")
    assert(byIdx("vidx").get("options").get("quantization").asText() == "F32")
    assert(byIdx("fidx").get("options").get("type").asText() == "fulltext")
    assert(byIdx("fidx").get("options").get("positions").asBoolean())
  }

  test("GET /api/v1/indexes/{ks}/{idx} single info or 404 (httproutes.rs:459)") {
    val (eng, _) = engineWith()
    val ok = Routes.handle(eng, "GET", "/api/v1/indexes/ks/vidx")
    assert(ok.status == 200)
    assert(om.readTree(ok.body).get("keyspace").asText() == "ks")
    val missing = Routes.handle(eng, "GET", "/api/v1/indexes/ks/nope")
    assert(missing.status == 404)
    assert(om.readTree(missing.body).get("message").asText().contains("missing index"))
  }

  test("index info reflects the ATTACHED serving backend (lib.rs:766-775)") {
    val (eng, df) = engineWith()
    def backend(): String =
      om.readTree(Routes.handle(eng, "GET", "/api/v1/indexes/ks/vidx").body)
        .get("options").get("backend").asText()
    assert(backend() == "exact") // nothing attached yet
    eng.setApproxServing("ks", "vidx", Engine.ApproxServing(
      graft.operators.ApproxAnn.buildLshIndex(df, "vec", 8, 64), 8))
    assert(backend() == "lsh")
    eng.clearServingBackend("ks", "vidx")
    assert(backend() == "exact") // detach restores serving reality
    // fulltext info has no backend field — the seam is vector-only
    val fts = om.readTree(Routes.handle(eng, "GET", "/api/v1/indexes/ks/fidx").body)
    assert(!fts.get("options").has("backend"))
  }

  test("GET .../status: status, live count, build_progress (httproutes.rs:365)") {
    val (eng, _) = engineWith()
    val r = Routes.handle(eng, "GET", "/api/v1/indexes/ks/vidx/status")
    assert(r.status == 200)
    val n = om.readTree(r.body)
    assert(n.get("status").asText() == "SERVING")
    assert(n.get("count").asLong() == 3)
    assert(n.get("build_progress").asDouble() == 100.0)
  }

  test("POST .../ann end-to-end: wire request in, columnar response out (httproutes.rs:661)") {
    val (eng, _) = engineWith()
    val r = Routes.handle(eng, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [1.0, 0.0, 0.0], "limit": 2,
        | "filter": {"restrictions": [{"type": ">", "lhs": "pk", "rhs": 1}],
        |            "allow_filtering": true}}""".stripMargin)
    assert(r.status == 200, r.body)
    val n = om.readTree(r.body)
    assert(n.get("primary_keys").get("pk").get(0).asLong() == 3L) // nearest matching
    assert(n.get("distances").size() == 2)
    assert(n.get("distances").get(0).asDouble() == 0.0)
  }

  test("POST .../bm25 end-to-end (httproutes.rs:906)") {
    val (eng, _) = engineWith()
    val r = Routes.handle(eng, "POST", "/api/v1/indexes/ks/fidx/bm25",
      """{"query": "data", "limit": 10}""")
    assert(r.status == 200, r.body)
    val n = om.readTree(r.body)
    assert(n.get("primary_keys").get("pk").size() == 2) // alpha data, beta data
    assert(n.get("scores").size() == 2)
  }

  test("error taxonomy through the routes: 400 / 404 / 503 reason body") {
    val (eng, _) = engineWith()
    // residual filtering without allow_filtering -> 400 (httproutes.rs:751)
    val r400 = Routes.handle(eng, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [1.0, 0.0, 0.0],
        | "filter": {"restrictions": [{"type": ">", "lhs": "pk", "rhs": 1}]}}""".stripMargin)
    assert(r400.status == 400)
    // unknown index -> 404
    assert(Routes.handle(eng, "POST", "/api/v1/indexes/ks/ghost/ann",
      """{"vector": [0.0, 0.0, 0.0]}""").status == 404)
    // the index lookup precedes body parsing: a bad body (unknown column
    // restriction, even malformed JSON) against a missing index is still a
    // 404, matching the reference's route ordering
    assert(Routes.handle(eng, "POST", "/api/v1/indexes/ks/ghost/ann",
      """{"vector": [0.0], "filter": {"restrictions":
        | [{"type": "==", "lhs": "no_such_col", "rhs": 1}]}}""".stripMargin)
      .status == 404)
    assert(Routes.handle(eng, "POST", "/api/v1/indexes/ks/ghost/bm25",
      "{not json").status == 404)
    // building index -> 503 with the IndexNotReadyReason body (lib.rs:216-231)
    val (building, _) = engineWith(status = Catalog.FullScanning, progress = 40.0)
    val r503 = Routes.handle(building, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [0.0, 0.0, 0.0]}""")
    assert(r503.status == 503)
    val n = om.readTree(r503.body)
    assert(n.get("reason").asText() == "INDEX_BUILDING")
    assert(n.get("message").asText().contains("40.0"))
    // its /status route reports BOOTSTRAPPING + progress
    val st = om.readTree(Routes.handle(building, "GET",
      "/api/v1/indexes/ks/vidx/status").body)
    assert(st.get("status").asText() == "BOOTSTRAPPING")
    assert(st.get("build_progress").asDouble() == 40.0)
  }

  test("GET /api/v1/info and /api/v1/status (httproutes.rs:1479,1508)") {
    val (eng, _) = engineWith()
    val info = om.readTree(Routes.handle(eng, "GET", "/api/v1/info").body)
    assert(info.get("service").asText() == Routes.Service)
    assert(info.get("engine").asText().startsWith("spark-"))
    assert(info.get("version").asText().nonEmpty)
    val st = Routes.handle(eng, "GET", "/api/v1/status")
    assert(st.status == 200 && om.readTree(st.body).asText() == "SERVING")
    assert(Routes.handle(eng, "GET", "/api/v1/nope").status == 404)
  }

  test("internals counters: start/increment/snapshot/clear + session counters (internals.rs)") {
    val (eng, _) = engineWith()
    // PUT starts at 0; serving an ANN query bumps the engine's ann counter
    assert(Routes.handle(eng, "PUT", "/api/internals/counters/my-counter").status == 200)
    Routes.handle(eng, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [1.0, 0.0, 0.0], "limit": 1}""")
    val snap = om.readTree(Routes.handle(eng, "GET", "/api/internals/counters").body)
    assert(snap.get("my-counter").asLong() == 0L)
    assert(snap.get("ann-queries").asLong() == 1L)
    // DELETE clears everything
    assert(Routes.handle(eng, "DELETE", "/api/internals/counters").status == 200)
    val cleared = om.readTree(Routes.handle(eng, "GET", "/api/internals/counters").body)
    assert(cleared.size() == 0)
    // session counters report the Spark session topology (the reference
    // reports its scylla session's connection metrics here)
    val sess = om.readTree(Routes.handle(eng, "GET", "/api/internals/session-counters").body)
    assert(sess.get("spark-default-parallelism").asLong() > 0L)
  }

  test("GET /api-docs/openapi.json documents every served route (httproutes.rs:165)") {
    val (eng, _) = engineWith()
    val r = Routes.handle(eng, "GET", "/api-docs/openapi.json")
    assert(r.status == 200)
    val doc = om.readTree(r.body)
    assert(doc.get("openapi").asText().startsWith("3."))
    val paths = doc.get("paths")
    for (p <- Seq("/api/v1/indexes", "/api/v1/indexes/{keyspace}/{index}",
        "/api/v1/indexes/{keyspace}/{index}/status",
        "/api/v1/indexes/{keyspace}/{index}/ann",
        "/api/v1/indexes/{keyspace}/{index}/bm25",
        "/api/v1/info", "/api/v1/status"))
      assert(paths.has(p), p)
    // the ann route documents the full error taxonomy
    val ann = paths.get("/api/v1/indexes/{keyspace}/{index}/ann").get("post")
    for (c <- Seq("200", "400", "404", "503")) assert(ann.get("responses").has(c), c)
    assert(ann.get("parameters").size() == 2)
  }

  test("GET /metrics: Prometheus text exposition (httproutes.rs:160, metrics.rs names)") {
    val (eng, _) = engineWith()
    // drive one query so the request counter is nonzero
    Routes.handle(eng, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [1.0, 0.0, 0.0]}""")
    val r = Routes.handle(eng, "GET", "/metrics")
    assert(r.status == 200)
    assert(r.body.contains("# TYPE index_size gauge"))
    assert(r.body.contains("""index_size{keyspace="ks",index_name="vidx"} 3"""))
    assert(r.body.contains("""fts_index_size_bytes{keyspace="ks",index_name="fidx"}"""))
    assert(r.body.contains("""request_latency_seconds_count{keyspace="ks",index_name="vidx"} 1"""))
    // an engine with no indexes scrapes to the bare headers, not an error
    assert(Routes.handle(new Engine, "GET", "/metrics").status == 200)
  }

  test("/metrics conformance: reference families name-for-name, parser round trip") {
    val (eng, _) = engineWith()
    // populate every family the engine holds state for
    Routes.handle(eng, "POST", "/api/v1/indexes/ks/vidx/ann",
      """{"vector": [1.0, 0.0, 0.0]}""")
    eng.recordModified("ks", "vidx", "insert", 7)
    eng.recordModified("ks", "vidx", "delete", 2)
    eng.recordIndexingLag("ks", "vidx", 0.3)
    eng.recordIndexingLag("ks", "vidx", 45.0)
    eng.setCdcReaderUp("ks", "vidx", "realtime", up = true)
    eng.incrementCdcError("ks", "vidx", "consistent")
    eng.incrementCdcRestart("ks", "vidx", "consistent")
    eng.setCdcCheckpoint("ks", "vidx", "realtime", 1723600000.5)
    val body = Routes.handle(eng, "GET", "/metrics").body

    // minimal text-format parser: HELP/TYPE headers + samples with labels
    val helpRe = "^# HELP (\\S+) (.*)$".r
    val typeRe = "^# TYPE (\\S+) (\\S+)$".r
    val sampleRe = "^(\\S+?)\\{(.*)\\} (\\S+)$".r
    val labelRe = "(\\w+)=\"((?:[^\"\\\\]|\\\\.)*)\"".r
    def unescape(v: String): String = v
      .replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")
    var families = Vector.empty[(String, String)] // (name, type) in order
    var samples = Vector.empty[(String, Map[String, String], String)]
    body.linesIterator.foreach {
      case typeRe(n, t) => families :+= (n -> t)
      case helpRe(_, _) => ()
      case sampleRe(n, ls, v) =>
        val labels = labelRe.findAllMatchIn(ls)
          .map(m => m.group(1) -> unescape(m.group(2))).toMap
        samples :+= ((n, labels, v))
      case line => fail(s"unparseable exposition line: $line")
    }
    // the ten registered families of metrics.rs:20-29, in registration order
    assert(families == Vector(
      "request_latency_seconds" -> "histogram",
      "index_size" -> "gauge",
      "index_modified" -> "counter",
      "indexing_lag_seconds" -> "histogram",
      "cdc_reader_up" -> "gauge",
      "cdc_handler_errors_total" -> "counter",
      "cdc_reader_restarts_total" -> "counter",
      "cdc_last_processed_timestamp_seconds" -> "gauge",
      "fts_index_size_bytes" -> "gauge",
      "fts_segment_count" -> "gauge"))
    def of(name: String) = samples.filter(_._1 == name)
    // latency histogram: cumulative le buckets ending at +Inf == _count == 1
    val lat = of("request_latency_seconds_bucket")
    assert(lat.map(_._2("le")).toSet.contains("+Inf"))
    assert(lat.size == graft.operators.Engine.LatencyBuckets.length + 1)
    val cum = lat.filterNot(_._2("le") == "+Inf").map(_._3.toLong)
    assert(cum == cum.sorted, "bucket counts must be cumulative")
    assert(of("request_latency_seconds_count").head._3.toLong == 1L)
    // lag histogram: 0.3 s lands in le=0.5 and beyond; 45 s past le=30
    val lag = of("indexing_lag_seconds_bucket")
      .map(s => s._2("le") -> s._3.toLong).toMap
    assert(lag("0.25") == 0L && lag("0.5") == 1L && lag("30") == 1L &&
      lag("60") == 2L && lag("+Inf") == 2L)
    assert(of("indexing_lag_seconds_sum").head._3.toDouble == 45.3)
    // counters/gauges carry their extra label dimension
    assert(of("index_modified").map(s => s._2("operation") -> s._3.toLong).toMap ==
      Map("insert" -> 7L, "delete" -> 2L))
    assert(of("cdc_reader_up").head._2("reader") == "realtime")
    assert(of("cdc_reader_up").head._3 == "1")
    assert(of("cdc_handler_errors_total").head._3 == "1")
    assert(of("cdc_last_processed_timestamp_seconds").head._3.toDouble == 1723600000.5)
    assert(of("fts_segment_count").head._3.toInt >= 1)
    // a segment-maintained index updates the gauge live (append → rises,
    // compaction → collapses), mirroring the reference's trajectory
    eng.setSegmentCount("ks", "fidx", 5)
    assert(Routes.handle(eng, "GET", "/metrics").body
      .contains("""fts_segment_count{keyspace="ks",index_name="fidx"} 5"""))
    eng.setSegmentCount("ks", "fidx", 1)
    assert(Routes.handle(eng, "GET", "/metrics").body
      .contains("""fts_segment_count{keyspace="ks",index_name="fidx"} 1"""))
    // every sample carries the (keyspace, index_name) base label pair
    samples.foreach { case (n, ls, _) =>
      assert(ls.contains("keyspace") && ls.contains("index_name"), n)
    }
  }

  test("/metrics label escaping survives quote/backslash/newline keyspace names") {
    val df = Seq((1L, Seq(0f, 1f))).toDF("pk", "vec")
    val eng = new Engine
    val weird = "k\"s\\with\nnewline"
    eng.addIndex(Catalog.IndexMetadata(weird, "vidx", "tbl", "vec",
      primaryKeyColumns = Seq("pk"),
      kind = Catalog.Vs(Catalog.IndexOptionsVs(2, Euclidean))), df)
    val body = Routes.handle(eng, "GET", "/metrics").body
    // the raw newline must NOT appear inside a sample line
    val line = body.linesIterator.find(_.startsWith("index_size{")).get
    assert(line.contains("""keyspace="k\"s\\with\nnewline""""), line)
    // round trip through the escaping rules recovers the original
    assert(Routes.escapeLabelValue(weird)
      .replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\") == weird)
  }
}
