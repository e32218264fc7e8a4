package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{HttpShell, Routes}
import graft.functions.VectorFunctions.Euclidean
import graft.operators.{Catalog, Engine}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The serving shell over real sockets: the same route surface RoutesSpec
  * pins, exercised through the JDK HttpServer + HttpClient pair — request
  * bodies, status codes, content types and JSON bodies over the wire. */
class HttpShellSpec extends SparkSpec {
  import spark.implicits._

  private val om = new ObjectMapper
  private lazy val client = HttpClient.newHttpClient()

  private def engineFixture(): Engine = {
    val df = Seq(
      (1L, Seq(0f, 0f, 1f), "alpha data"),
      (2L, Seq(0f, 1f, 0f), "beta data"),
      (3L, Seq(1f, 0f, 0f), "gamma spark")).toDF("pk", "vec", "body")
    val eng = new Engine
    eng.addIndex(Catalog.IndexMetadata("ks", "vidx", "tbl", "vec",
      primaryKeyColumns = Seq("pk"),
      kind = Catalog.Vs(Catalog.IndexOptionsVs(3, Euclidean))), df)
    eng
  }

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("serves the route surface over real sockets (httpserver.rs listener role)") {
    val shell = HttpShell.start(engineFixture())
    try {
      val port = shell.port
      assert(port > 0) // ephemeral bind, like the reference's test harness

      val info = get(port, "/api/v1/info")
      assert(info.statusCode() == 200)
      assert(info.headers().firstValue("Content-Type").get.startsWith("application/json"))
      assert(om.readTree(info.body()).get("service").asText() == Routes.Service)

      val ann = post(port, "/api/v1/indexes/ks/vidx/ann",
        """{"vector": [1.0, 0.0, 0.0], "limit": 2}""")
      assert(ann.statusCode() == 200, ann.body())
      val res = om.readTree(ann.body())
      assert(res.get("primary_keys").get("pk").get(0).asLong() == 3L)
      assert(res.get("distances").size() == 2)

      // error taxonomy crosses the wire intact
      assert(get(port, "/api/v1/indexes/ks/ghost").statusCode() == 404)
      val bad = post(port, "/api/v1/indexes/ks/vidx/ann", "{not json")
      assert(bad.statusCode() == 400)
      assert(om.readTree(bad.body()).get("status").asInt() == 400)

      val metrics = get(port, "/metrics")
      assert(metrics.statusCode() == 200)
      assert(metrics.headers().firstValue("Content-Type").get.startsWith("text/plain"))
      assert(metrics.body().contains("index_size"))
    } finally shell.stop()
  }

  test("concurrent requests share the engine and session safely") {
    val eng = engineFixture()
    eng.startCounter("ann-queries")
    val shell = HttpShell.start(eng)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // each request targets a DIFFERENT nearest neighbor — a cross-request
      // state bleed (shared mutable plan/query state) would surface as a
      // response carrying another request's top-1
      val expected = Map(0 -> 1L, 1 -> 2L, 2 -> 3L) // basis axis → pk
      val bodies = (0 until 12).map { i =>
        val axis = i % 3
        val v = Seq(0, 1, 2).map(d => if (d == 2 - axis) "0.9" else "0.1")
        i -> s"""{"vector": [${v.mkString(", ")}], "limit": 2}"""
      }
      val rs = Await.result(
        Future.sequence(bodies.map { case (i, b) => Future(
          i -> post(shell.port, "/api/v1/indexes/ks/vidx/ann", b))
        }),
        2.minutes)
      assert(rs.forall(_._2.statusCode == 200), rs.map(_._2.statusCode))
      rs.foreach { case (i, r) =>
        val n = om.readTree(r.body)
        assert(n.get("primary_keys").get("pk").size == 2)
        assert(n.get("primary_keys").get("pk").get(0).asLong == expected(i % 3),
          s"request $i got another request's answer: ${r.body}")
      }
      assert(eng.counters()("ann-queries") == 12L)
      // every served request observed into the latency histogram exactly once
      val lat = eng.promSnapshot().latency(
        graft.operators.Catalog.IndexKey("ks", "vidx"))
      assert(lat.count == 12L)
    } finally shell.stop()
  }

  test("a body past the 2 MiB limit gets 413; the shell keeps serving") {
    val shell = HttpShell.start(engineFixture())
    try {
      val ann = """{"vector": [1.0, 0.0, 0.0], "limit": 2}"""
      // exactly at the limit: a valid request padded with whitespace
      val atLimit = post(shell.port, "/api/v1/indexes/ks/vidx/ann",
        ann + " " * (HttpShell.MaxBodyBytes - ann.length))
      assert(atLimit.statusCode() == 200, atLimit.body())
      val over = post(shell.port, "/api/v1/indexes/ks/vidx/ann",
        "x" * (HttpShell.MaxBodyBytes + 1))
      assert(over.statusCode() == 413, over.body())
      assert(om.readTree(over.body()).get("status").asInt() == 413)
      val after = post(shell.port, "/api/v1/indexes/ks/vidx/ann", ann)
      assert(after.statusCode() == 200, after.body())
      assert(om.readTree(after.body()).get("primary_keys").get("pk").get(0).asLong() == 3L)
    } finally shell.stop()
  }

  test("stopped shell releases the port") {
    val shell = HttpShell.start(engineFixture())
    val port = shell.port
    shell.stop()
    // a second shell can bind the SAME port immediately after stop
    val again = HttpShell.start(engineFixture(), port = port)
    try assert(again.port == port)
    finally again.stop()
  }

  test("the shell turns on TCP_NODELAY before the JVM's first HttpServer") {
    // the JDK reads sun.net.httpserver.nodelay once, when its server
    // configuration initializes; HttpShell sets it in its initializer
    val shell = HttpShell.start(engineFixture())
    try assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    finally shell.stop()
  }
}
