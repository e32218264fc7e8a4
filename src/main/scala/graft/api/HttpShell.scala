package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.operators.Engine
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The serving shell: binds the [[Routes]] dispatcher to the JDK's built-in
  * HTTP server so the engine is a runnable service, closing the loop the
  * reference's `httpserver.rs` owns (axum listener → router → engine).
  * Zero dependencies beyond the JDK — `com.sun.net.httpserver` has shipped
  * since Java 6 and is adequate for a query sidecar whose concurrency is
  * bounded by Spark job slots, not socket accept rates.
  *
  * Deliberately out of scope, as documented in [[Routes]]: TLS/rustls
  * reload, graceful-drain timeouts and the dynamic listener reconfig actor
  * (httpserver.rs:29-120) — transport concerns a Spark deployment delegates
  * to its ingress; the wire contract itself is fully served here.
  *
  * Lifecycle: `start` binds (port 0 = ephemeral, like the reference's test
  * harness `httpserver.rs:450`), `stop` releases the listener. Handlers run
  * on a small fixed pool; each request dispatches through [[Routes.handle]]
  * and returns its status + JSON body verbatim.
  *
  * TCP_NODELAY: this object's initializer sets the JDK property
  * `sun.net.httpserver.nodelay=true` (unless already set) before its first
  * `HttpServer.create`. The JDK reads it once, when its server
  * configuration class initializes, so it must be set before any
  * `HttpServer` exists in the JVM. Without it a reply written in two
  * segments (headers, then body) to a keep-alive client waits on Nagle's
  * algorithm meeting the client's delayed ACK: about 40 ms per request on
  * loopback.
  */
object HttpShell {

  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** The largest request body the shell reads: 2 MiB, the default body
    * limit of axum, the reference's HTTP layer. A longer body is answered
    * 413 after reading one byte past the limit, so no request buffers more
    * than that in the serving JVM. */
  val MaxBodyBytes: Int = 2 * 1024 * 1024

  final case class Server(underlying: HttpServer,
      pool: java.util.concurrent.ExecutorService) {
    def port: Int = underlying.getAddress.getPort
    // HttpServer.stop does NOT terminate a user-supplied executor; the
    // non-daemon pool threads would keep the JVM alive after stop()
    def stop(): Unit = { underlying.stop(0); pool.shutdown() }
  }

  def start(engine: Engine, port: Int = 0, threads: Int = 8,
      host: String = "127.0.0.1"): Server = {
    // default loopback (safe out of the box); a deployment passes its
    // bind address (e.g. "0.0.0.0" behind an ingress)
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val response =
          try {
            val body = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
            if (body.length > MaxBodyBytes)
              Routes.error(413, s"request body exceeds $MaxBodyBytes bytes")
            else
              Routes.handle(engine, ex.getRequestMethod, ex.getRequestURI.getPath,
                new String(body, StandardCharsets.UTF_8))
          } catch {
            // Routes maps QueryException already; anything else is a 500
            case e: Exception =>
              Routes.Response(500,
                s"""{"status": 500, "message": "internal error: ${e.getClass.getSimpleName}"}""")
          }
        val bytes = response.body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", response.contentType)
        ex.sendResponseHeaders(response.status, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    server.setExecutor(pool)
    server.start()
    Server(server, pool)
  }
}
