package servebench

import graft.api.Wire
import graft.operators.{Catalog, Engine}
import java.util.concurrent.atomic.AtomicInteger

/** Closed-loop HTTP clients, and the traced in-process path. */
object Load {

  /** One request sent and its reply. `seq` indexes the request sequence. */
  final case class Sample(seq: Int, start: Double, end: Double, status: Int, body: String) {
    def ms: Double = end - start
    def ok: Boolean = status == 200
  }

  /** Issues request numbers from `next` until `seconds` have passed and at
    * least `min` were issued, stopping only after a whole number of `cycle`s,
    * so every phase holds the request mix in exactly its shares. */
  final class Issuer(next: AtomicInteger, seconds: Double, min: Int, cycle: Int) {
    private val deadline = Probe.nowMs + seconds * 1000
    private var issued = 0
    def apply(): Option[Int] = synchronized {
      if (issued >= min && issued % cycle == 0 && Probe.nowMs >= deadline) None
      else { issued += 1; Some(next.getAndIncrement()) }
    }
  }

  /** Sends request number `seq` and waits for its reply. */
  def send(port: Int, seq: Int, r: Corpus.Request): Sample = {
    val s = Probe.nowMs
    val (code, body) =
      try Stack.post(port, r.path, r.body) catch { case e: Exception => (-1, e.toString) }
    Sample(seq, s, Probe.nowMs, code, body)
  }

  /** `clients` threads, each sending its next request only after the last
    * reply, while the [[Issuer]] hands out requests. */
  def closedLoop(port: Int, reqs: IndexedSeq[Corpus.Request], clients: Int,
      seconds: Double, minRequests: Int, next: AtomicInteger): Seq[Sample] = {
    val issue = new Issuer(next, seconds, minRequests, Corpus.Cycle)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = issue()
        while (i.nonEmpty) {
          out.add(send(port, i.get, reqs(i.get % reqs.length)))
          i = issue()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toArray(Array.empty[Sample]).toSeq.sortBy(_.start)
  }

  /** Completed requests per second of a closed loop of `clients` with no
    * think time: clients over the mean reply time (Little's law). Unlike a
    * count of completions in a short window it is not quantised. */
  def throughput(samples: Seq[Sample], clients: Int): Double = {
    val ok = samples.filter(_.ok)
    if (ok.isEmpty) 0.0 else clients / (ok.map(_.ms).sum / ok.length / 1000)
  }

  /** The steps `Routes.handle` takes for an ANN or BM25 POST, called in the
    * same order through the same public functions, each inside a span.
    * The returned body must equal the HTTP reply to the same request. */
  def traced(engine: Engine, r: Corpus.Request, id: Long, spans: Probe.Spans): String = {
    val root = "Routes.handle"
    val sub = Some(root)
    spans.time(root, id) {
      val List(_, _, _, ks, idx, kind) = r.path.stripPrefix("/").split("/").toList
      val meta = engine.catalog.get(Catalog.IndexKey(ks, idx)).map(_.meta).get
      val types = Stack.columnTypes(engine, ks, idx)
      val t0 = System.nanoTime()
      val json = kind match {
        case "ann" =>
          val req = spans.time("Wire.parse", id, sub)(Wire.parseAnnRequest(r.body, types))
          val called = Probe.nowMs
          engine.withQuiescedRead(ks, idx) {
            spans.add(Probe.Span("Engine.fence_wait", id, sub, called, Probe.nowMs))
            val res = spans.time("Engine.plan", id, sub)(engine.ann(ks, idx, req))
            spans.time("Wire.respond", id, sub)(
              Wire.annResponseJson(res, meta.primaryKeyColumns, types))
          }
        case "bm25" =>
          val (q, limit) = spans.time("Wire.parse", id, sub)(Wire.parseBm25Request(r.body))
          val called = Probe.nowMs
          engine.withQuiescedRead(ks, idx) {
            spans.add(Probe.Span("Engine.fence_wait", id, sub, called, Probe.nowMs))
            val res = spans.time("Engine.plan", id, sub)(engine.bm25(ks, idx, q, limit))
            spans.time("Wire.respond", id, sub)(
              Wire.bm25ResponseJson(res, meta.primaryKeyColumns.head, types))
          }
      }
      engine.recordLatency(ks, idx, (System.nanoTime() - t0) / 1e9)
      json
    }
  }
}
