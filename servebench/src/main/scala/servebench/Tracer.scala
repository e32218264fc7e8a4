package servebench

import graft.api.Wire
import graft.operators.ApproxAnn
import servebench.Probe.median

/** The traced client: each request goes over HTTP, then through
  * [[Load.traced]] in-process under a Spark tag, so spans and Spark counts
  * attach to it; ANN requests also time the radius decision on its own,
  * with the serving configuration the index has attached. */
final class TraceClient(up: Stack.Up) {
  private val sc = up.spark.sparkContext
  val counts = new Probe.SparkCounts
  val spans = new Probe.Spans
  val sampled = scala.collection.mutable.ArrayBuffer[Load.Sample]()
  val mismatches = scala.collection.mutable.ArrayBuffer[String]()
  /** Per traced request that got a reply: its id, rows returned, and
    * whether it was an ANN request. */
  private val outcomes = scala.collection.mutable.ArrayBuffer[(Long, Int, Boolean)]()

  def start(): Unit = sc.addSparkListener(counts)

  /** One traced request; `version` reads the served state's version, so a
    * body compared across a commit is not taken for drift. */
  def request(i: Int, r: Corpus.Request, version: () => Int = () => 0): Load.Sample = {
    val v0 = version()
    val sample = Load.send(up.port, i, r)
    val (code, body) = (sample.status, sample.body)
    sampled += sample
    sc.setLocalProperty(Probe.TagKey, s"req:$i")
    val direct = try Load.traced(up.engine, r, i, spans) finally sc.setLocalProperty(Probe.TagKey, null)
    if (code == 200 && direct != body && version() == v0)
      mismatches += s"request $i: traced body differs from the HTTP reply"
    if (code == 200) r match {
      case q: Corpus.AnnQuery =>
        val cfg = up.serving.get(q.index)
        val req = Wire.parseAnnRequest(r.body, Stack.columnTypes(up.engine, "vs", q.index))
        up.engine.withQuiescedRead("vs", q.index) {
          spans.time("ApproxAnn.radius", i)(ApproxAnn.chooseLshRadius(cfg.indexed, "embedding", req,
            cfg.nbits, cfg.radii, cfg.oversample, cfg.minCoverage))
        }
        outcomes += ((i.toLong, Oracle.parseAnn(body).pks.length, true))
      case _ => outcomes += ((i.toLong, Oracle.parseBm25(body).pks.length, false))
    }
    sample
  }

  /** Input rows of each job of the first few traced ANN requests, as
    * `rows/rows/...;...` (shows what the fallback rule compares). */
  def annScanRows: String = outcomes.filter(_._3).take(6)
    .map(o => counts.get(s"req:${o._1}").jobRows.values.mkString("/")).mkString(";")

  /** Waits for the listener to see every event, then detaches it. */
  def stop(out: java.io.File): Unit = {
    org.apache.spark.BusDrain.drain(sc)
    sc.removeSparkListener(counts)
    spans.write(out)
  }

  /** The serving layers, per-request medians. A request counts as a
    * fallback when its last job that read input (the ranking scan) read at
    * least as many rows as its first (the radius decision, which scans the
    * whole store): the exact scan read every row again. */
  def layers(overheadMs: Double): Seq[(String, Double, String)] = {
    val handleById = spans.all.filter(_.name == "Routes.handle").map(s => s.id -> s.ms).toMap
    val ok = sampled.filter(s => s.ok && handleById.contains(s.seq.toLong)).toSeq
    val perReq = ok.map(s => s.seq.toLong -> counts.get(s"req:${s.seq}"))
    val byId = outcomes.map { case (id, n, isAnn) => id -> (n, isAnn, counts.get(s"req:$id")) }
    def rowsPerResult(ann: Boolean) = byId.collect {
      case (_, (n, `ann`, c)) if n > 0 => c.inputRows.toDouble / n }
    val scans = byId.collect { case (_, (_, true, c)) => c.jobRows.values.filter(_ > 0).toSeq }
    val fallbacks = scans.count(s => s.length >= 2 && s.last >= s.head)
    def med(xs: Iterable[Double]) = median(xs.toSeq)
    Seq(
      ("HttpShell.transport_ms", med(ok.map(s => s.ms - handleById(s.seq.toLong))), "ms"),
      ("Routes.handle_ms", med(spans.durations("Routes.handle")), "ms"),
      ("Routes.unaccounted_ms", med(spans.selfTimes("Routes.handle")), "ms"),
      ("Wire.parse_ms", med(spans.durations("Wire.parse")), "ms"),
      ("Wire.respond_ms", med(spans.durations("Wire.respond")), "ms"),
      ("Engine.plan_ms", med(spans.durations("Engine.plan")), "ms"),
      ("Engine.fence_wait_ms", med(spans.durations("Engine.fence_wait")), "ms"),
      ("ApproxAnn.radius_ms", med(spans.durations("ApproxAnn.radius")), "ms"),
      ("ApproxAnn.fallback_share", if (scans.isEmpty) 0.0 else fallbacks.toDouble / scans.length, "ratio"),
      ("ApproxAnn.rows_per_result", med(rowsPerResult(ann = true)), "ratio"),
      ("Bm25.rows_per_result", med(rowsPerResult(ann = false)), "ratio"),
      ("spark.jobs_per_request", med(perReq.map(_._2.jobs.toDouble)), "count"),
      ("spark.stages_per_request", med(perReq.map(_._2.stages.toDouble)), "count"),
      ("spark.tasks_per_request", med(perReq.map(_._2.tasks.toDouble)), "count"),
      ("spark.task_ms_per_request", med(perReq.map(_._2.taskMs.toDouble)), "ms"),
      ("spark.job_wall_ms_per_request", med(perReq.map(_._2.jobWallMs)), "ms"),
      ("spark.driver_ms_per_request", med(perReq.map { case (id, c) => handleById(id) - c.jobWallMs }), "ms"),
      ("spark.shuffle_bytes_per_request", med(perReq.map(_._2.shuffleBytes.toDouble)), "bytes"),
      ("trace.overhead_ms", overheadMs, "ms"))
  }
}
