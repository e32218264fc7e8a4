package servebench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import servebench.Probe.{median, nowMs}

/** `serve`: set up, warm up, then one closed-loop client followed by
  * `nproc` of them, every reply checked. */
object Serving {
  /** Set-up is repeated and its median reported (the first one also pays
    * for class loading). */
  val SetupRounds = 3
  /** Share of the measured window given to the one-client phase. */
  val OneClientShare = 0.5
  /** The one-client phase runs on until it has this many replies (three
    * request cycles), so the tail percentile has ten samples beyond it. */
  val MinSamples = 30
  val TailPct: Double = 1 - 10.0 / MinSamples

  final case class Checked(errors: Seq[String], recalls: Seq[Double])

  /** Checks every reply to `reqs` in `samples`. */
  def check(workload: String, reqs: IndexedSeq[Corpus.Request], samples: Seq[Load.Sample]): Checked = {
    lazy val rows: Map[Long, (Array[Float], Int)] =
      Corpus.vectors.map(v => v.id -> (v.v, v.label)).toMap
    val verdicts = samples.filter(_.ok).map { s =>
      val v =
        try reqs(s.seq % reqs.length) match {
          case q: Corpus.AnnQuery => Oracle.checkAnn(Oracle.parseAnn(s.body), q, rows)
          case q: Corpus.Bm25Query => Oracle.checkBm25(Oracle.parseBm25(s.body), Oracle.scorer.scores(q.query))
        } catch { case e: Exception => Oracle.Verdict(Some(s"unreadable reply: $e"), 0.0) }
      v.copy(error = v.error.map(m => s"request ${s.seq} (${workload}): $m"))
    }
    Checked(verdicts.flatMap(_.error), verdicts.filter(_.error.isEmpty).map(_.recall))
  }

  def run(a: Main.Args): Main.Result = {
    val dataDir = a.dataDir
    val rounds = scala.collection.mutable.ArrayBuffer[(Stack.Timings, Double)]()
    var up: Stack.Up = null
    val probeReplies = scala.collection.mutable.ArrayBuffer[Load.Sample]()
    var probes: IndexedSeq[Corpus.Request] = null
    var probeS = 0.0
    var prepareS = 0.0
    for (r <- 0 until SetupRounds) {
      if (up != null) { up.down(); Stack.deleteTree(up.storeDir) }
      val (u, t) = Stack.bringUp(a.workload, a.runDir, dataDir, new File(a.runDir, s"store-$r"),
        spark => if (r == 0) prepareS = Stack.prepare(spark, dataDir))
      up = u
      // set-up freshness probes, also the warm-up of both request paths:
      // HTTP bound → the ANN route returns corpus vector 0 first for itself
      // and the BM25 route a correct top-k for a rare term
      if (probes == null) probes = IndexedSeq(
        Corpus.AnnQuery("emb_euclidean", Corpus.vectors(0).v, None), Corpus.Bm25Query(Corpus.Rare.head))
      val ready = nowMs
      probes.zipWithIndex.foreach { case (probe, k) =>
        var seen = false
        while (!seen) {
          if (nowMs - ready > 60000) throw new IllegalStateException("set-up probe never answered")
          val s = nowMs
          val (code, body) = Stack.post(u.port, probe.path, probe.body)
          probeReplies += Load.Sample(k, s, nowMs, code, body)
          seen = code == 200 && (probe match {
            case _: Corpus.AnnQuery => Oracle.parseAnn(body).pks.headOption.contains(Corpus.vectors(0).id)
            case q: Corpus.Bm25Query =>
              Oracle.checkBm25(Oracle.parseBm25(body), Oracle.scorer.scores(q.query)).error.isEmpty
          })
        }
      }
      probeS = (nowMs - ready) / 1000
      rounds += ((t, nowMs - ready))
    }

    val nReqs = 4096
    val reqs = Corpus.serveQueries(a.seed, nReqs)
    val warmupS = probeS

    val next = new AtomicInteger()
    val h0 = Probe.hostSnap()
    val res =
      if (a.trace) traced(a, up, reqs, next)
      else {
        val one = Load.closedLoop(up.port, reqs, 1, a.seconds * OneClientShare, MinSamples, next)
        val all = Load.closedLoop(up.port, reqs, Stack.cpus, a.seconds * (1 - OneClientShare),
          2 * Corpus.Cycle, next)
        Window(one, all, Load.throughput(all, Stack.cpus))
      }
    val h1 = Probe.hostSnap()
    val samples = res.one ++ res.all
    val c0 = nowMs
    val checked = check(a.workload, reqs, samples)
    val probesChecked = check(a.workload, probes, probeReplies.toSeq)
    val checkS = (nowMs - c0) / 1000
    val heap = Probe.heapMb()
    // the LSH store, and the documents table the FTS index serves from
    val storeBytes = Probe.diskBytes(up.storeDir) + Probe.diskBytes(new File(dataDir, "documents.parquet"))
    up.down()

    val lat = res.one.filter(_.ok).map(_.ms)
    // halves compared on one request kind: the mix differs between halves
    val annLat = res.one.filter(s => s.ok && (reqs(s.seq % reqs.length) match {
      case q: Corpus.AnnQuery => q.label.isEmpty
      case _ => false
    })).map(_.ms)
    val half = annLat.length / 2
    val setupS = median(rounds.map(_._1.total).toSeq)
    val freshMs = median(rounds.map(_._2).toSeq)
    val rowsIndexed = Corpus.vectors.length + Corpus.documents.length
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", median(lat), "ms"),
      ("latency_tail_ms", Probe.percentile(lat, TailPct), "ms"),
      ("throughput_per_s", res.throughput, "1/s"),
      ("recall_at_k", if (checked.recalls.isEmpty) 0.0 else checked.recalls.sum / checked.recalls.length, "ratio"),
      ("freshness_p50_ms", freshMs, "ms"),
      ("ingest_rows_per_s", median(rounds.map(r => rowsIndexed / (r._1.load + r._1.build)).toSeq), "1/s"),
      ("heap_mb", heap, "MB"),
      ("store_mb", storeBytes / 1048576.0, "MB"))
    val diag = Probe.windowDiag(h0, h1) ++ Map(
      "one_client_samples" -> lat.length,
      "tail_percentile" -> TailPct,
      "ann_p50_first_half_ms" -> median(annLat.take(half)),
      "ann_p50_second_half_ms" -> median(annLat.drop(half)),
      "second_phase_p50_ms" -> median(res.all.filter(_.ok).map(_.ms)),
      "p50_by_kind_ms" -> res.one.filter(_.ok).groupBy(s => reqs(s.seq % reqs.length) match {
        case q: Corpus.AnnQuery => if (q.label.isEmpty) "ann" else "ann_restricted"
        case _ => "bm25" }).map { case (k, v) => s"$k=${median(v.map(_.ms)).round}" }.mkString(","),
      "warmup_s" -> warmupS,
      "prepare_s" -> prepareS, "check_s" -> checkS,
      "setup_rounds_s" -> rounds.map(_._1.total).mkString(","),
      "freshness_rounds_ms" -> rounds.map(_._2.round).mkString(","),
      "errors" -> (probesChecked.errors ++ checked.errors ++ res.traceErrors).take(5).mkString(" | "))
    Main.Result(
      correct = checked.errors.isEmpty && probesChecked.errors.isEmpty && res.traceErrors.isEmpty,
      attempted = samples.length, failed = samples.count(!_.ok),
      metrics = if (a.trace) res.layers(rounds.map(_._1).toSeq, warmupS) else e2e,
      diag = diag ++ res.traceDiag)
  }

  /** What a measured window yields; traced windows add layer metrics. */
  final case class Window(one: Seq[Load.Sample], all: Seq[Load.Sample], throughput: Double,
      layers: (Seq[Stack.Timings], Double) => Seq[(String, Double, String)] = (_, _) => Nil,
      traceErrors: Seq[String] = Nil, traceDiag: Map[String, Any] = Map.empty)

  /** Traced window: one client whose request cycles alternate between
    * the [[TraceClient]] and a plain HTTP request, so both hold the same mix
    * and the same warm-up; the overhead is the difference of their median
    * HTTP latencies (the listener runs throughout). */
  private def traced(a: Main.Args, up: Stack.Up, reqs: IndexedSeq[Corpus.Request],
      next: AtomicInteger): Window = {
    val tc = new TraceClient(up)
    tc.start()
    val base = scala.collection.mutable.ArrayBuffer[Load.Sample]()
    val issue = new Load.Issuer(next, a.seconds, 2 * Corpus.Cycle, Corpus.Cycle)
    var i = issue()
    while (i.nonEmpty) {
      val r = reqs(i.get % reqs.length)
      if (i.get / Corpus.Cycle % 2 == 0) tc.request(i.get, r) else base += Load.send(up.port, i.get, r)
      i = issue()
    }
    tc.stop(new File(a.outDir, s"spans-${a.workload}-seed${a.seed}.jsonl"))
    val tracedP50 = median(tc.sampled.filter(_.ok).map(_.ms).toSeq)
    val baseP50 = median(base.filter(_.ok).map(_.ms).toSeq)
    Window(base.toSeq, tc.sampled.toSeq, 0.0,
      (setups, warmupS) => tc.layers(tracedP50 - baseP50) ++
        Main.setupLayers(setups, warmupS) ++ Main.ingestLayersAbsent,
      tc.mismatches.toSeq,
      Map("traced_requests" -> tc.sampled.length, "traced_p50_ms" -> tracedP50, "untraced_p50_ms" -> baseP50,
        "ann_scan_rows" -> tc.annScanRows))
  }
}
