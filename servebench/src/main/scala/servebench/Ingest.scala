package servebench

import graft.streaming.{IndexMaintenance, StreamingIngest}
import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import servebench.Probe.{median, nowMs}

/** `cdc_ingest`: seeded change batches stream through
  * `StreamingIngest.withCdcMetrics` → `IndexMaintenance.withCompaction` →
  * `appendVsSegment` under the engine's write fence, while one reader
  * sends ANN requests over HTTP to the maintained index. */
object Ingest {
  val SetupRounds = 3
  /** Folds every fourth commit. The default policy's 16-commit cycle takes
    * about a minute of ingest here, more than a run can spend. */
  val Policy = IndexMaintenance.CompactionPolicy(maxSegments = 4)
  /** One fold cycle: after bootstrap the store holds one segment, each
    * batch adds one, and the fold runs when a batch takes the count past
    * `maxSegments`, so the fold lands on the window's last batch. There is
    * no warm-up batch: the set-up rounds warm the JVM. */
  val WindowBatches: Int = Policy.maxSegments
  val TailPct: Double = Serving.TailPct

  final case class Ev(vec_id: Long, embedding: Array[Float], op: String, ts: java.sql.Timestamp)

  /** What the ingest side records per streamed batch besides its spans. */
  final class BatchLog {
    val enqueued = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val committedAt = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val segments = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val newFiles = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val bytesWritten = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  }

  /** One reader request and the state versions bracketing it. */
  final case class Read(sample: Load.Sample, q: Corpus.AnnQuery, v0: Int, v1: Int)

  def run(a: Main.Args): Main.Result = {
    val dataDir = a.dataDir
    val storeDir = new File(a.runDir, "store")
    val rounds = scala.collection.mutable.ArrayBuffer[Stack.Timings]()
    var up: Stack.Up = null
    var prepareS = 0.0
    for (r <- 0 until SetupRounds) {
      if (up != null) { up.down(); Stack.deleteTree(up.storeDir) }
      val (u, t) = Stack.bringUp("cdc_ingest", a.runDir, dataDir,
        if (r == SetupRounds - 1) storeDir else new File(a.runDir, s"store-$r"),
        spark => if (r == 0) prepareS = Stack.prepare(spark, dataDir))
      up = u
      rounds += t
    }
    val spark = up.spark
    val engine = up.engine
    val nBatches = WindowBatches
    val batches = Corpus.cdcBatches(a.seed, nBatches)
    val versions = Oracle.replay(batches)
    val committed = new AtomicInteger(0)
    val log = new BatchLog
    val tc = if (a.trace) Some(new TraceClient(up)) else None
    tc.foreach(_.start())
    // batch spans: id = batch id; the traced reader's request spans share
    // the buffer
    val spans = tc.map(_.spans).getOrElse(new Probe.Spans)
    val Batch = "StreamingIngest.batch"
    val Hold = "Engine.commit_hold"

    // ---- the write path, each call into the program timed from outside --
    val userBytes = batches.map(_.map(e => 8L + (if (e.vector == null) 0 else 4L * e.vector.length)).sum)
    val append = IndexMaintenance.appendVsSegment(spark, storeDir.getPath, "vec_id", "embedding",
      Some("op"), Stack.Dims, Stack.Nbits, segOffset = 1L)
    val timedAppend = (df: DataFrame, id: Long) =>
      spans.time("IndexMaintenance.append", id, Some(Hold))(append(df, id))
    val merge = IndexMaintenance.withCompaction(spark, storeDir.getPath, Policy,
      () => spans.time("IndexMaintenance.fold", committed.get().toLong, Some(Hold))(
        IndexMaintenance.compactVsSegments(spark, storeDir.getPath, "vec_id")),
      n => engine.setSegmentCount("vs", Stack.LiveIndex, n))(timedAppend)
    // runs under the write fence: withCdcMetrics wraps it in withMaintenance
    val sink = (df: DataFrame, id: Long) => spans.time(Hold, id, Some(Batch)) {
      val before = Probe.dataFiles(storeDir)
      merge(df, id)
      val after = Probe.dataFiles(storeDir)
      log.newFiles.put(id, (after.keySet -- before.keySet).size)
      log.bytesWritten.put(id, after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum)
      log.segments.put(id, IndexMaintenance.ftsSegmentCount(spark, storeDir.getPath))
      spans.time("IndexMaintenance.read", id, Some(Hold))(Stack.attachLive(spark, engine, storeDir, up.serving))
      committed.set(id.toInt + 1)
      log.committedAt.put(id, nowMs); ()
    }
    val body = StreamingIngest.withCdcMetrics(engine, "vs", Stack.LiveIndex, "realtime", tsCol = "ts")(sink)
    val batchFn: (DataFrame, Long) => Unit = (df, id) => {
      val t = nowMs
      spans.add(Probe.Span("StreamingIngest.trigger", id, None, log.enqueued.get(id), t))
      spans.time(Batch, id)(body(df, id))
    }
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val t0 = nowMs
    val query = mem.toDF().writeStream.foreachBatch(batchFn)
      .option("checkpointLocation", new File(a.runDir, "checkpoint").getPath).start()
    val streamStartS = (nowMs - t0) / 1000

    // ---- the reader ------------------------------------------------------
    val readerQs = Corpus.readerQueries(a.seed, 4096)
    val pending = scala.collection.mutable.ArrayBuffer[Int]()
    val seenAt = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val reads = new ConcurrentLinkedQueue[Read]()
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        // probe the newest batch not yet seen: commits are ordered, so
        // once its plant is served every earlier batch's is too
        val probe = pending.synchronized(if (pending.isEmpty) None else Some(pending.last))
        val q = probe match {
          case Some(b) => Corpus.AnnQuery(Stack.LiveIndex, batches(b).last.vector, None)
          case None => readerQs(i % readerQs.length)
        }
        val v0 = committed.get()
        // a traced run alternates traced and plain requests, so the two
        // halves of one window give the tracing overhead
        val s = tc match {
          case Some(t) if i % 2 == 0 => t.request(i, q, () => committed.get())
          case _ => Load.send(up.port, i, q)
        }
        reads.add(Read(s, q, v0, committed.get()))
        probe.foreach { b =>
          if (s.ok && Oracle.parseAnn(s.body).pks.headOption.contains(Corpus.PlantBase + b))
            pending.synchronized { pending.filter(_ <= b).foreach(seenAt.put(_, s.end)); pending.filterInPlace(_ > b) }
        }
        i += 1
      }
    })
    reader.start()

    // ---- the producer: one batch per seconds/WindowBatches, never ahead
    // of the previous commit ------------------------------------------------
    val pace = a.seconds * 1000.0 / WindowBatches
    val w0 = nowMs
    val h0 = Probe.hostSnap()
    try {
      for (b <- 0 until nBatches) {
        val due = w0 + b * pace
        while (nowMs < due) Thread.sleep(1)
        val ts = new java.sql.Timestamp(System.currentTimeMillis())
        log.enqueued.put(b.toLong, nowMs)
        pending.synchronized(pending += b)
        mem.addData(batches(b).map(e => Ev(e.id, e.vector, e.op, ts)))
        val deadline = nowMs + 120000
        while (committed.get() < b + 1) {
          if (!query.isActive) throw new IllegalStateException("stream stopped", query.exception.orNull)
          if (nowMs > deadline) throw new IllegalStateException(s"batch $b never committed")
          Thread.sleep(1)
        }
      }
      val deadline = nowMs + 60000
      while (!seenAt.containsKey(nBatches - 1) && nowMs < deadline) Thread.sleep(1)
    } finally {
      stop.set(true)
      reader.join()
      query.stop()
    }
    val w1 = nowMs
    val h1 = Probe.hostSnap()

    // ---- checks: every reply against the LWW replay of a state it may
    // have been served from ----------------------------------------------
    val all = reads.toArray(Array.empty[Read]).toSeq
    val verdicts = all.filter(_.sample.ok).map { r =>
      val ans = try Some(Oracle.parseAnn(r.sample.body)) catch { case _: Exception => None }
      val tried = (r.v0 to r.v1).map(v => ans.map(x => Oracle.checkAnn(x, r.q, versions(v)))
        .getOrElse(Oracle.Verdict(Some("unreadable reply"), 0.0)))
      tried.find(_.error.isEmpty).getOrElse(tried.last.copy(error =
        tried.last.error.map(m => s"reader request ${r.sample.seq} (states ${r.v0}..${r.v1}): $m")))
    }
    val errors = verdicts.flatMap(_.error)
    val inWindow = all.filter(r => r.sample.start >= w0)
    val lat = inWindow.filter(_.sample.ok).map(_.sample.ms)
    val winBatches = (0 until nBatches).map(_.toLong)
    val fresh = winBatches.flatMap(b => Option(seenAt.get(b.toInt)).map(_ - log.enqueued.get(b)))
    val ingestS = (log.committedAt.get(nBatches - 1L) - w0) / 1000
    val heap = Probe.heapMb()
    val storeBytes = Probe.diskBytes(storeDir)
    tc.foreach(_.stop(new File(a.outDir, s"spans-cdc_ingest-seed${a.seed}.jsonl")))
    up.down()

    val e2e = Seq(
      ("setup_s", median(rounds.map(_.total).toSeq), "s"),
      ("latency_p50_ms", median(lat), "ms"),
      ("latency_tail_ms", Probe.percentile(lat, TailPct), "ms"),
      ("throughput_per_s", Load.throughput(inWindow.map(_.sample), 1), "1/s"),
      ("recall_at_k", {
        val rs = verdicts.filter(_.error.isEmpty).map(_.recall); if (rs.isEmpty) 0.0 else rs.sum / rs.length
      }, "ratio"),
      ("freshness_p50_ms", median(fresh), "ms"),
      ("ingest_rows_per_s", winBatches.map(b => batches(b.toInt).length).sum / ingestS, "1/s"),
      ("heap_mb", heap, "MB"),
      ("store_mb", storeBytes / 1048576.0, "MB"))
    def win[T](m: java.util.concurrent.ConcurrentHashMap[Long, T]): Seq[T] = winBatches.flatMap(b => Option(m.get(b)))
    val folds = spans.all.filter(_.name == "IndexMaintenance.fold")
    def batchMs(name: String) = spans.durations(name)
    val holdById = spans.all.filter(_.name == Hold).map(s => s.id -> s.ms).toMap
    val layers = tc.toSeq.flatMap { t =>
      val perBatch = winBatches.map(b => t.counts.get(s"batch:$b"))
      val byParity = inWindow.filter(_.sample.ok).groupBy(_.sample.seq % 2 == 0)
        .map { case (k, rs) => k -> median(rs.map(_.sample.ms)) }
      t.layers(byParity.getOrElse(true, 0.0) - byParity.getOrElse(false, 0.0)) ++ Main.setupLayers(rounds.toSeq, 0.0) ++ Seq(
        ("Engine.commit_hold_ms", median(batchMs(Hold)), "ms"),
        ("StreamingIngest.trigger_ms", median(batchMs("StreamingIngest.trigger")), "ms"),
        ("StreamingIngest.overhead_ms", median(spans.all.filter(_.name == Batch)
          .map(s => s.ms - holdById.getOrElse(s.id, 0.0))), "ms"),
        ("IndexMaintenance.append_ms", median(batchMs("IndexMaintenance.append")), "ms"),
        ("IndexMaintenance.files_per_batch", median(win(log.newFiles).map(_.toDouble)), "count"),
        ("IndexMaintenance.fold_ms", if (folds.isEmpty) 0.0 else folds.map(_.ms).sum / folds.length, "ms"),
        ("IndexMaintenance.folds", folds.length.toDouble, "count"),
        ("IndexMaintenance.segments_mean", win(log.segments).map(_.toDouble).sum / WindowBatches, "count"),
        ("IndexMaintenance.write_amp",
          win(log.bytesWritten).sum.toDouble / winBatches.map(b => userBytes(b.toInt)).sum, "ratio"),
        ("IndexMaintenance.read_ms", median(batchMs("IndexMaintenance.read")), "ms"),
        ("spark.jobs_per_batch", median(perBatch.map(_.jobs.toDouble)), "count"),
        ("spark.tasks_per_batch", median(perBatch.map(_.tasks.toDouble)), "count"))
    }
    val half = lat.length / 2
    val diag = Probe.windowDiag(h0, h1) ++ Map(
      "reader_samples" -> lat.length, "tail_percentile" -> TailPct,
      "p50_first_half_ms" -> median(lat.take(half)), "p50_second_half_ms" -> median(lat.drop(half)),
      "window_batches" -> WindowBatches,
      "stream_start_s" -> streamStartS, "prepare_s" -> prepareS,
      "ann_scan_rows" -> tc.map(_.annScanRows).getOrElse(""),
      "setup_rounds_s" -> rounds.map(_.total).mkString(","),
      "commit_ms" -> batchMs(Hold).map(_.round).mkString(","),
      "freshness_ms" -> fresh.map(_.round).mkString(","),
      "folds_at_batch" -> folds.map(_.id).mkString(","),
      "errors" -> (errors ++ tc.toSeq.flatMap(_.mismatches)).take(5).mkString(" | "))
    Main.Result(
      correct = errors.isEmpty && tc.forall(_.mismatches.isEmpty) && fresh.length == WindowBatches,
      attempted = all.length + batches.length, failed = all.count(!_.sample.ok),
      metrics = if (a.trace) layers else e2e, diag = diag)
  }
}
