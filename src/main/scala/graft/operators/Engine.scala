package graft.operators

import graft.operators.Ann.AnnRequest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField}

/** The query-routing engine shell: catalog + registered index DataFrames +
  * the reference's HTTP error taxonomy (SURVEY §3.1-3.2).
  *
  * Reference: httproutes.rs:741-813 (ANN route outcomes: NotFound→404,
  * NotServing→503 with progress, NoGlobalIndex→400, residual filtering
  * without allow_filtering→400), httproutes.rs:975-1009 (BM25 route),
  * indexes.rs:360-431 (routing), vs_index/usearch.rs:815-864 (local-index
  * partition pruning consuming Eq restrictions — O2/O4).
  *
  * The Spark analogue of "partition pruning": a local index's base DataFrame
  * is expected to be written `partitionBy(partitionColumns…)`; the compiled
  * Eq restriction on those columns then prunes at the file-source level
  * (PartitionFilters in the scan), which is exactly the reference's
  * "resolve the sub-index, drop those restrictions from the residual".
  */
final class QueryException(val status: Int, msg: String)
  extends RuntimeException(msg)

final class Engine private[graft] (residentBudget: Resident.Budget) {
  import Catalog._

  /** An engine whose resident snapshots share [[Resident.Budget.ofHeap]]. */
  def this() = this(Resident.Budget.ofHeap())

  val catalog = new Catalog
  // @volatile: HttpShell serves from an 8-thread pool while attach/detach
  // (addIndex/dropIndex/setApproxServing) may run on a maintenance thread —
  // immutable-map snapshot per read, volatile publish per write.
  @volatile private var frames: Map[IndexKey, DataFrame] = Map.empty
  @volatile private var queryCounts: Map[IndexKey, Long] = Map.empty.withDefaultValue(0L)

  private def f(name: String, t: String): StructField =
    StructField(name, DataType.fromDDL(t))

  private def recordQuery(key: IndexKey): Unit =
    synchronized { queryCounts = queryCounts.updated(key, queryCounts(key) + 1L) }

  // ---- internals debug counters (internals.rs) -----------------------------
  // The reference's test-harness surface: named u64 counters its validator
  // starts/increments/asserts through /api/internals. Sorted-map semantics
  // (BTreeMap analogue) so snapshots serialize in stable order.
  private var internalCounters = scala.collection.immutable.TreeMap.empty[String, Long]

  /** PUT /counters/{id}: (re)start a named counter at 0. */
  def startCounter(name: String): Unit =
    synchronized { internalCounters = internalCounters.updated(name, 0L) }

  /** Bump a named counter, creating it at 1 if unstarted. */
  def incrementCounter(name: String): Unit = synchronized {
    internalCounters =
      internalCounters.updated(name, internalCounters.getOrElse(name, 0L) + 1L)
  }

  def clearCounters(): Unit = synchronized { internalCounters = scala.collection.immutable.TreeMap.empty }

  def counters(): Map[String, Long] = synchronized(internalCounters)

  // ---- Prometheus family state (metrics.rs:20-29) --------------------------
  // The reference registers ten families; the engine carries the state for
  // all of them so /metrics enumerates the surface name-for-name. Request
  // latency is observed by the serving shell (Routes times the full
  // request, collect included); modification counts and the CDC reader
  // gauges are fed by the maintenance/streaming paths (or any operator
  // embedding the engine). All under the same lock as the counters.
  // stable exposition order: (keyspace, index, extra-label)
  private implicit val labelKeyOrdering: Ordering[(IndexKey, String)] =
    Ordering.by((k: (IndexKey, String)) => (k._1.keyspace, k._1.index, k._2))

  private final class Histo(val bounds: Array[Double]) {
    val cumulative = new Array[Long](bounds.length) // cumulative le counts
    var sum = 0.0
    var n = 0L
    def observe(v: Double): Unit = {
      var i = 0
      while (i < bounds.length) { if (v <= bounds(i)) cumulative(i) += 1; i += 1 }
      sum += v; n += 1
    }
    def snapshot: Engine.HistogramSnapshot =
      Engine.HistogramSnapshot(bounds, cumulative.clone(), sum, n)
  }
  private val latencyHists = scala.collection.mutable.Map.empty[IndexKey, Histo]
  private val lagHists = scala.collection.mutable.Map.empty[IndexKey, Histo]
  private var modifiedCounts =
    scala.collection.immutable.TreeMap.empty[(IndexKey, String), Long]
  private var cdcUp = scala.collection.immutable.TreeMap.empty[(IndexKey, String), Int]
  private var cdcErrors = scala.collection.immutable.TreeMap.empty[(IndexKey, String), Long]
  private var cdcRestarts = scala.collection.immutable.TreeMap.empty[(IndexKey, String), Long]
  private var cdcCheckpoints =
    scala.collection.immutable.TreeMap.empty[(IndexKey, String), Double]

  /** Observe one served request's wall-clock seconds (metrics.rs `latency`
    * histogram, reference buckets). */
  def recordLatency(keyspace: String, index: String, seconds: Double): Unit =
    synchronized {
      latencyHists.getOrElseUpdate(IndexKey(keyspace, index),
        new Histo(Engine.LatencyBuckets)).observe(seconds)
    }

  /** Count modified items per index and operation (metrics.rs `modified`). */
  def recordModified(keyspace: String, index: String, operation: String,
      n: Long = 1L): Unit = synchronized {
    val k = (IndexKey(keyspace, index), operation)
    modifiedCounts = modifiedCounts.updated(k, modifiedCounts.getOrElse(k, 0L) + n)
  }

  /** Observe CDC-change-to-indexed lag seconds (metrics.rs `indexing_lag`). */
  def recordIndexingLag(keyspace: String, index: String, seconds: Double): Unit =
    synchronized {
      lagHists.getOrElseUpdate(IndexKey(keyspace, index),
        new Histo(Engine.LagBuckets)).observe(seconds)
    }

  /** CDC reader liveness / error / restart / checkpoint gauges, keyed by
    * (index, reader) like the reference's `&["keyspace","index_name",
    * "reader"]` label sets. */
  def setCdcReaderUp(keyspace: String, index: String, reader: String,
      up: Boolean): Unit = synchronized {
    cdcUp = cdcUp.updated((IndexKey(keyspace, index), reader), if (up) 1 else 0)
  }
  def incrementCdcError(keyspace: String, index: String, reader: String): Unit =
    synchronized {
      val k = (IndexKey(keyspace, index), reader)
      cdcErrors = cdcErrors.updated(k, cdcErrors.getOrElse(k, 0L) + 1L)
    }
  def incrementCdcRestart(keyspace: String, index: String, reader: String): Unit =
    synchronized {
      val k = (IndexKey(keyspace, index), reader)
      cdcRestarts = cdcRestarts.updated(k, cdcRestarts.getOrElse(k, 0L) + 1L)
    }
  def setCdcCheckpoint(keyspace: String, index: String, reader: String,
      unixSeconds: Double): Unit = synchronized {
    cdcCheckpoints =
      cdcCheckpoints.updated((IndexKey(keyspace, index), reader), unixSeconds)
  }

  /** Immutable snapshot of the Prometheus family state for one scrape. */
  def promSnapshot(): Engine.PromSnapshot = synchronized {
    Engine.PromSnapshot(
      latency = latencyHists.map { case (k, h) => k -> h.snapshot }.toMap,
      indexingLag = lagHists.map { case (k, h) => k -> h.snapshot }.toMap,
      modified = modifiedCounts,
      cdcReaderUp = cdcUp,
      cdcHandlerErrors = cdcErrors,
      cdcReaderRestarts = cdcRestarts,
      cdcCheckpoints = cdcCheckpoints)
  }

  /** The reference reports its DB-session connection metrics here
    * (internals.rs:195-210, scylla driver total-connections /
    * connection-timeouts); the Spark analogue of "the database session" is
    * the SparkSession, so the counters report its executor topology. */
  def sessionCounters(): Map[String, Long] = {
    val sc = SparkSession.active.sparkContext
    scala.collection.immutable.TreeMap(
      "spark-executors" -> sc.statusTracker.getExecutorInfos.length.toLong,
      "spark-default-parallelism" -> sc.defaultParallelism.toLong)
  }

  def addIndex(meta: IndexMetadata, df: DataFrame,
      status: IndexStatus = Serving, progressPct: Double = 100.0): Unit = {
    catalog.register(meta, status, progressPct)
    frames = frames.updated(meta.key, df)
    // segment count fixed at registration: file-backed stores report their
    // part-file count (the tantivy segment analogue — one immutable file
    // per segment), in-memory frames one generated scan unit. Computed
    // HERE, once — a per-scrape df.rdd.getNumPartitions would instantiate
    // the frame's RDD lineage on every /metrics hit.
    segmentCounts = segmentCounts.updated(meta.key,
      math.max(df.inputFiles.length, 1))
    // a re-registered index's data may differ — a previous backend's
    // store would silently serve stale rows; re-attach explicitly after
    // rebuild
    servingBackends = servingBackends.removed(meta.key)
    invalidate(meta.key)
  }

  @volatile private var segmentCounts: Map[IndexKey, Int] = Map.empty

  /** Registration-time segment count of an index's store (see [[addIndex]]). */
  def segmentCount(keyspace: String, index: String): Option[Int] =
    segmentCounts.get(IndexKey(keyspace, index))

  /** Live-update the segment count of a SEGMENT-MAINTAINED index: the
    * maintenance loop calls this after each append (count+1) and after a
    * compaction (reset to 1), so /metrics mirrors the reference's
    * fts_segment_count trajectory — rising between merges, collapsing on
    * one — instead of the registration-time snapshot. */
  def setSegmentCount(keyspace: String, index: String, n: Int): Unit =
    segmentCounts = segmentCounts.updated(IndexKey(keyspace, index), n)

  @volatile private var servingBackends: Map[IndexKey, Engine.ApproxServing] = Map.empty

  /** Serve a vector index by adaptive LSH over a bucketed store
    * ([[ApproxAnn.searchLshAdaptive]]: partition-pruned probe at a
    * coverage-certified radius, exact-scan fallback otherwise) — the
    * serving default the reference gets from usearch being an approximate
    * index. The Engine keeps routing, the 404/503/400 taxonomy, counters
    * and latency metrics. A store that lacks a column the index serves
    * fails HERE with a 400, not as a raw AnalysisException inside the
    * first query's decision scan. */
  def setApproxServing(keyspace: String, index: String, cfg: Engine.ApproxServing): Unit = {
    val key = IndexKey(keyspace, index)
    val meta = catalog.get(key).map(_.meta).getOrElse(
      throw new QueryException(404, s"index $keyspace/$index not found"))
    val cols = cfg.indexed.columns.toSet
    val missing = ("_bucket" +: meta.targetColumn +:
      (meta.primaryKeyColumns ++ meta.allFilteringColumns)).distinct.filterNot(cols.contains)
    if (missing.nonEmpty)
      throw new QueryException(400,
        s"approx store for $keyspace/$index lacks column(s): ${missing.mkString(", ")}")
    servingBackends = servingBackends.updated(key, cfg)
    invalidate(key)
  }

  def clearServingBackend(keyspace: String, index: String): Unit = {
    val key = IndexKey(keyspace, index)
    servingBackends = servingBackends.removed(key)
    invalidate(key)
  }

  /** "lsh" when LSH serving is attached, "exact" otherwise — diagnostics. */
  def servingBackendName(keyspace: String, index: String): String =
    if (servingBackends.contains(IndexKey(keyspace, index))) "lsh" else "exact"

  // ---- store fence (commit visibility) -------------------------------------
  // The maintenance writers append segment directories and the compactors
  // fold them OUTSIDE any commit protocol (IndexMaintenance.compact*Segments
  // document the contract in prose). This fence makes the contract
  // ENFORCEABLE at the serving layer: commits take the write side, serving
  // ACTIONS take the read side — a mid-commit scan either ran entirely
  // before the commit or waits for it, never observing a half-written
  // segment or a half-folded store. Fair mode: a waiting commit blocks NEW reads,
  // so maintenance is not starved by a steady query stream.
  private val storeFences =
    new java.util.concurrent.ConcurrentHashMap[
      IndexKey, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private def fence(key: IndexKey) =
    storeFences.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock(true))

  /** Run a maintenance commit (segment append, segment fold) against the
    * index's store under the WRITE side of the store fence. The index's
    * resident snapshot is dropped before the fence opens again: no read
    * after a commit is answered from rows collected before it. */
  def withMaintenance[T](keyspace: String, index: String)(commit: => T): T = {
    val key = IndexKey(keyspace, index)
    val l = fence(key).writeLock()
    l.lock(); try commit finally { invalidate(key); l.unlock() }
  }

  /** Execute a serving ACTION under the READ side of the store fence.
    * Spark plans are lazy — file listing and the scan happen at action
    * time — so the fence must wrap the action (the collect inside the
    * response serializer), not the plan construction. Reads run
    * concurrently with each other and are excluded only from commits. */
  def withQuiescedRead[T](keyspace: String, index: String)(action: => T): T = {
    val l = fence(IndexKey(keyspace, index)).readLock()
    l.lock(); try action finally l.unlock()
  }

  /** The /metrics scrape, collected PER INDEX under each index's own read
    * fence: the union rows are independent single-row aggregates, so
    * nothing is lost by fencing them separately — and a slow scrape plus
    * one queued maintenance commit no longer blocks new serving reads on
    * every OTHER index for the scrape duration, which is what the previous
    * hold-all-read-locks design cost (ADVICE r10). An index registered
    * mid-scrape simply lands in the next scrape (the catalog is
    * snapshotted at entry, exactly like the frame map). The frame is
    * RESOLVED inside the fence too — plan-time file listing and the
    * collect must share one fenced window, or a maintenance commit landing
    * between them deletes files a pre-fence snapshot still references and
    * the scrape 500s on FileNotFound (ADVICE r11). */
  def metricsRowsFenced(): Seq[org.apache.spark.sql.Row] =
    catalog.list.sortBy(e => (e.meta.keyspace, e.meta.index)).flatMap { e =>
      withQuiescedRead(e.meta.keyspace, e.meta.index) {
        metricsFrameFor(e).map(_.collect().toSeq).getOrElse(Seq.empty)
      }
    }

  def setStatus(key: IndexKey, status: IndexStatus, progressPct: Double = 100.0): Unit =
    catalog.setStatus(key, status, progressPct)

  /** The registered base frame of an index (schema discovery surface for the
    * route layer — the reference reads column types from table metadata). */
  def indexFrame(keyspace: String, index: String): Option[DataFrame] =
    frames.get(IndexKey(keyspace, index))

  /** Frame lookup for serving paths: catalog and frames are SEPARATE
    * volatile reads, so a concurrent dropIndex between them must surface
    * as the 404 taxonomy, not a NoSuchElementException-turned-500. */
  private def frameOr404(key: IndexKey): DataFrame =
    frames.getOrElse(key,
      throw new QueryException(404, s"index ${key.keyspace}/${key.index} not found"))

  /** Drop an index (DROP INDEX analogue — frees the frame and the catalog
    * entry; subsequent queries 404, routing.rs:329-381). */
  def dropIndex(keyspace: String, index: String): Boolean = {
    val key = IndexKey(keyspace, index)
    frames = frames.removed(key)
    servingBackends = servingBackends.removed(key) // never outlive the index data
    segmentCounts = segmentCounts.removed(key)
    invalidate(key)
    catalog.remove(key)
  }

  // ---- resident snapshots (Resident) ----------------------------------------
  // An index small enough for the driver is answered from memory. Its
  // snapshot is built by the first request that needs it, inside that
  // request's read fence, and dropped by every change to what the index
  // serves: addIndex, dropIndex, attaching or clearing a backend, and the
  // end of each withMaintenance commit. Each change bumps the key's epoch;
  // a snapshot built under an older epoch is never handed out again, so a
  // build racing an unfenced change (addIndex) cannot outlive it. Every
  // snapshot is charged to residentBudget while its key holds it; a build
  // that would pass the budget is declined, and the index stays on its
  // Spark plan until its next change.

  /** One epoch's snapshot, built at most once (the lazy val's lock makes
    * concurrent first requests wait for one build) within the bytes the
    * budget has left, and charged to it until dropped. */
  private final class Holder(val epoch: Long, build: Long => Option[Resident.Snapshot]) {
    private var charged = 0L
    private var dropped = false
    lazy val snapshot: Option[Resident.Snapshot] =
      build(residentBudget.available).filter(charge)
    private def charge(s: Resident.Snapshot): Boolean = synchronized {
      val ok = !dropped && residentBudget.reserve(s.bytes)
      if (ok) charged = s.bytes
      ok
    }
    def drop(): Unit = synchronized {
      dropped = true
      residentBudget.release(charged)
      charged = 0L
    }
  }
  private val holders = new java.util.concurrent.ConcurrentHashMap[IndexKey, Holder]()
  private val epochs = new java.util.concurrent.ConcurrentHashMap[IndexKey, java.lang.Long]()

  private def invalidate(key: IndexKey): Unit = {
    epochs.merge(key, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
    val h = holders.remove(key)
    if (h != null) h.drop()
  }

  /** The key's snapshot for the current epoch, built by `build` (given the
    * bytes it may take) if absent; None when the index is served by its
    * Spark plan. */
  private def resident(key: IndexKey)(build: Long => Option[Resident.Snapshot])
      : Option[Resident.Snapshot] = {
    val epoch: Long = epochs.getOrDefault(key, 0L)
    holders.compute(key, (_, h) =>
      if (h != null && h.epoch == epoch) h
      else { if (h != null) h.drop(); new Holder(epoch, build) }).snapshot
  }

  private def residentAnn(meta: IndexMetadata, options: IndexOptionsVs,
      approx: Option[Engine.ApproxServing]): Option[Resident.AnnSnapshot] =
    resident(meta.key) { limit =>
      val base = frameOr404(meta.key)
      def collect(df: DataFrame, bucketed: Boolean, limit: Long) =
        Resident.Vectors.collect(df, meta, options.space, options.dims, bucketed, limit)
      approx match {
        case None => collect(base, bucketed = false, limit).map(Resident.AnnSnapshot(_, None))
        case Some(cfg) if cfg.indexed eq base =>
          collect(base, bucketed = true, limit).map(v => Resident.AnnSnapshot(v, Some(cfg -> v)))
        case Some(cfg) =>
          for (b <- collect(base, bucketed = false, limit);
               s <- collect(cfg.indexed, bucketed = true, limit - b.bytes))
            yield Resident.AnnSnapshot(b, Some(cfg -> s))
      }
    }.collect { case a: Resident.AnnSnapshot => a }

  private def residentText(meta: IndexMetadata): Option[Resident.Text] =
    resident(meta.key) { limit =>
      Resident.Text.collect(frameOr404(meta.key), meta.primaryKeyColumns.head, meta.targetColumn, limit)
    }.collect { case t: Resident.Text => t }

  /** Routed, validated ANN search — the whole §3.1 lifecycle. A resident
    * index ([[Resident]]) is ranked in memory and comes back as a local
    * frame; a larger one as its Spark plan. */
  def ann(keyspace: String, index: String, req: AnnRequest): DataFrame = {
    val (eqCols, rangeCols) = RestrictionCompiler.splitColumns(req.restrictions)
    catalog.bestIndex(IndexKey(keyspace, index), eqCols, rangeCols) match {
      case NotFound =>
        throw new QueryException(404, s"index $keyspace/$index not found")
      case NotServing(progress) =>
        throw new QueryException(503, f"index $keyspace/$index not serving (build $progress%.1f%%)")
      case NoGlobalIndex =>
        throw new QueryException(400,
          "no serving candidate can answer a global query (local indexes need partition-key Eq restrictions)")
      case ServingIndex(meta, needs) =>
        needs match {
          case YesFiltering(_) if !req.allowFiltering =>
            throw new QueryException(400,
              "query requires residual filtering; set allowFiltering=true")
          case _ => ()
        }
        recordQuery(meta.key)
        incrementCounter("ann-queries")
        try {
          val approx = servingBackends.get(meta.key)
          val options = Ann.validate(meta, req)
          if (approx.isDefined) incrementCounter("ann-approx-queries")
          residentAnn(meta, options, approx).flatMap(_.search(req)).getOrElse {
            val base = frameOr404(meta.key)
            approx match {
              case Some(cfg) =>
                ApproxAnn.searchLshAdaptive(cfg.indexed, base, meta.targetColumn,
                  meta.primaryKeyColumns, options.space, req, cfg.nbits,
                  cfg.radii, cfg.oversample, cfg.minCoverage)
              case None =>
                Ann.plan(base, meta.targetColumn, meta.primaryKeyColumns, options.space, req)
            }
          }
        } catch {
          case e: Ann.AnnValidationException => throw new QueryException(400, e.getMessage)
        }
    }
  }

  /** Routed BM25 search (no routing groups / no filters for FTS —
    * httproutes.rs:975-1009), from the resident postings when the index
    * fits ([[Resident.Text]]), else by [[Bm25.search]]. */
  def bm25(keyspace: String, index: String, query: String, limit: Int): DataFrame = {
    val key = IndexKey(keyspace, index)
    catalog.get(key) match {
      case None => throw new QueryException(404, s"index $keyspace/$index not found")
      case Some(e) if e.status != Serving =>
        throw new QueryException(503, f"index $keyspace/$index not serving (build ${e.progressPct}%.1f%%)")
      case Some(e) =>
        e.meta.kind match {
          case Fts(_) =>
            recordQuery(key)
            incrementCounter("bm25-queries")
            residentText(e.meta).flatMap(_.search(query, limit)).getOrElse(
              Bm25.search(frameOr404(key), e.meta.primaryKeyColumns.head,
                e.meta.targetColumn, query, limit))
          case _ => throw new QueryException(400, s"index $keyspace/$index is not an FTS index")
        }
    }
  }

  /** Metrics-lite surface (S10): one row per registered index with the
    * gauges the reference exports per (keyspace, index) label pair —
    * `size` (live rows, refresh_index_metrics at httproutes.rs:528-566),
    * build status/progress, an estimated byte size (the `fts_index_size_
    * bytes` analogue, from the optimizer's scan statistics — no job), and
    * `queries_total` (the count component of the `latency` histogram,
    * metrics.rs:57-65). One aggregate job per index per scrape; the unions
    * are independent single-row aggregates, so the whole frame is one
    * collect of #indexes rows. */
  def metrics(): DataFrame =
    metricsFrames().map(_._2).reduceOption(_ unionByName _)
      .getOrElse(metricsEmptyFrame)

  private def metricsEmptyFrame: DataFrame = SparkSession.active.createDataFrame(
    new java.util.ArrayList[org.apache.spark.sql.Row](),
    org.apache.spark.sql.types.StructType(Seq(
      f("keyspace", "string"), f("index_name", "string"), f("kind", "string"),
      f("status", "string"), f("progress_pct", "double"),
      f("live_rows", "bigint"), f("total_rows", "bigint"),
      f("est_size_bytes", "bigint"), f("queries_total", "bigint"))))

  /** One single-row aggregate frame per registered index, in sorted key
    * order — the building block [[metrics]] unions and
    * [[metricsRowsFenced]] collects per-fence. */
  private def metricsFrames(): Seq[(IndexKey, DataFrame)] = {
    val entries = catalog.list.sortBy(e => (e.meta.keyspace, e.meta.index))
    entries.flatMap(e => metricsFrameFor(e).map(e.meta.key -> _))
  }

  /** One index's single-row metrics aggregate, resolved from the LIVE frame
    * map at call time (so a fenced caller sees the post-commit frame, not a
    * pre-fence snapshot). flatMap + get: an empty engine scrapes to an
    * empty frame with the metrics schema (the reference export simply
    * emits no series; erroring would kill a scrape loop that polls before
    * the first index registers), and an index dropped between the catalog
    * read and the frames read simply falls out of this scrape (the next
    * one won't list it) — catalog and frames are separate volatile reads. */
  private def metricsFrameFor(e: Catalog.Entry): Option[DataFrame] =
    frames.get(e.meta.key).map { df =>
      val kindStr = e.meta.kind match {
        case Vs(_) => "vector"
        case Fts(_) => "fulltext"
      }
      val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
      // Engine.count shadows functions.count
      val cnt = (c: org.apache.spark.sql.Column) => org.apache.spark.sql.functions.count(c)
      df.agg(
          cnt(when(col(e.meta.targetColumn).isNotNull, lit(1))).as("live_rows"),
          cnt(lit(1)).as("total_rows"))
        .select(
          lit(e.meta.keyspace).as("keyspace"),
          lit(e.meta.index).as("index_name"),
          lit(kindStr).as("kind"),
          lit(e.status.toString).as("status"),
          lit(e.progressPct).as("progress_pct"),
          col("live_rows"), col("total_rows"),
          lit(estBytes).as("est_size_bytes"),
          lit(queryCounts(e.meta.key)).as("queries_total"))
    }

  /** Live row count of an index (A1; surfaced at httproutes.rs:437-456).
    * Runs under the store fence read side — a count is a serving action
    * like any other scan (the status route calls it). */
  def count(keyspace: String, index: String): Long = {
    val key = IndexKey(keyspace, index)
    val entry = catalog.get(key).getOrElse(
      throw new QueryException(404, s"index $keyspace/$index not found"))
    withQuiescedRead(keyspace, index) {
      frameOr404(key).filter(col(entry.meta.targetColumn).isNotNull).count()
    }
  }
}

object Engine {
  /** Request-latency histogram bounds, 0.1 ms → 10 s — the reference's
    * exact bucket vector (metrics.rs:38-55). */
  val LatencyBuckets: Array[Double] = Array(
    0.0001, 0.0002, 0.0005, 0.001, 0.002, 0.005, 0.01, 0.02, 0.05,
    0.1, 0.2, 0.5, 1.0, 2.0, 5.0, 10.0)

  /** Indexing-lag histogram bounds, 50 ms → 5 min — the reference's CDC
    * lag buckets (metrics.rs:81-95). */
  val LagBuckets: Array[Double] = Array(
    0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0, 30.0, 60.0, 120.0, 300.0)

  /** One histogram's scrape view: cumulative `le` counts per bound
    * (+Inf = `count`), plus sum and count. */
  final case class HistogramSnapshot(
      bounds: Array[Double], cumulative: Array[Long], sum: Double, count: Long)

  /** One scrape's view of every reference metric family the engine holds
    * state for (index_size / fts_* come from [[Engine.metrics]]). */
  final case class PromSnapshot(
      latency: Map[Catalog.IndexKey, HistogramSnapshot],
      indexingLag: Map[Catalog.IndexKey, HistogramSnapshot],
      modified: scala.collection.immutable.SortedMap[(Catalog.IndexKey, String), Long],
      cdcReaderUp: scala.collection.immutable.SortedMap[(Catalog.IndexKey, String), Int],
      cdcHandlerErrors: scala.collection.immutable.SortedMap[(Catalog.IndexKey, String), Long],
      cdcReaderRestarts: scala.collection.immutable.SortedMap[(Catalog.IndexKey, String), Long],
      cdcCheckpoints: scala.collection.immutable.SortedMap[(Catalog.IndexKey, String), Double])

  /** Approximate serving config for a registered vector index: the
    * bucketed LSH store (e.g. a [[ApproxAnn.materializeLshIndex]]
    * read-back — must carry `_bucket`, the target/pk columns, and any
    * filtering columns) plus the adaptive probe policy. Companion-scoped so
    * configs are plain values, buildable before any engine exists and
    * shareable across engines. */
  final case class ApproxServing(
      indexed: DataFrame, nbits: Int,
      radii: Seq[Int] = ApproxAnn.DefaultAdaptiveRadii,
      oversample: Double = 2.0, minCoverage: Double = 0.9)
}

/** Columnar response shaping (SURVEY §2 S8): pivot result rows into
  * per-column arrays ordered by (distance, pk) — the reference's
  * `primary_keys: {col → [values]}, distances, similarity_scores` JSON shape
  * (httproutes.rs:1237-1269), with ±∞ saturated to ±f32::MAX
  * (httpapi/src/lib.rs:397-409). */
object ResultFormat {
  val FloatMax: Double = java.lang.Float.MAX_VALUE.toDouble

  def saturate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(greatest(c, lit(-FloatMax)), lit(FloatMax))

  /** The rows of a result frame. A resident reply is a `LocalRelation`
    * ([[Resident]]): its rows are converted as they are, with no planning or
    * execution; any other frame is collected. */
  def collectRows(results: DataFrame): Array[org.apache.spark.sql.Row] =
    results.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(results.schema)
        l.data.map(r => toScala(r).asInstanceOf[org.apache.spark.sql.Row]).toArray
      case _ => results.collect()
    }

  // per result schema: saturate(distance) and saturate(similarity), bound
  // once for Catalyst's interpreter (Resident.bound)
  private val saturators =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.types.StructType,
      (org.apache.spark.sql.catalyst.expressions.Expression, org.apache.spark.sql.catalyst.expressions.Expression)]()

  /** The elements of [[transpose]]'s arrays, on the driver: each result
    * row's (`saturate(distance)`, `pkCols…`, `saturate(similarity)`),
    * sorted ascending by Catalyst's struct ordering over the unsaturated
    * values as `sort_array` sorts them — no aggregate job. */
  def transposedRows(results: DataFrame, pkCols: Seq[String]): Array[org.apache.spark.sql.Row] = {
    val names = "distance" +: pkCols :+ "similarity"
    val schema = org.apache.spark.sql.types.StructType(names.map(results.schema(_)))
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val ord = org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
      .forSchema(schema.map(_.dataType))
    val (satDistance, satSimilarity) = saturators.computeIfAbsent(schema, s =>
      (Resident.bound(results.sparkSession, s, saturate(col("distance"))),
        Resident.bound(results.sparkSession, s, saturate(col("similarity")))))
    collectRows(results)
      .map(r => org.apache.spark.sql.Row.fromSeq(names.map(n => r.get(r.fieldIndex(n)))))
      .map(r => (toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], r))
      .sortWith((a, b) => ord.lt(a._1, b._1))
      .map { case (c, r) =>
        org.apache.spark.sql.Row.fromSeq(satDistance.eval(c) +: r.toSeq.tail.init :+ satSimilarity.eval(c))
      }
  }

  /** One-row DataFrame with one array column per pk column plus `distances`
    * and `similarity_scores`, element order = ascending (distance, pk…). */
  def transpose(results: DataFrame, pkCols: Seq[String]): DataFrame = {
    val ordered = sort_array(collect_list(struct(
      col("distance") +: pkCols.map(col) :+ col("similarity"): _*)))
    results
      .agg(ordered.as("_rows"))
      .select(
        pkCols.map(c => transform(col("_rows"), r => r.getField(c)).as(s"pk_$c")) ++ Seq(
          transform(col("_rows"), r => saturate(r.getField("distance"))).as("distances"),
          transform(col("_rows"), r => saturate(r.getField("similarity"))).as("similarity_scores")): _*)
  }
}
