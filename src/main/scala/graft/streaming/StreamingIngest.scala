package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingest path (SURVEY §2.8, §3.3 step 4).
  *
  * Reference architecture being re-expressed:
  *  - dual-cadence CDC readers with safety intervals (db_cdc/actor.rs:42-105)
  *    → one stream with a watermark; the "wide reader" consistency pass is a
  *    periodic batch reconciliation with
  *    [[graft.operators.Lww.applyChanges]] (idempotent);
  *  - duplicate (pk,ts,op) suppression (db_cdc/consumer.rs:219-225)
  *    → dropDuplicates within the watermark;
  *  - per-key LWW state machine (table/mod.rs:887-1003)
  *    → flatMapGroupsWithState emitting state transitions;
  *  - CDC upsert enrichment re-read (db_cdc/consumer.rs:60-122)
  *    → stream-static left join, missing base row ⇒ synthesized delete;
  *  - FTS commit batching every 3 s (fts_index/tantivy.rs:129-130)
  *    → Trigger.ProcessingTime + foreachBatch segment appends
  *    ([[IndexMaintenance]], the LWW row snapshot included), wrapped by
  *    [[withCdcMetrics]].
  *
  * Scale: state is per-key (pk digest), partitioned by Spark's state store —
  * 1000 executors hold disjoint key ranges; nothing is driver-resident.
  */
object StreamingIngest {

  /** Schema-generic change event: pk rendered to a stable key string, payload
    * carried as JSON (parsed back with the table schema downstream). */
  final case class KeyedEvent(
      key: String,
      ts: Long,
      seq: Long,
      tombstone: Boolean,
      payload: Option[String])

  final case class KeyState(
      key: String,
      ts: Long,
      seq: Long,
      tombstone: Boolean,
      payload: Option[String])

  /** The per-key LWW transition (compare_timestamps + update_index,
    * table/mod.rs:616-1003): newer ts wins; equal-ts later arrivals are
    * no-ops; pure function so batch and streaming share it. */
  def transition(cur: Option[KeyState], ev: KeyedEvent): Option[KeyState] = {
    val accepted = cur match {
      case None => true
      case Some(st) => ev.ts > st.ts // equal ts: first arrival won (mod.rs:905-910)
    }
    if (accepted) Some(KeyState(ev.key, ev.ts, ev.seq, ev.tombstone, ev.payload))
    else None
  }

  /** Continuous stateful LWW: emits one [[KeyState]] per accepted transition
    * (Update-mode semantics). Events within a micro-batch are applied in
    * (ts, seq) order so replays and reordering within the watermark are
    * deterministic. */
  def lwwStateStream(events: Dataset[KeyedEvent]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedEvent], state: GroupState[KeyState]) =>
          var cur = state.getOption
          var changed = false
          // arrival order within the batch = (ts asc, seq asc): the max-ts
          // event with the smallest seq ends up winning, matching
          // Lww.compactState's max_by((ts, -seq)).
          it.toSeq.sortBy(e => (e.ts, e.seq)).foreach { ev =>
            transition(cur, ev).foreach { next => cur = Some(next); changed = true }
          }
          cur.foreach(state.update)
          if (changed) Iterator(cur.get) else Iterator.empty
      }
  }

  /** Watermark + in-window duplicate suppression (ST1/ST3): duplicates are
    * identical (key, ts, tombstone) deliveries — e.g. the wide reader
    * re-delivering what the fine reader already sent. */
  def withDedup(events: Dataset[KeyedEvent], watermarkDelay: String): Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicates(Seq("key", "ts", "tombstone"))
      .drop("event_time")
      .as[KeyedEvent]
  }

  /** S4/J2 stream-static enrichment: a thin CDC event (pk + ts) re-reads the
    * current base-table row; a missing row becomes a synthesized delete
    * (db_cdc/consumer.rs:60-122). Works for both batch and streaming left
    * sides (stream-static join re-evaluates the static side per micro-batch). */
  def enrich(
      events: DataFrame,
      baseTable: DataFrame,
      pkCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val joined = events.join(baseTable.select((pkCols ++ valueCols).map(col): _*),
      pkCols, "left")
    joined.withColumn("op",
      when(valueCols.map(c => col(c).isNull).reduce(_ && _), lit("DELETE"))
        .otherwise(lit("UPSERT")))
  }

  /** Tie the `cdc_reader_up` gauge to a RUNNING StreamingQuery's lifetime:
    * up=1 now, up=0 when THIS query terminates — normally or on error. The
    * reference's reader loop maintains the gauge from its own task
    * lifetime (up goes 0 when the loop exits, db_cdc/actor.rs);
    * [[withCdcMetrics]] alone can only raise it at wrap time, so without
    * this a stopped or permanently-failed stream would report a live
    * reader forever. The listener is per-query (matched on query id) and
    * removes itself after firing. */
  def bindReaderLiveness(
      engine: graft.operators.Engine,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      keyspace: String, index: String, reader: String): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    engine.setCdcReaderUp(keyspace, index, reader, up = true)
    val streams = query.sparkSession.streams
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          engine.setCdcReaderUp(keyspace, index, reader, up = false)
          streams.removeListener(this)
        }
    }
    streams.addListener(listener)
    // registration race: if the query died before the listener attached,
    // its terminated event already fired — reconcile from current state
    if (!query.isActive) engine.setCdcReaderUp(keyspace, index, reader, up = false)
  }

  /** Wrap a foreachBatch sink with the reference's CDC observability
    * (metrics.rs `cdc_reader_up` / `cdc_last_processed_timestamp_seconds` /
    * `indexing_lag_seconds` / `modified` / `cdc_handler_errors_total`,
    * fed from db_cdc/actor.rs's reader loop): marks the reader live on
    * construction, and per micro-batch records the row count as modified
    * items, advances the checkpoint gauge to the batch's max event
    * timestamp, observes the ingest lag (wall clock − newest event), and
    * counts handler errors before rethrowing so the stream's own retry
    * policy still applies. The stats pass and the sink share one cached
    * batch — the input is read once.
    *
    * @param tsCol event-time column castable to TIMESTAMP (epoch seconds
    *              after the double cast) */
  def withCdcMetrics(
      engine: graft.operators.Engine, keyspace: String, index: String,
      reader: String, tsCol: String, operation: String = "upsert")(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    engine.setCdcReaderUp(keyspace, index, reader, up = true)
    // the checkpoint is a reader POSITION — monotone by definition; a late
    // batch whose newest event is older than an earlier batch's must not
    // regress it. foreachBatch runs batches serially, so a closure var is
    // race-free.
    var checkpointSeen = Double.NegativeInfinity
    (batch: DataFrame, epoch: Long) =>
      try {
        val cached = batch.cache()
        try {
          val stats = cached
            .agg(count(lit(1)).as("n"),
              max(col(tsCol).cast("timestamp").cast("double")).as("max_ts"))
            .head()
          // write side of the engine's store fence: serving actions on
          // this index wait out the commit instead of scanning a
          // half-written segment or a mid-fold store (Engine.withMaintenance)
          engine.withMaintenance(keyspace, index) { sink(cached, epoch) }
          // record only AFTER the sink commits: a failed batch must not
          // advance the checkpoint or count as indexed
          engine.recordModified(keyspace, index, operation, stats.getLong(0))
          if (!stats.isNullAt(1)) {
            val maxTs = stats.getDouble(1)
            if (maxTs > checkpointSeen) {
              checkpointSeen = maxTs
              engine.setCdcCheckpoint(keyspace, index, reader, maxTs)
            }
            val lag = System.currentTimeMillis() / 1000.0 - maxTs
            if (lag >= 0) engine.recordIndexingLag(keyspace, index, lag)
          }
        } finally { cached.unpersist(); () }
      } catch {
        case e: Throwable =>
          engine.incrementCdcError(keyspace, index, reader)
          throw e
      }
  }
}
