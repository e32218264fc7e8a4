package graft.streaming

import graft.operators.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of materialized index stores from a change
  * stream (SURVEY §2.8 ST6 — commit batching; §3.3 step 4).
  *
  * The reference keeps its tantivy index continuously updated from CDC and
  * commits every 3 s (fts_index/tantivy.rs:129-130: IndexWriter commit loop;
  * each commit seals an immutable segment, merges fold segments later).
  * Every store kind here has that one commit shape, as a writer / reader /
  * compactor triple:
  *  - the writer (`append*Segment`, a foreachBatch body) appends the batch
  *    as one new `_seg=<id>` directory — O(batch) work, earlier segments
  *    are never read or rewritten; a delete writes a tombstone claim; a
  *    replayed batch replaces its own rows in its segment instead of
  *    adding a second copy;
  *  - the reader (`read*Segment*`) reconciles latest-claim-wins per id
  *    across the live segments;
  *  - the compactor (`compact*Segments`, on a [[CompactionPolicy]] cadence
  *    via [[withCompaction]]) folds history into one segment.
  * Store kinds: FTS postings, MinHash dedup, LSH vector and the LWW row
  * snapshot — the reference maintains a vector index and a tantivy FTS
  * index; dedup and the row snapshot ride the same CDC loop.
  *
  * Events are assumed LWW-compacted per doc id (compose with
  * [[graft.operators.Lww.compactState]] upstream for out-of-order streams).
  */
object IndexMaintenance {

  val SegCol = "_seg"

  /** foreachBatch writer with SEGMENT-APPEND commit semantics — the shape
    * the reference's tantivy writer actually has (fts_index/tantivy.rs
    * commit loop: each commit seals a new immutable segment; searches visit
    * all live segments; merges amortize in the background — the surface our
    * `fts_segment_count` metric family mirrors).
    *
    * Each batch appends one new `_seg=<id>` directory of postings + doc
    * lengths — strictly O(batch) work, never touching earlier segments —
    * and deletes/upserts are reconciled AT READ by a
    * per-doc latest-segment rule ([[readFtsSegmentIndex]]): a delete (or
    * null text) writes a tombstone doc-length row (dl = −1) claiming the
    * doc in this segment with no postings. Write cost is therefore
    * independent of corpus size; the read-side union grows with segment
    * count until [[compactFtsSegments]] folds history into one segment.
    *
    * Segment ids must be MONOTONIC over the index's lifetime. Within one
    * streaming query the foreachBatch batchId is; a caller resuming the
    * same store under a NEW query (batchId restarts at 0) must pass the
    * previous lifetime's ceiling as `segOffset`, or older claims would win.
    *
    * Events are assumed LWW-compacted per doc id. */
  def appendFtsSegment(
      spark: SparkSession,
      postingsPath: String,
      docLensPath: String,
      idCol: String,
      textCol: String,
      opCol: Option[String],
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val isDelete = dedupIsDelete(textCol, opCol)
      val fresh = Bm25.buildPositionalIndex(batch.filter(!isDelete), idCol, textCol)
      // every event claims its doc in this segment: upserts via their real
      // length, deletes via a −1 tombstone (no postings row exists for it)
      val lens = fresh.docLens.unionByName(
        batch.filter(isDelete).select(col(idCol), lit(-1).as("dl")))
      val seg = segOffset + batchId
      commitSeg(postingsPath, fresh.postings, idCol, seg)
      commitSeg(docLensPath, lens, idCol, seg)
  }

  /** Append one immutable segment directory. Only the LWW snapshot
    * commits with it directly: its read picks one of two identical rows,
    * so a replayed copy changes no answer. Id-keyed stores commit through
    * [[commitSeg]]. */
  private def appendSeg(
      path: String, df: DataFrame, seg: Long,
      cellCols: Seq[String] = Nil): Unit =
    df.withColumn(SegCol, lit(seg))
      .write.mode("append").partitionBy(SegCol +: cellCols: _*).parquet(path)

  /** Commit one batch's rows of an id-keyed store as segment `seg`. A new
    * segment id is a plain [[appendSeg]]: O(batch), earlier segments
    * untouched. Segment ids are monotonic, so a segment directory that
    * already holds data means a REPLAY of this batch (foreachBatch delivers
    * at least once). Its earlier attempt left all, part or none of the
    * batch's rows there, or a fold at this ceiling folded the whole store
    * into it. Either way, the batch's ids are replaced inside that one
    * segment, so a re-run adds no second copy a reconcile would keep.
    * Under a fold each replayed id's folded row IS its row of this batch,
    * the latest claim. A replay rewrites that one segment. */
  private def commitSeg(
      path: String, df: DataFrame, idCol: String, seg: Long,
      cellCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val segDir = s"$path/$SegCol=$seg"
    if (!graft.sources.IndexStorage.hasData(spark, segDir))
      appendSeg(path, df, seg, cellCols)
    else {
      // cell values come back as partition-inferred ints
      val prior = cellCols.foldLeft(
          spark.read.option("basePath", path).parquet(segDir).drop(SegCol)) {
          (d, c) => d.withColumn(c, col(c).cast(df.schema(c).dataType))
        }
        .join(df.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      overwriteCeiling(path, prior.unionByName(df), seg, cellCols)
    }
  }

  /** Per-id winning claims: the row with the highest segment id. `claims`
    * must hold exactly one row per id per touching segment. */
  private def winners(claims: DataFrame, idCol: String): DataFrame = {
    val dl = claims.withColumn(SegCol, col(SegCol).cast("long"))
    dl.join(dl.groupBy(col(idCol)).agg(max(col(SegCol)).as(SegCol)),
      Seq(idCol, SegCol))
  }

  /** Values rows of the winning (id, seg) claims — an upsert's older
    * rows lose the semi join; tombstoned ids have no live claim at all. */
  private def liveValues(
      valuesPath: String, live: DataFrame, idCol: String,
      spark: SparkSession): DataFrame =
    spark.read.parquet(valuesPath)
      .withColumn(SegCol, col(SegCol).cast("long"))
      .join(live.select(col(idCol), col(SegCol)), Seq(idCol, SegCol), "left_semi")
      .drop(SegCol)

  /** Fold a (values, claims) segment pair into the single CURRENT HIGHEST
    * segment (ids stay monotonic without consuming a new one) and delete
    * every older segment directory. */
  private def compactPair(
      spark: SparkSession, valuesPath: String, claimsPath: String,
      values: DataFrame, claims: DataFrame): Unit = {
    val ceiling = spark.read.parquet(claimsPath)
      .agg(max(col(SegCol).cast("long"))).head.getLong(0)
    // DELETE-LAST across BOTH stores: both ceiling-segment overwrites land
    // before any old segment directory is removed. A crash before the
    // deletes leaves every (id, seg) claim resolvable against live values —
    // readable and re-compactable; the old ordering (values segments
    // deleted before the claims rewrite) left a window where surviving
    // old claims pointed at deleted value segments and the reconcile
    // semi-join silently dropped those docs forever (ADVICE r9). A crash
    // MID-delete leaves a superset of segments; re-issue the below-ceiling
    // directory deletes ([[dropSegmentsBelow]]) to finish — do NOT re-run
    // the fold, which would bake any transiently resurrected claim in.
    overwriteCeiling(valuesPath, values, ceiling, Nil)
    overwriteCeiling(claimsPath, claims, ceiling, Nil)
    dropSegmentsBelow(spark, valuesPath, ceiling)
    dropSegmentsBelow(spark, claimsPath, ceiling)
  }

  /** Rewrite `df` as the single ceiling segment (dynamic partition
    * overwrite; `cellCols` adds the nested `_bucket` partitioning of the
    * LSH vector layout). An EMPTY fold still writes one schema-bearing
    * zero-row file under the ceiling directory — a dynamic overwrite of
    * zero rows writes nothing at all, and once [[dropSegmentsBelow]] runs
    * the store would have no files left to infer a schema from (a fully
    * tombstoned store must stay readable and appendable). */
  private def overwriteCeiling(
      path: String, df: DataFrame, ceiling: Long,
      cellCols: Seq[String]): Unit = {
    // localCheckpoint cuts lineage from the files about to be replaced
    val out = df.withColumn(SegCol, lit(ceiling)).localCheckpoint(true)
    if (out.isEmpty) {
      val leaf = (s"$SegCol=$ceiling" +: cellCols.map(c => s"$c=-1")).mkString("/")
      out.drop(SegCol +: cellCols: _*).repartition(1)
        .write.mode("overwrite").parquet(s"$path/$leaf")
    } else {
      // one task per cell dir, as IndexStorage.writePartitioned does: an
      // unclustered fold wrote tasks × cells files, and every later read
      // lists and opens them all
      (if (cellCols.isEmpty) out else out.repartition(cellCols.map(col): _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(SegCol +: cellCols: _*).parquet(path)
      // a dynamic overwrite only replaces cell dirs PRESENT in the folded
      // frame: a ceiling-segment cell dir absent from it (e.g. the
      // `_bucket=-1` tombstone dir the last pre-fold batch wrote) would
      // otherwise survive the fold and stay on disk until a later batch
      // happens to rewrite that cell — breaking the "a tombstone lives at
      // most one fold cycle" contract for cell stores (ADVICE r10).
      // Reads were already correct (winners filters stale claims); this
      // keeps the STORAGE contract true too. Cell cardinality is the
      // bucket count — a bounded driver-side set.
      cellCols.foreach { cellCol =>
        val spark = out.sparkSession
        // the keep set matches cast("string") values against PHYSICAL dir
        // names: a null cell (dir __HIVE_DEFAULT_PARTITION__) or a value
        // needing partition-path escaping (space, %, / …) would be absent
        // from keep and its LIVE dir deleted. Today's cell columns are
        // non-null longs; fail loudly if a future store breaks that
        // invariant instead of deleting live data (ADVICE r11).
        val cellVals = out.select(col(cellCol).cast("string")).distinct()
          .collect().map(r => Option(r.getString(0)))
        require(cellVals.forall(_.exists(_.matches("[A-Za-z0-9_.+-]+"))),
          s"cell column $cellCol has a null or path-escaped value " +
            s"(${cellVals.find(!_.exists(_.matches("[A-Za-z0-9_.+-]+")))}); " +
            "stale-dir cleanup only supports plain non-null cell values — " +
            "extend with ExternalCatalogUtils escaping before relaxing this")
        val keep = cellVals.map(v => s"$cellCol=${v.get}").toSet
        val segDir = s"$path/$SegCol=$ceiling"
        graft.sources.IndexStorage.listDirs(spark, segDir)
          .filter(n => n.startsWith(s"$cellCol=") && !keep(n))
          .foreach(n =>
            graft.sources.IndexStorage.deleteRecursive(spark, s"$segDir/$n"))
      }
    }
  }

  /** Remove every `_seg=<id>` directory with id below `ceiling` — the
    * (idempotent) cleanup half of a compaction; re-issue it to repair a
    * compaction interrupted in its delete phase. */
  def dropSegmentsBelow(spark: SparkSession, path: String, ceiling: Long): Unit =
    graft.sources.IndexStorage.listDirs(spark, path)
      .filter(n => n.startsWith(s"$SegCol=") &&
        n.stripPrefix(s"$SegCol=").toLong < ceiling)
      .foreach(n => graft.sources.IndexStorage.deleteRecursive(spark, s"$path/$n"))

  /** Reconciled live view over the segment store: a doc's winning claim is
    * its doc-length row with the HIGHEST segment id; tombstone winners
    * (dl < 0) drop the doc, and only the winning segment's postings
    * survive (an upsert's older postings lose the (doc, seg) semi join).
    * The plan is one narrow groupBy over the doc-length rows (one row per
    * doc per touching batch) plus one equi semi join — no per-segment
    * driver work, segments prune nothing (exactly tantivy: searches visit
    * every live segment until a merge). */
  def readFtsSegmentIndex(
      spark: SparkSession, postingsPath: String, docLensPath: String,
      idCol: String): Bm25.PosIndex = {
    val live = winners(spark.read.parquet(docLensPath), idCol)
      .filter(col("dl") >= 0)
    Bm25.PosIndex(liveValues(postingsPath, live, idCol, spark),
      live.drop(SegCol), idCol)
  }

  /** Live segment-directory count (the `fts_segment_count` number a
    * segment-maintained index reports): one filesystem listing. The layout
    * is kind-independent (`_seg=<id>` directories), so this counts ANY
    * segment store's claims path. */
  def ftsSegmentCount(spark: SparkSession, docLensPath: String): Int =
    graft.sources.IndexStorage.listDirs(spark, docLensPath)
      .count(_.startsWith(s"$SegCol="))

  /** Compaction cadence for segment stores (VERDICT r9 #4): fold history
    * once the live segment count exceeds `maxSegments`. WHY a count
    * threshold: the read-side reconcile is one groupBy over the claims
    * union, whose input grows linearly with segment count — the threshold
    * caps read amplification at a constant factor while keeping the
    * amortized write cost O(store / maxSegments) per fold, the standard
    * LSM trade (tantivy's merge policy is the reference shape,
    * fts_index/tantivy.rs commit/merge loop). Tombstone retirement rides
    * along: every fold drops superseded rows, so a tombstone lives at most
    * one fold cycle. */
  final case class CompactionPolicy(maxSegments: Int = 16) {
    require(maxSegments >= 1, "maxSegments must be >= 1")
  }

  /** Wrap a segment-append writer with the auto-compaction cadence: after
    * each commit, if the claims store's segment count exceeds the policy
    * threshold, run the kind's `compact` function. foreachBatch serializes
    * batches, so the fold always runs against a QUIESCED store (between
    * micro-batches) — the commit-visibility contract the compactors
    * document. One combinator serves every segment kind: pass the
    * kind's claims path (segment counting is layout-independent) and its
    * compact* closure. The `fts_segment_count` gauge (wire it via
    * `onCount`) shows the resulting sawtooth: rises to maxSegments+1,
    * drops to 1 at each fold. */
  def withCompaction(
      spark: SparkSession, claimsPath: String, policy: CompactionPolicy,
      compact: () => Unit, onCount: Int => Unit = _ => ())(
      writer: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      writer(batch, batchId)
      val n = ftsSegmentCount(spark, claimsPath)
      if (n > policy.maxSegments) {
        compact()
        onCount(ftsSegmentCount(spark, claimsPath))
      } else onCount(n)
    }

  /** Fold all segments into one: materialize the reconciled live view, then
    * rewrite it as the CURRENT HIGHEST segment (reusing the ceiling keeps
    * ids monotonic without consuming a new one) and delete every older
    * segment directory. Deleted docs vanish entirely — nothing older
    * remains for a stale claim to resurrect. Amortized cost is a full
    * rewrite, exactly a tantivy merge; run it on a cadence (or a
    * segment-count threshold) from the maintenance scheduler.
    *
    * COMMIT VISIBILITY CONTRACT: the fold replaces the ceiling segment and
    * deletes older ones outside any commit protocol, so run it against a
    * quiesced store (between micro-batches) and serve reads under the
    * engine's store fence ([[graft.operators.Engine.withMaintenance]]). */
  def compactFtsSegments(
      spark: SparkSession, postingsPath: String, docLensPath: String,
      idCol: String): Unit = {
    val idx = readFtsSegmentIndex(spark, postingsPath, docLensPath, idCol)
    compactPair(spark, postingsPath, docLensPath, idx.postings, idx.docLens)
  }

  /** Segment-append writer for the MinHash dedup stores
    * ([[graft.operators.Dedup.minhashNearDupsFromStores]]'s input): each
    * batch appends one `_seg=<id>` directory of fresh shingles (values)
    * and signatures (claims — exactly one row per touched doc; a delete
    * claims the doc with NULL signature columns and no shingle rows).
    * O(batch) per commit; [[readDedupSegmentIndex]] reconciles
    * latest-claim-wins at read; [[compactDedupSegments]] folds history.
    * Same monotonic-segment contract as [[appendFtsSegment]]. */
  def appendDedupSegment(
      spark: SparkSession,
      shinglePath: String,
      sigPath: String,
      idCol: String,
      textCol: String,
      opCol: Option[String],
      shingleN: Int = 5,
      numHashes: Int = 16,
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      import graft.operators.Dedup
      val freshShingles = Dedup.shingles(
          batch.filter(!dedupIsDelete(textCol, opCol)), idCol, textCol, shingleN)
        .localCheckpoint(true) // one tokenize pass feeds both stores
      appendDedupPrepared(shinglePath, sigPath, idCol, segOffset + batchId)(
        batch.select(col(idCol)).distinct(), freshShingles,
        Dedup.minhashSignaturesFromShingles(freshShingles, idCol, numHashes))
  }

  /** [[appendDedupSegment]]'s commit over PREBUILT batch artifacts — for
    * callers that already computed the batch's shingles and signatures
    * (the streaming near-dup probe), so a micro-batch is tokenized and
    * MinHashed exactly once. */
  private[streaming] def appendDedupPrepared(
      shinglePath: String, sigPath: String, idCol: String, seg: Long)(
      batchIds: DataFrame, freshShingles: DataFrame,
      freshSigs: DataFrame): Unit = {
    // EVERY batch id must claim its doc in this segment, or the doc's
    // older claim keeps winning at read. Deletes have no signature by
    // construction — and so does an UPSERT whose new text yields zero
    // shingles (fewer than shingleN tokens): both get a null-signature
    // tombstone row, derived by anti-joining batch ids against the fresh
    // signatures.
    val tombstones = batchIds
      .join(freshSigs.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol) +: freshSigs.schema.filterNot(_.name == idCol)
        .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    commitSeg(shinglePath, freshShingles, idCol, seg)
    commitSeg(sigPath, freshSigs.unionByName(tombstones), idCol, seg)
  }

  /** Reconciled (shingles, signatures) live view over the dedup segment
    * stores — the [[graft.operators.Dedup.minhashNearDupsFromStores]]
    * input shape. */
  def readDedupSegmentIndex(
      spark: SparkSession, shinglePath: String, sigPath: String,
      idCol: String): (DataFrame, DataFrame) = {
    val live = winners(spark.read.parquet(sigPath), idCol)
      .filter(col("sig_0").isNotNull)
    (liveValues(shinglePath, live, idCol, spark), live.drop(SegCol))
  }

  /** Fold the dedup segment stores into one segment (see
    * [[compactFtsSegments]]). */
  def compactDedupSegments(
      spark: SparkSession, shinglePath: String, sigPath: String,
      idCol: String): Unit = {
    val (sh, sigs) = readDedupSegmentIndex(spark, shinglePath, sigPath, idCol)
    compactPair(spark, shinglePath, sigPath, sh, sigs)
  }

  /** Segment-append writer for the materialized LSH vector store
    * ([[graft.operators.ApproxAnn.materializeLshIndex]]'s cells). A moved
    * vector's old cell is not derivable from its id, and need not be: the
    * old row simply LOSES the latest-claim reconcile, wherever it lives,
    * so no (id, cell) sidecar is kept. Each batch
    * appends rows (id, vector, `_bucket`) under `_seg=<id>/_bucket=<b>` —
    * the nested layout keeps `_bucket` a partition column, so the serving
    * probe's `IN (buckets)` filter still prunes directories inside every
    * segment — with a (null vector, bucket −1) tombstone row per delete.
    * O(batch) per commit; same monotonic-segment contract as
    * [[appendFtsSegment]]. */
  def appendVsSegment(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      opCol: Option[String],
      dims: Int,
      nbits: Int,
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      import graft.operators.ApproxAnn
      val isDelete = dedupIsDelete(vecCol, opCol)
      val planes = ApproxAnn.hyperplanes(nbits, dims)
      val fresh = batch.filter(!isDelete)
        .select(col(idCol), col(vecCol),
          ApproxAnn.lshBucket(col(vecCol), planes).as("_bucket"))
      val tombstones = batch.filter(isDelete)
        .select(col(idCol), lit(null).cast(fresh.schema(vecCol).dataType).as(vecCol),
          lit(-1L).as("_bucket"))
      commitSeg(indexPath, fresh.unionByName(tombstones), idCol,
        segOffset + batchId, Seq("_bucket"))
  }

  /** Reconciled live view over the vector segment store — the
    * [[graft.operators.ApproxAnn.searchLsh]] input shape (id, vector,
    * `_bucket` long): the latest (id, seg) claim wins and a tombstone
    * (null vector) drops the id. A probed stale row (its id re-bucketed or
    * tombstoned by a later segment) loses the (id, seg) join. Bucket-probe
    * filters push below the reconcile join to the row scan (partition
    * pruning intact) while the winner relation reads only the narrow
    * (id, `_seg`) columns. */
  def readVsSegmentIndex(
      spark: SparkSession, indexPath: String, idCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val all = spark.read.parquet(indexPath)
      .withColumn(SegCol, col(SegCol).cast("long"))
      .withColumn("_bucket", col("_bucket").cast("long"))
    val win = all.select(col(idCol), col(SegCol))
      .groupBy(col(idCol)).agg(max(col(SegCol)).as(SegCol))
    all.join(win, Seq(idCol, SegCol))
      .filter(col(vecCol).isNotNull)
      .drop(SegCol)
  }

  /** Fold the vector segment store into one segment (see
    * [[compactFtsSegments]]); tombstoned ids vanish entirely. */
  def compactVsSegments(
      spark: SparkSession, indexPath: String, idCol: String,
      vecCol: String = "embedding"): Unit = {
    val ceiling = spark.read.parquet(indexPath)
      .agg(max(col(SegCol).cast("long"))).head.getLong(0)
    overwriteCeiling(indexPath,
      readVsSegmentIndex(spark, indexPath, idCol, vecCol), ceiling, Seq("_bucket"))
    dropSegmentsBelow(spark, indexPath, ceiling)
  }

  /** Segment-append writer for the LWW row snapshot (the batch analogue of
    * the reference's per-key monitor_items merge loop,
    * table/mod.rs:887-1003): each batch appends its OWN LWW-compacted
    * winners
    * ([[graft.operators.Lww.compactState]]: one row per touched pk with
    * payload + tombstone + winning writetime) as an immutable segment,
    * O(batch) regardless of accumulated state. Cross-batch staleness (a
    * late upsert older than the stored winner) is resolved AT READ by [[readSnapshotSegments]]: the winner across
    * segments is picked by the SAME (writetime, first-arrival) order the
    * in-batch compaction uses — LWW max is associative, so hierarchical
    * per-batch-then-cross-segment compaction equals compaction over the
    * raw event log. Tombstones stay until a compaction older than the CDC
    * safety window drops their history (same retention note as
    * [[graft.operators.Lww.applyChanges]]). */
  def appendSnapshotSegment(
      spark: SparkSession,
      statePath: String,
      pkCols: Seq[String],
      tsCol: String,
      opCol: Option[String],
      targetCol: Option[String],
      seqCol: Option[String],
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      appendSeg(statePath,
        graft.operators.Lww.compactState(batch, pkCols, tsCol, opCol,
          targetCol, seqCol),
        segOffset + batchId)
  }

  /** Reconciled LWW state across snapshot segments (payload + tombstone +
    * [[graft.operators.Lww.TsCol]] per pk). Winner order: higher
    * writetime; equal writetimes go to the FIRST arrival — (segment, seq)
    * ascending — so the view is row-identical to
    * [[graft.operators.Lww.compactState]] over the whole event log. */
  def readSnapshotSegments(
      spark: SparkSession, statePath: String, pkCols: Seq[String],
      seqCol: Option[String] = None): DataFrame = {
    import graft.operators.Lww
    val all = spark.read.parquet(statePath)
      .withColumn(SegCol, col(SegCol).cast("long"))
    val payloadCols = all.columns.toSeq.filterNot(_ == SegCol)
    val ordKey = struct(
      Seq(col(Lww.TsCol), (lit(-1L) * col(SegCol)).as("_negseg")) ++
        seqCol.map(s => (lit(-1L) * col(s)).as("_negseq")): _*)
    all.groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(payloadCols.map(col): _*), ordKey).as("_winner"))
      .select(payloadCols.filterNot(pkCols.contains)
        .map(c => col(s"_winner.$c").as(c)) ++ pkCols.map(col): _*)
  }

  /** Fold the snapshot segments into one (see [[compactFtsSegments]]);
    * pass `dropTombstonesOlderThan` (a writetime bound at or beyond the
    * CDC safety window) to also retire tombstone history the wide reader
    * can no longer contradict. */
  def compactSnapshotSegments(
      spark: SparkSession, statePath: String, pkCols: Seq[String],
      seqCol: Option[String] = None,
      dropTombstonesOlderThan: Option[Long] = None): Unit = {
    import graft.operators.Lww
    val ceiling = spark.read.parquet(statePath)
      .agg(max(col(SegCol).cast("long"))).head.getLong(0)
    val state = readSnapshotSegments(spark, statePath, pkCols, seqCol)
    val kept = dropTombstonesOlderThan match {
      case Some(bound) =>
        state.filter(!col(Lww.TombstoneCol) || col(Lww.TsCol) >= bound)
      case None => state
    }
    overwriteCeiling(statePath, kept, ceiling, Nil)
    dropSegmentsBelow(spark, statePath, ceiling)
  }

  /** The delete predicate shared by every segment writer and the streaming
    * near-dup probes (one definition — the delete semantics must not
    * drift). */
  private[streaming] def dedupIsDelete(
      textCol: String, opCol: Option[String]): org.apache.spark.sql.Column = {
    // coalesce: a NULL op must not three-valued-null the predicate — an
    // event with a missing op but live text is an upsert, not a delete
    val op = opCol.map(c => coalesce(upper(col(c)) === "DELETE", lit(false)))
      .getOrElse(lit(false))
    op || col(textCol).isNull
  }
}
