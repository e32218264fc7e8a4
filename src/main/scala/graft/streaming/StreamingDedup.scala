package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication: the continuous analogue of
  * [[graft.operators.Dedup.exact]] — a document stream deduplicated by
  * content digest as it arrives, so downstream index maintenance and
  * training-data sinks only ever see first occurrences.
  *
  * This is CONTENT dedup (same text, any id, any time), distinct from
  * [[StreamingIngest.withDedup]]'s delivery dedup (same key+ts redelivered
  * within the watermark window).
  *
  * Scale notes (100 TB stream):
  *  - state is one boolean entry per distinct digest, partitioned by digest
  *    hash across executors — the streaming state store (RocksDB-backed in
  *    a cluster deployment) holds it off-heap/on-disk, and state never
  *    carries the document payload, only the 128-bit digest key;
  *  - the digest is computed BEFORE the stateful shuffle, so the exchange
  *    carries (digest, id) + payload once, exactly like the batch
  *    operator's (digest, id) shuffle;
  *  - emission is append-mode: a doc is emitted iff its digest was unseen,
  *    so replays of an already-processed batch emit nothing (idempotent
  *    sink contract, same as the LWW replay guarantee).
  */
object StreamingDedup {

  final case class Doc(id: Long, text: String)
  final case class DigestedDoc(digest: String, id: Long, text: String)

  /** Digest a typed document stream. md5 over the content — the same
    * digest [[graft.operators.Dedup.exact]] groups on. */
  def digested(docs: Dataset[Doc]): Dataset[DigestedDoc] = {
    val spark: SparkSession = docs.sparkSession
    import spark.implicits._
    docs.select(md5(col("text")).as("digest"), col("id"), col("text"))
      .as[DigestedDoc]
  }

  /** Streaming NEAR-dup detection: a foreachBatch body that, per
    * micro-batch, (1) probes the incoming documents against the
    * corpus-so-far via [[graft.operators.Dedup.nearDupProbe]] (MinHash band
    * candidates, exact-Jaccard verify), (2) writes the verified pairs to
    * `pairsPath/epoch=N` (overwrite-per-epoch), and (3) commits the batch
    * to the maintained shingle/signature segment stores
    * ([[IndexMaintenance.appendDedupSegment]]'s commit, read back through
    * [[IndexMaintenance.readDedupSegmentIndex]]) as segment N, where
    * N = `segOffset` + the foreachBatch epoch. The stores fold on the
    * default [[IndexMaintenance.CompactionPolicy]] cadence
    * ([[IndexMaintenance.withCompaction]]).
    *
    * Replay-idempotent: a re-run of epoch N overwrites its pair partition
    * and replaces its own rows in segment N, before or after a fold at N.
    * Segment ids must be monotonic over the stores' lifetime: a new
    * streaming query over existing stores (its epochs restart at 0) passes
    * the previous query's last N + 1 as `segOffset`, or the older claims
    * keep winning.
    *
    * Probe-before-append: on an APPEND-ONLY stream every near-dup pair of
    * the growing corpus is emitted exactly once — in the epoch where its
    * later member arrives — so the accumulated pair log equals the batch
    * operator over the final corpus (pinned in StreamingSpec). Under
    * at-least-once/update delivery the log is an EVENT STREAM, not a
    * table: a re-delivered or updated doc re-probes with its fresh text
    * (its store rows are excluded before matching), re-confirming pairs
    * under the new epoch, and pairs its OLD text earned in earlier epochs
    * are not retracted. Consumers needing current-state pairs reduce by
    * (id_a, id_b) against doc liveness — the same contract as any CDC
    * changelog. */
  def nearDupBatch(
      spark: SparkSession,
      shinglePath: String,
      sigPath: String,
      pairsPath: String,
      idCol: String,
      textCol: String,
      opCol: Option[String],
      shingleN: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    import graft.sources.IndexStorage
    IndexMaintenance.withCompaction(spark, sigPath,
        IndexMaintenance.CompactionPolicy(),
        () => IndexMaintenance.compactDedupSegments(
          spark, shinglePath, sigPath, idCol)) {
      (batch: DataFrame, epoch: Long) =>
        val seg = segOffset + epoch
        val upserts = batch.filter(!IndexMaintenance.dedupIsDelete(textCol, opCol))
        val touched = batch.select(col(idCol)).distinct()
        // ONE tokenize+MinHash pass per batch feeds the probe AND the append
        val probeSh = Dedup.shingles(upserts, idCol, textCol, shingleN)
          .localCheckpoint(true)
        val probeSigs = Dedup.minhashSignaturesFromShingles(probeSh, idCol, numHashes)
        val (storeSh, storeSigs) =
          if (IndexStorage.hasData(spark, shinglePath) && IndexStorage.hasData(spark, sigPath))
            IndexMaintenance.readDedupSegmentIndex(spark, shinglePath, sigPath, idCol)
          else (probeSh.limit(0), probeSigs.limit(0))
        Dedup.nearDupProbe(probeSh, probeSigs, storeSh, storeSigs,
            idCol, bands, threshold, excludeIds = Some(touched))
          .write.mode("overwrite").parquet(s"$pairsPath/epoch=$seg")
        IndexMaintenance.appendDedupPrepared(shinglePath, sigPath, idCol, seg)(
          touched, probeSh, probeSigs)
    }
  }

  /** Cross-modal twin of [[nearDupBatch]]: per micro-batch, probe the
    * incoming EMBEDDINGS against the maintained LSH vector segment store
    * ([[graft.operators.Dedup.embeddingNearDupProbe]]: Hamming-ball bucket
    * candidates, exact cosine verify, over
    * [[IndexMaintenance.readVsSegmentIndex]]'s reconciled view), write
    * pairs to `pairsPath/epoch=N`, then commit the batch to the store as
    * segment N ([[IndexMaintenance.appendVsSegment]]). A re-delivered id
    * whose vector moved cells leaves its old row behind in the old cell;
    * the reconcile drops that stale row at read, so it never pairs. Same
    * probe-before-append contract, event-stream semantics, replay
    * idempotence and `segOffset` restart contract as the text path; the
    * store folds once it holds more than 4 segments. */
  def embeddingNearDupBatch(
      spark: SparkSession,
      indexPath: String,
      pairsPath: String,
      idCol: String,
      vecCol: String,
      opCol: Option[String],
      dims: Int,
      threshold: Double,
      nbits: Int,
      radius: Int = 2,
      segOffset: Long = 0L): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    import graft.sources.IndexStorage
    val append = IndexMaintenance.appendVsSegment(
      spark, indexPath, idCol, vecCol, opCol, dims, nbits, segOffset)
    // a fold every 4 segments, not the default 16: each epoch adds one
    // directory per touched bucket, and every probe lists them all
    IndexMaintenance.withCompaction(spark, indexPath,
        IndexMaintenance.CompactionPolicy(maxSegments = 4),
        () => IndexMaintenance.compactVsSegments(spark, indexPath, idCol, vecCol)) {
      (batch: DataFrame, epoch: Long) =>
        val upserts = batch.filter(!IndexMaintenance.dedupIsDelete(vecCol, opCol))
        val touched = batch.select(col(idCol)).distinct()
        val store =
          if (IndexStorage.hasData(spark, indexPath))
            IndexMaintenance.readVsSegmentIndex(spark, indexPath, idCol, vecCol)
          else upserts.select(col(idCol), col(vecCol)).limit(0)
            .withColumn("_bucket", lit(0L))
        Dedup.embeddingNearDupProbe(
            upserts.select(col(idCol), col(vecCol)), store, idCol, vecCol,
            threshold, nbits, radius, excludeIds = Some(touched),
            dims = Some(dims))
          .write.mode("overwrite").parquet(s"$pairsPath/epoch=${segOffset + epoch}")
        append(batch, epoch)
    }
  }

  /** Streaming benchmark-contamination gate: a foreachBatch body that
    * checks each micro-batch of documents against a STATIC benchmark set
    * via the bloom-prefiltered containment pipeline
    * ([[graft.operators.Curation.decontaminateBloom]]'s machinery) and
    * writes flagged (doc, bench, overlap, containment) rows to
    * `outPath/epoch=N` (overwrite ⇒ replay-idempotent).
    *
    * The benchmark shingles, per-bench sizes and Bloom words are built
    * ONCE at stream start (the bench set is fixed); each micro-batch pays
    * its own shingle pass, the broadcast-literal Bloom probe, and the join
    * restricted to surviving shingles. A doc's containment depends only on
    * itself and the static bench set, so on an append-only stream the
    * union of the epoch outputs equals the batch operator over the full
    * corpus (uncapped semantics — the df cap is corpus-dependent by
    * design, so the streaming gate runs uncapped; spec-pinned). */
  def contaminationBatch(
      benchDocs: DataFrame, // (bench_id, text) — fixed for the stream
      outPath: String,
      idCol: String,
      textCol: String,
      minContainment: Double,
      shingleN: Int = 5,
      fpp: Double = 0.01): (DataFrame, Long) => Unit = {
    import graft.operators.{Curation, Dedup}
    val bsh = Dedup.shingles(benchDocs, "bench_id", "text", shingleN)
      .persist()
    val bsz = bsh.groupBy(col("bench_id")).agg(count(lit(1)).as("bsz"))
      .persist()
    bsz.count() // materialize both (bsz scans bsh) before the stream starts
    val bloom = Curation.bloomBuild(bsh.select(col("sh")).distinct(), fpp)
    (batch: DataFrame, epoch: Long) => {
      val sh = Dedup.shingles(batch, idCol, textCol, shingleN)
        .filter(Curation.bloomMember(col("sh"), bloom))
      Curation.containmentJoin(sh, idCol, bsh, bsz, minContainment)
        .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
    }
  }

  /** First-seen-wins streaming dedup: emits each distinct digest's first
    * arrival (ties within a micro-batch broken by min id — deterministic
    * under replay, matching the batch operator's min(id) survivor rule). */
  def firstSeen(docs: Dataset[Doc]): Dataset[DigestedDoc] = {
    val spark: SparkSession = docs.sparkSession
    import spark.implicits._
    digested(docs)
      .groupByKey(_.digest)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[DigestedDoc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // min-id arrival wins within the batch, like Dedup.exact
            Iterator(it.minBy(_.id))
          }
      }
  }
}
