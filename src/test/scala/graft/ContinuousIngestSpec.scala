package graft

import graft.functions.VectorFunctions._
import graft.operators.{Ann, Bm25, Dedup}
import graft.operators.Ann.AnnRequest
import graft.streaming.{IndexMaintenance, StreamingIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The reference's full continuous-ingest story, end-to-end on Structured
  * Streaming (SURVEY §3.3): one CDC stream drives, per micro-batch,
  *  - the LWW row snapshot,
  *  - the FTS postings/doc-length stores,
  *  - the LSH vector index,
  *  - the dedup artifacts (shingle + MinHash signature stores),
  * each as segment appends reconciled at read,
  * and after every commit the row state, BM25 search, ANN search, and
  * near-dup queries all reflect exactly the live data — the Spark analogue
  * of engine.rs wiring db_cdc → Table cache → usearch/tantivy with
  * per-batch commits. */
class ContinuousIngestSpec extends SparkSpec {
  import spark.implicits._

  /** One indexed-table change event: text + embedding targets together. */
  case class DocEvent(doc_id: Long, text: String, embedding: Seq[Float],
      op: String, ts: Long, seq: Long)

  test("one CDC stream maintains snapshot + FTS + vector + dedup stores per commit") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val dims = 4

    val appendRows = IndexMaintenance.appendSnapshotSegment(
      spark, p("state"), Seq("doc_id"), "ts",
      opCol = Some("op"), targetCol = Some("embedding"), seqCol = Some("seq"))
    def state() = IndexMaintenance.readSnapshotSegments(
      spark, p("state"), Seq("doc_id"), seqCol = Some("seq"))
    val appendFts = IndexMaintenance.appendFtsSegment(
      spark, p("postings"), p("doclens"), "doc_id", "text", opCol = Some("op"))
    val appendVs = IndexMaintenance.appendVsSegment(
      spark, p("lsh"), "doc_id", "embedding",
      opCol = Some("op"), dims = dims, nbits = 8)
    // near-dup probe + dedup-store append in one body (probe-before-append):
    // the CDC loop also emits the streaming pair log
    val appendDedup = graft.streaming.StreamingDedup.nearDupBatch(
      spark, p("shingles"), p("sigs"), p("pairs"), "doc_id", "text",
      opCol = Some("op"), threshold = 0.5)

    val mem = MemoryStream[DocEvent](spark)
    // the engine carrying the CDC observability gauges — withCdcMetrics
    // wraps the whole commit body so the reader-up / modified / checkpoint /
    // lag families advance per committed micro-batch, in a REAL stream
    val eng = new graft.operators.Engine
    val q = mem.toDF().writeStream
      .foreachBatch(StreamingIngest.withCdcMetrics(
        eng, "ks", "docs", "realtime", tsCol = "ts") {
        (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // reference architecture (table/mod.rs → vs/fts backends): the LWW
        // snapshot is the Table cache and decides winners — including
        // cross-batch staleness — then the indexes follow the cache's
        // authoritative rows for the touched keys
        appendRows(batch, id)
        val touched = batch.select(col("doc_id")).distinct()
        val tomb = col(graft.operators.Lww.TombstoneCol)
        val cur = state()
          .join(touched, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            when(tomb, lit(null)).otherwise(col("text")).as("text"),
            when(tomb, lit(null)).otherwise(col("embedding")).as("embedding"),
            when(tomb, lit("DELETE")).otherwise(lit("UPSERT")).as("op"))
        appendFts(cur, id)
        appendVs(cur, id)
        appendDedup(cur, id)
      })
      .start()
    // gauge tied to THIS query's lifetime: up now, 0 after terminate
    StreamingIngest.bindReaderLiveness(eng, q, "ks", "docs", "realtime")

    def liveIds(): Set[Long] =
      state()
        .filter(!col(graft.operators.Lww.TombstoneCol))
        .select("doc_id").as[Long].collect().toSet
    def ftsHits(term: String): Set[Long] = {
      val pos = IndexMaintenance.readFtsSegmentIndex(
        spark, p("postings"), p("doclens"), "doc_id")
      Bm25.scoreAll(Bm25.Index(pos.postings.select("doc_id", "term", "tf"), pos.docLens, "doc_id"), term)
        .select("doc_id").as[Long].collect().toSet
    }
    def annTop(qv: Seq[Float]): Long =
      Ann.plan(IndexMaintenance.readVsSegmentIndex(spark, p("lsh"), "doc_id"), "embedding",
          Seq("doc_id"), Euclidean, AnnRequest(qv, limit = 1))
        .select("doc_id").as[Long].head()
    def nearDups(): Set[(Long, Long)] = {
      val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
        spark, p("shingles"), p("sigs"), "doc_id")
      Dedup.minhashNearDupsFromStores(sh, sigs, "doc_id",
          bands = 4, threshold = 0.5, maxShingleDf = None)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }

    def ev(id: Long, text: String, vec: Seq[Float], op: String, ts: Long, seq: Long) =
      DocEvent(id, text, vec, op, ts, seq)

    val fox1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val turtle = "a slow green turtle walks across the quiet meadow path today"
    val sparkDoc = "spark streaming merge engines process continuous change data feeds"
    // the update makes doc 2 an EXACT dup of doc 1 (jaccard 1.0: banding is
    // guaranteed; a ~0.8-jaccard near-dup can deterministically miss a
    // 4-band/16-hash scheme — that recall property belongs to DedupSpec)
    val fox2 = fox1

    try {
      // batch 1: three live docs, no near-dups among them
      mem.addData(Seq(
        ev(1L, fox1, Seq(1f, 0f, 0f, 0f), "UPSERT", 100, 0),
        ev(2L, turtle, Seq(0f, 1f, 0f, 0f), "UPSERT", 100, 1),
        ev(3L, sparkDoc, Seq(0f, 0f, 1f, 0f), "UPSERT", 100, 2)))
      q.processAllAvailable()
      assert(liveIds() == Set(1L, 2L, 3L))
      assert(ftsHits("turtle") == Set(2L))
      assert(annTop(Seq(0f, 0f, 0.9f, 0f)) == 3L)
      assert(nearDups().isEmpty)

      // batch 2: update doc 2 to a DUP of doc 1 (new text AND new vector),
      // delete doc 3, plus a STALE update of doc 1 LWW must ignore
      mem.addData(Seq(
        ev(2L, fox2, Seq(0f, 0f, 0f, 1f), "UPSERT", 200, 3),
        ev(3L, null, null, "DELETE", 200, 4),
        ev(1L, "stale fox rewrite text never indexed anywhere at all", Seq(9f, 9f, 9f, 9f), "UPSERT", 50, 5)))
      q.processAllAvailable()
      assert(liveIds() == Set(1L, 2L), "delete applied; stale update ignored for state")
      assert(ftsHits("turtle").isEmpty, "replaced text deindexed")
      assert(ftsHits("spark").isEmpty, "deleted doc deindexed")
      assert(ftsHits("fox") == Set(1L, 2L))
      assert(ftsHits("stale").isEmpty && ftsHits("rewrite").isEmpty,
        "the stale (older writetime) rewrite of doc 1 must not reach the index")
      assert(annTop(Seq(0f, 0f, 0f, 0.9f)) == 2L, "moved vector found in its new bucket")
      // the near-dup pair EMERGED from the update — candidate banding and
      // verification both serve from the maintained stores
      assert(nearDups() == Set((1L, 2L)))

      // batch 3: replay batch 2 (CDC redelivery) — idempotent everywhere
      mem.addData(Seq(
        ev(2L, fox2, Seq(0f, 0f, 0f, 1f), "UPSERT", 200, 6),
        ev(3L, null, null, "DELETE", 200, 7)))
      q.processAllAvailable()
      assert(liveIds() == Set(1L, 2L))
      assert(ftsHits("fox") == Set(1L, 2L) && ftsHits("spark").isEmpty)
      assert(annTop(Seq(0f, 0f, 0f, 0.9f)) == 2L)
      assert(nearDups() == Set((1L, 2L)))

      // the streaming pair log: nothing in the first epoch, the pair lands
      // in the epoch its duplicate EMERGED (batch 2), and the redelivery
      // re-confirms it under its own epoch (event-stream contract)
      val pairLog = spark.read.parquet(p("pairs"))
        .select("epoch", "id_a", "id_b").as[(Long, Long, Long)].collect().toSet
      assert(pairLog == Set((1L, 1L, 2L), (2L, 1L, 2L)), pairLog)

      // CDC observability advanced with the stream: reader live, every
      // event counted as modified, checkpoint at the newest event time
      // seen (ts=200 — the stale ts=50 event never regresses it), one lag
      // observation per committed batch
      val snap = eng.promSnapshot()
      val key = graft.operators.Catalog.IndexKey("ks", "docs")
      assert(snap.cdcReaderUp((key, "realtime")) == 1)
      assert(snap.modified((key, "upsert")) == 8L) // 3 + 3 + 2 events
      assert(snap.cdcCheckpoints((key, "realtime")) == 200.0)
      assert(snap.indexingLag(key).count == 3L)
      // the liveness gauge FOLLOWS the reader's lifetime: stopping the
      // query must drop it to 0 (the reference's reader loop does the same
      // when it exits) — terminated events are delivered async, so poll
      q.stop()
      q.awaitTermination()
      val key2 = (graft.operators.Catalog.IndexKey("ks", "docs"), "realtime")
      val deadline = System.currentTimeMillis() + 30000
      while (eng.promSnapshot().cdcReaderUp(key2) != 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(eng.promSnapshot().cdcReaderUp(key2) == 0,
        "cdc_reader_up must drop to 0 when the reader terminates")
    } finally {
      q.stop()
      FileUtils.deleteDirectory(dir)
    }
  }

  test("segment-mode CDC loop: FTS + dedup segment stores serve per commit, compaction mid-stream") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_seg").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val appendFts = IndexMaintenance.appendFtsSegment(
      spark, p("postings"), p("doclens"), "doc_id", "text", opCol = Some("op"))
    val appendDedup = IndexMaintenance.appendDedupSegment(
      spark, p("shingles"), p("sigs"), "doc_id", "text", opCol = Some("op"))
    val mem = MemoryStream[DocEvent](spark)
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        appendFts(batch, id)
        appendDedup(batch, id)
      }
      .start()
    def ftsHits(term: String): Set[Long] = {
      val pos = IndexMaintenance.readFtsSegmentIndex(
        spark, p("postings"), p("doclens"), "doc_id")
      Bm25.scoreAll(Bm25.Index(
          pos.postings.select("doc_id", "term", "tf"), pos.docLens, "doc_id"), term)
        .select("doc_id").as[Long].collect().toSet
    }
    def nearDups(): Set[(Long, Long)] = {
      val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
        spark, p("shingles"), p("sigs"), "doc_id")
      Dedup.minhashNearDupsFromStores(sh, sigs, "doc_id",
          bands = 4, threshold = 0.5, maxShingleDf = None)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val fox1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val turtle = "a slow green turtle walks across the quiet meadow path today"
    val sparkDoc = "spark streaming merge engines process continuous change data feeds"
    try {
      mem.addData(Seq(
        DocEvent(1L, fox1, Seq(1f, 0f, 0f, 0f), "UPSERT", 100, 0),
        DocEvent(2L, turtle, Seq(0f, 1f, 0f, 0f), "UPSERT", 100, 1),
        DocEvent(3L, sparkDoc, Seq(0f, 0f, 1f, 0f), "UPSERT", 100, 2)))
      q.processAllAvailable()
      assert(ftsHits("turtle") == Set(2L))
      assert(nearDups().isEmpty)

      // update doc 2 to a dup of doc 1, delete doc 3 — one appended segment
      mem.addData(Seq(
        DocEvent(2L, fox1, Seq(0f, 0f, 0f, 1f), "UPSERT", 200, 3),
        DocEvent(3L, null, null, "DELETE", 200, 4)))
      q.processAllAvailable()
      assert(ftsHits("turtle").isEmpty && ftsHits("spark").isEmpty)
      assert(ftsHits("fox") == Set(1L, 2L))
      assert(nearDups() == Set((1L, 2L)))
      assert(IndexMaintenance.ftsSegmentCount(spark, p("doclens")) == 2)

      // compaction between micro-batches (the quiesced-store contract):
      // serving is unchanged, history folds to one segment
      IndexMaintenance.compactFtsSegments(spark, p("postings"), p("doclens"), "doc_id")
      IndexMaintenance.compactDedupSegments(spark, p("shingles"), p("sigs"), "doc_id")
      assert(IndexMaintenance.ftsSegmentCount(spark, p("doclens")) == 1)
      assert(ftsHits("fox") == Set(1L, 2L) && nearDups() == Set((1L, 2L)))

      // the stream keeps appending after the compaction (ids monotonic:
      // batchId 2 > the compacted ceiling 1)
      mem.addData(Seq(DocEvent(3L, sparkDoc, Seq(0f, 0f, 1f, 0f), "UPSERT", 300, 5)))
      q.processAllAvailable()
      assert(ftsHits("spark") == Set(3L), "re-added doc must serve post-compaction")
      assert(nearDups() == Set((1L, 2L)))
    } finally {
      q.stop()
      FileUtils.deleteDirectory(dir)
    }
  }
}
