package graft

import graft.streaming.{IndexMaintenance, StreamingIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming freshness measurement at scale: replay a corpus as a CDC
  * micro-batch stream through the segment-append FTS maintenance path and
  * record WRITE-TO-SEARCHABLE lag per batch — the reference's freshness
  * envelope (BASELINE.md: fine reader 100 ms / wide 30 s cadence, FTS
  * commit loop targets <3 s from write to searchable,
  * fts_index/tantivy.rs:129-130).
  *
  * Each batch's events are stamped with the wall clock at enqueue, so the
  * engine's `indexing_lag_seconds` histogram (fed by withCdcMetrics)
  * records exactly write→indexed; the probe AFTER each commit then proves
  * searchable (a BM25 hit for a term unique to that batch) and its extra
  * wall time is reported separately.
  *
  * Usage: StreamLag [sfDir] [nBatches] [outFile] [maxSegments=0] [store=fts]
  * The FTS store commits via [[IndexMaintenance.appendFtsSegment]] —
  * O(batch) per commit regardless of accumulated corpus — and the probe
  * reads through [[IndexMaintenance.readFtsSegmentIndex]]'s reconciled
  * view.
  * store=vs drives the vector/LSH segment store (the serving-critical
  * kind) over the embeddings table — see [[runVs]].
  * store=dedup drives the MinHash dedup segment store instead: same CDC
  * replay, same compaction policy, and the per-batch SEARCHABLE proof is a
  * [[graft.operators.Dedup.nearDupProbe]] of the batch's marker doc (an
  * exact duplicate of that batch's reference doc) finding its near-dup
  * pair through the reconciled store.
  * maxSegments > 0 wires [[IndexMaintenance.withCompaction]]
  * around the writer — the auto-compaction cadence whose long-horizon
  * effect (~100 batches) this harness exists to measure: without it the
  * reconcile's input grows one segment per batch and probe_sec drifts up;
  * with it probe_sec stays flat and the lag series shows the fold
  * sawtooth (amortized, bounded spikes).
  * Prints ONE JSON line: per-batch lag seconds, p50/p95/max, probe cost,
  * per-batch segment counts (`"mode":"segment"` is kept so the output
  * stays comparable with earlier STREAMLAG artifacts).
  */
object StreamLag {

  final case class DocEv(doc_id: Long, text: String, ts: java.sql.Timestamp)
  final case class VecEv(vec_id: Long, embedding: Seq[Float], ts: java.sql.Timestamp)

  /** store=vs: the SERVING-CRITICAL vector/LSH segment store driven live
    * (VERDICT r11 #7) — same CDC replay + compaction cadence shape as the
    * fts/dedup stores, over [[IndexMaintenance.appendVsSegment]]. The
    * per-batch SEARCHABLE proof follows the dedup store's per-batch rule:
    * batch b plants a batch-unique REFERENCE vector (refId = 20000000+b,
    * written IN batch b) and the post-commit probe is an ANN search
    * ([[graft.operators.ApproxAnn.searchLsh]] over the reconciled store)
    * for exactly that vector — the hit can only come from batch b's
    * committed rows, so a regression that drops appends after batch 0
    * fails the require, not just the metric. */
  private def runVs(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      nBatches: Int, outFile: Option[String], maxSegments: Int): Unit = {
    import graft.operators.{ApproxAnn, Ann}
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    require(vecs.nonEmpty, "embeddings table is empty")
    val dims = vecs.head._2.length
    val nbits = ApproxAnn.autoNbits(vecs.length.toLong)
    val perBatch = math.max(1, vecs.length / nBatches)
    System.err.println(
      s"[streamlag] vs store: ${vecs.length} vectors, $nBatches batches of ~$perBatch, nbits=$nbits")
    val dir = java.nio.file.Files.createTempDirectory("graft_streamlag_vs").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val eng = new graft.operators.Engine
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[VecEv](spark)
    val append = IndexMaintenance.appendVsSegment(
      spark, p("vs"), "vec_id", "embedding", opCol = None, dims, nbits)
    val commit = if (maxSegments > 0)
      IndexMaintenance.withCompaction(
        spark, p("vs"), IndexMaintenance.CompactionPolicy(maxSegments),
        () => IndexMaintenance.compactVsSegments(spark, p("vs"), "vec_id"))(append)
    else append
    val q = mem.toDF().writeStream
      .foreachBatch(StreamingIngest.withCdcMetrics(
        eng, "ks", "vs", "realtime", tsCol = "ts")(commit))
      .option("checkpointLocation", p("ckpt"))
      .start()
    StreamingIngest.bindReaderLiveness(eng, q, "ks", "vs", "realtime")
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def refVecFor(b: Int): Seq[Float] =
      (0 until dims).map(d => (math.sin(b * 13.7 + d * 0.91) * 2.0).toFloat)
    val lags = Array.ofDim[Double](nBatches)
    val probes = Array.ofDim[Double](nBatches)
    val segCounts = Array.ofDim[Int](nBatches)
    try {
      for (b <- 0 until nBatches) {
        val slice = vecs.slice(b * perBatch,
          if (b == nBatches - 1) vecs.length else (b + 1) * perBatch)
        val refId = 20000000L + b
        val t0 = System.currentTimeMillis()
        mem.addData(slice.map { case (id, v) =>
          VecEv(id, v, new java.sql.Timestamp(t0)) }.toSeq :+
          VecEv(refId, refVecFor(b), new java.sql.Timestamp(t0)))
        q.processAllAvailable()
        lags(b) = (System.currentTimeMillis() - t0) / 1000.0
        segCounts(b) = IndexMaintenance.ftsSegmentCount(spark, p("vs"))
        eng.setSegmentCount("ks", "vs", segCounts(b))
        val tp = System.currentTimeMillis()
        val idx = IndexMaintenance.readVsSegmentIndex(spark, p("vs"), "vec_id")
        val hits = ApproxAnn.searchLsh(idx, "embedding", Seq("vec_id"),
            graft.functions.VectorFunctions.Euclidean,
            Ann.AnnRequest(refVecFor(b), limit = 5), nbits, radius = 1)
          .select("vec_id").as[Long].collect()
        require(hits.contains(refId),
          s"batch $b planted reference vector $refId not searchable after commit")
        probes(b) = (System.currentTimeMillis() - tp) / 1000.0
        System.err.println(f"[streamlag] vs batch $b: indexed ${lags(b)}%.2f s")
      }
    } finally q.stop()
    val sorted = lags.sorted
    def pct(qq: Double) = sorted(math.min(sorted.length - 1, (qq * sorted.length).toInt))
    val json =
      s"""{"metric":"vs_write_to_searchable","unit":"sec","mode":"segment",""" +
        s""""batches":$nBatches,"docs_per_batch":$perBatch,"nbits":$nbits,""" +
        s""""p50":${fmt(pct(0.5))},"p95":${fmt(pct(0.95))},"max":${fmt(sorted.last)},""" +
        s""""per_batch":[${lags.map(fmt).mkString(",")}],""" +
        s""""probe_sec":[${probes.map(fmt).mkString(",")}],""" +
        s""""max_segments":$maxSegments,"segments":[${segCounts.mkString(",")}]}"""
    println(json)
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), json.getBytes("UTF-8"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/testdata-sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val outFile = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val perBatch = math.max(1, docs.length / nBatches)
    System.err.println(s"[streamlag] ${docs.length} docs, $nBatches batches of ~$perBatch")

    val dir = java.nio.file.Files.createTempDirectory("graft_streamlag").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val eng = new graft.operators.Engine
    val mem = MemoryStream[DocEv](spark)
    val maxSegments = args.lift(3).map(_.toInt).getOrElse(0)
    val store = args.lift(4).getOrElse("fts")
    require(Set("fts", "dedup", "vs")(store), s"unknown store $store; stores: fts | dedup | vs")
    if (store == "vs") { // vector-store replay has its own event schema
      runVs(spark, sfDir, nBatches, outFile, maxSegments)
      return
    }
    val segCounts = Array.ofDim[Int](nBatches)
    val claimsPath = if (store == "dedup") p("sigs") else p("doclens")
    val (append, compact) =
      if (store == "dedup")
        (IndexMaintenance.appendDedupSegment(
          spark, p("shingles"), p("sigs"), "doc_id", "text", opCol = None),
          () => IndexMaintenance.compactDedupSegments(
            spark, p("shingles"), p("sigs"), "doc_id"))
      else
        (IndexMaintenance.appendFtsSegment(
          spark, p("postings"), p("doclens"), "doc_id", "text", opCol = None),
          () => IndexMaintenance.compactFtsSegments(
            spark, p("postings"), p("doclens"), "doc_id"))
    val commit =
      if (maxSegments > 0)
        IndexMaintenance.withCompaction(spark, claimsPath,
          IndexMaintenance.CompactionPolicy(maxSegments), compact)(append)
      else append
    val q = mem.toDF().writeStream
      .foreachBatch(StreamingIngest.withCdcMetrics(
        eng, "ks", "fts", "realtime", tsCol = "ts")(commit))
      .option("checkpointLocation", p("ckpt"))
      .start()
    StreamingIngest.bindReaderLiveness(eng, q, "ks", "fts", "realtime")

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    // the dedup store's searchable proof: each batch b writes its OWN
    // (reference, marker) duplicate pair — batch-unique text, both ids in
    // batch b — and the post-commit probe must find exactly that pair.
    // A single batch-0 reference would make the proof vacuous for b>=1
    // (the probe's hit could come from batch 0's long-committed signature
    // while every later append is silently dropped — ADVICE r11); the
    // per-batch reference can only be found through batch b's committed
    // signatures. Texts share a tail but differ in the first shingles
    // (cross-batch Jaccard ≈ 0.4 < the 0.9 threshold), so only the
    // same-batch exact duplicate verifies.
    val dupRefBase = 20000000L
    def dupTextFor(b: Int): String =
      s"zq marker batch b$b salt${b * 7919} alpha beta gamma delta epsilon zeta eta theta"
    val lags = Array.ofDim[Double](nBatches)
    val probes = Array.ofDim[Double](nBatches)
    try {
      for (b <- 0 until nBatches) {
        val slice = docs.slice(b * perBatch,
          if (b == nBatches - 1) docs.length else (b + 1) * perBatch)
        // the batch's unique marker doc proves SEARCHABLE, not just written
        val markerId = 10000000L + b
        val refId = dupRefBase + b
        val markerText =
          if (store == "dedup") dupTextFor(b) else s"freshmarker$b only here"
        val marker = DocEv(markerId, markerText,
          new java.sql.Timestamp(System.currentTimeMillis()))
        val ref = if (store == "dedup")
          Seq(DocEv(refId, dupTextFor(b),
            new java.sql.Timestamp(System.currentTimeMillis())))
        else Nil
        val t0 = System.currentTimeMillis()
        mem.addData(slice.map { case (id, tx) =>
          DocEv(id, tx, new java.sql.Timestamp(t0)) }.toSeq ++ ref :+ marker)
        q.processAllAvailable() // commit = indexed
        lags(b) = (System.currentTimeMillis() - t0) / 1000.0
        // live fts_segment_count (the sawtooth)
        segCounts(b) = IndexMaintenance.ftsSegmentCount(spark, claimsPath)
        eng.setSegmentCount("ks", "fts", segCounts(b))
        val tp = System.currentTimeMillis()
        if (store == "dedup") {
          import graft.operators.Dedup
          val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
            spark, p("shingles"), p("sigs"), "doc_id")
          val probeDocs = Seq((markerId, dupTextFor(b))).toDF("doc_id", "text")
          val pSh = Dedup.shingles(probeDocs, "doc_id", "text", 5)
          val pSigs = Dedup.minhashSignaturesFromShingles(pSh, "doc_id", 16)
          val hits = Dedup.nearDupProbe(pSh, pSigs, sh, sigs, "doc_id",
              bands = 4, threshold = 0.9)
            .select("id_a", "id_b").as[(Long, Long)].collect()
          // the hit must be THIS batch's planted pair — the store copy of
          // refId=$refId was written in batch b, so the proof can only
          // come from batch b's committed signatures
          require(hits.contains((markerId, refId)),
            s"batch $b planted duplicate pair ($markerId, $refId) not found after commit")
        } else {
          val pos = IndexMaintenance.readFtsSegmentIndex(
            spark, p("postings"), p("doclens"), "doc_id")
          val hit = graft.operators.Bm25.scoreAll(
              graft.operators.Bm25.Index(
                pos.postings.select("doc_id", "term", "tf"), pos.docLens, "doc_id"),
              s"freshmarker$b")
            .select("doc_id").as[Long].collect()
          require(hit.contains(markerId),
            s"batch $b marker not searchable after commit")
        }
        probes(b) = (System.currentTimeMillis() - tp) / 1000.0
        System.err.println(f"[streamlag] batch $b: indexed ${lags(b)}%.2f s")
      }
    } finally q.stop()

    val sorted = lags.sorted
    def pct(q: Double) = sorted(math.min(sorted.length - 1, (q * sorted.length).toInt))
    val json =
      s"""{"metric":"${store}_write_to_searchable","unit":"sec","mode":"segment",""" +
        s""""batches":$nBatches,""" +
        s""""docs_per_batch":$perBatch,"p50":${fmt(pct(0.5))},""" +
        s""""p95":${fmt(pct(0.95))},"max":${fmt(sorted.last)},""" +
        s""""per_batch":[${lags.map(fmt).mkString(",")}],""" +
        s""""probe_sec":[${probes.map(fmt).mkString(",")}],""" +
        s""""max_segments":$maxSegments,"segments":[${segCounts.mkString(",")}]}"""
    println(json)
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), json.getBytes("UTF-8"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    spark.stop()
  }
}
