package graft

import graft.operators.Bm25
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._

/** Incremental index maintenance (ST6) over the segment-append stores:
  * per-batch searchability, upsert-as-replace / delete semantics, equality
  * with a full rebuild, O(batch) commits that leave earlier segments
  * byte-identical, compaction, and served queries over the reconciled
  * views. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tfIndex(p: Bm25.PosIndex): Bm25.Index =
    Bm25.Index(p.postings.select("doc_id", "term", "tf"), p.docLens, "doc_id")

  private def hits(p: Bm25.PosIndex, term: String): Set[Long] =
    Bm25.scoreAll(tfIndex(p), term).select("doc_id").as[Long].collect().toSet

  test("segment-append FTS maintenance: O(batch) commits, reconciled reads, compaction") {
    import org.apache.commons.io.FileUtils
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fts_seg").toFile
    val pPath = new java.io.File(dir, "postings").getAbsolutePath
    val lPath = new java.io.File(dir, "doclens").getAbsolutePath
    val append = IndexMaintenance.appendFtsSegment(
      spark, pPath, lPath, "doc_id", "text", opCol = Some("op"))
    def read() = IndexMaintenance.readFtsSegmentIndex(spark, pPath, lPath, "doc_id")
    def crcs(path: String): Map[String, Long] =
      FileUtils.listFiles(new java.io.File(path), Array("parquet"), true)
        .asScala.map(f => f.getAbsolutePath -> FileUtils.checksumCRC32(f)).toMap
    def postRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("term"), col("tf").cast("long"),
        col("positions").cast("array<int>"))
      .collect().map(_.toSeq).toSet
    def lenRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("dl").cast("long")).collect().map(_.toSeq).toSet

    try {
      append(Seq(
        (1L, "the quick brown fox", "UPSERT"),
        (2L, "a slow turtle walks", "UPSERT"),
        (3L, "spark merges windows", "UPSERT")).toDF("doc_id", "text", "op"), 0L)
      assert(hits(read(), "turtle") == Set(2L))
      val seg0 = crcs(pPath)

      // batch 1: update doc 2, delete doc 3. The earlier segment's files
      // must be BYTE-IDENTICAL afterwards — the commit appended a new
      // segment and touched nothing else (the O(batch) property).
      append(Seq(
        (2L, "a fast turtle runs", "UPSERT"),
        (3L, null.asInstanceOf[String], "DELETE")).toDF("doc_id", "text", "op"), 1L)
      val idx1 = read()
      assert(hits(idx1, "fast") == Set(2L))
      assert(hits(idx1, "slow").isEmpty, "superseded postings must lose the claim")
      assert(hits(idx1, "spark").isEmpty, "tombstoned doc must leave the live view")
      assert(hits(idx1, "fox") == Set(1L))
      val after = crcs(pPath)
      assert(seg0.forall { case (f, c) => after.get(f).contains(c) },
        "append-only commit rewrote an earlier segment")
      assert(IndexMaintenance.ftsSegmentCount(spark, lPath) == 2)

      // batch 2: re-add doc 3 — a newer claim beats its tombstone
      append(Seq((3L, "windows return anew", "UPSERT"))
        .toDF("doc_id", "text", "op"), 2L)
      val idx2 = read()
      assert(hits(idx2, "anew") == Set(3L))
      assert(hits(idx2, "merges").isEmpty, "old postings of a re-added doc must stay dead")

      // reconciled view == from-scratch rebuild of the live corpus
      val live = Seq(
        (1L, "the quick brown fox"),
        (2L, "a fast turtle runs"),
        (3L, "windows return anew"))
      val rebuilt = Bm25.buildPositionalIndex(
        live.toDF("doc_id", "text"), "doc_id", "text")
      assert(postRows(idx2.postings) == postRows(rebuilt.postings))
      assert(lenRows(idx2.docLens) == lenRows(rebuilt.docLens))

      // compaction folds history into one segment; the view is unchanged
      IndexMaintenance.compactFtsSegments(spark, pPath, lPath, "doc_id")
      assert(IndexMaintenance.ftsSegmentCount(spark, lPath) == 1)
      val idx3 = read()
      assert(postRows(idx3.postings) == postRows(rebuilt.postings))
      assert(lenRows(idx3.docLens) == lenRows(rebuilt.docLens))

      // and the store keeps accepting appends after a compaction
      append(Seq((4L, "post compaction doc", "UPSERT"))
        .toDF("doc_id", "text", "op"), 3L)
      assert(hits(read(), "compaction") == Set(4L))
      assert(hits(read(), "anew") == Set(3L))
    } finally FileUtils.deleteDirectory(dir)
  }

  test("incremental LSH vector index: bucket moves, deletes, == full rebuild") {
    // the vector store the streaming embedding near-dup probe maintains:
    // its segment appends must track bucket moves and deletes exactly
    import graft.operators.ApproxAnn
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_vs_inc").toFile
    val iPath = new java.io.File(dir, "lsh").getAbsolutePath
    val dims = 8
    val probeAndAppend = StreamingDedup.embeddingNearDupBatch(
      spark, iPath, new java.io.File(dir, "pairs").getAbsolutePath,
      "vec_id", "embedding", opCol = Some("op"), dims = dims,
      threshold = 0.99, nbits = 8)

    def vec(seed: Long, sign: Float = 1f): Seq[Float] =
      Array.tabulate(dims)(d => sign * math.sin(seed * 1.7 + d).toFloat).toSeq
    def indexRows(): Set[(Long, Seq[Float], Long)] =
      IndexMaintenance.readVsSegmentIndex(spark, iPath, "vec_id")
        .select(col("vec_id"), col("embedding"), col("_bucket"))
        .as[(Long, Seq[Float], Long)].collect().toSet

    try {
      probeAndAppend(Seq(
        (1L, vec(1), "UPSERT"), (2L, vec(2), "UPSERT"), (3L, vec(3), "UPSERT"))
        .toDF("vec_id", "embedding", "op"), 0L)
      assert(indexRows().map(_._1) == Set(1L, 2L, 3L))

      // negating v2 flips every projection sign ⇒ it must move buckets;
      // delete v3 entirely
      probeAndAppend(Seq(
        (2L, vec(2, -1f), "UPSERT"),
        (3L, null.asInstanceOf[Seq[Float]], "DELETE"))
        .toDF("vec_id", "embedding", "op"), 1L)

      val live = Seq((1L, vec(1)), (2L, vec(2, -1f))).toDF("vec_id", "embedding")
      val rebuilt = ApproxAnn.buildLshIndex(live, "embedding", nbits = 8, dims = dims)
        .select(col("vec_id"), col("embedding"), col("_bucket"))
        .as[(Long, Seq[Float], Long)].collect().toSet
      assert(indexRows() == rebuilt,
        "maintained index must equal a from-scratch rebuild of the live rows")
      // exactly one row per id in the view (the old-bucket copy is gone)
      val perId = indexRows().groupBy(_._1).view.mapValues(_.size).toMap
      assert(perId == Map(1L -> 1, 2L -> 1))
    } finally FileUtils.deleteDirectory(dir)
  }

  test("segment-append LSH vector store: no sidecar, bucket moves via reconcile, pruned probes, compaction") {
    import graft.operators.ApproxAnn
    import org.apache.commons.io.FileUtils
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_vs_seg").toFile
    val iPath = new java.io.File(dir, "lsh").getAbsolutePath
    val dims = 8
    val append = IndexMaintenance.appendVsSegment(
      spark, iPath, "vec_id", "embedding", opCol = Some("op"),
      dims = dims, nbits = 8)
    def vec(seed: Long, sign: Float = 1f): Seq[Float] =
      Array.tabulate(dims)(d => sign * math.sin(seed * 1.7 + d).toFloat).toSeq
    def rows(): Set[(Long, Seq[Float], Long)] =
      IndexMaintenance.readVsSegmentIndex(spark, iPath, "vec_id")
        .select(col("vec_id"), col("embedding"), col("_bucket"))
        .as[(Long, Seq[Float], Long)].collect().toSet
    def crcs(): Map[String, Long] =
      FileUtils.listFiles(new java.io.File(iPath), Array("parquet"), true)
        .asScala.map(f => f.getAbsolutePath -> FileUtils.checksumCRC32(f)).toMap
    try {
      append(Seq(
        (1L, vec(1), "UPSERT"), (2L, vec(2), "UPSERT"), (3L, vec(3), "UPSERT"))
        .toDF("vec_id", "embedding", "op"), 0L)
      val seg0 = crcs()

      // negating v2 flips every projection sign ⇒ bucket move WITHOUT a
      // sidecar lookup: the old row just loses the reconcile; delete v3
      append(Seq(
        (2L, vec(2, -1f), "UPSERT"),
        (3L, null.asInstanceOf[Seq[Float]], "DELETE"))
        .toDF("vec_id", "embedding", "op"), 1L)
      val after = crcs()
      assert(seg0.forall { case (f, c) => after.get(f).contains(c) },
        "append-only commit rewrote an earlier segment")

      val live = Seq((1L, vec(1)), (2L, vec(2, -1f))).toDF("vec_id", "embedding")
      val rebuilt = ApproxAnn.buildLshIndex(live, "embedding", nbits = 8, dims = dims)
        .select(col("vec_id"), col("embedding"), col("_bucket"))
        .as[(Long, Seq[Float], Long)].collect().toSet
      assert(rows() == rebuilt,
        "reconciled view must equal a from-scratch rebuild of the live rows")
      assert(rows().groupBy(_._1).view.mapValues(_.size).toMap == Map(1L -> 1, 2L -> 1))

      // the serving probe shape: filtering the reconciled view to v2's NEW
      // bucket returns exactly its new row (stale copy reconciled away even
      // though its directory was never touched)
      val b2 = rebuilt.find(_._1 == 2L).get._3
      val probed = IndexMaintenance.readVsSegmentIndex(spark, iPath, "vec_id")
        .filter(col("_bucket") === b2)
        .select(col("vec_id"), col("_bucket")).as[(Long, Long)].collect().toSet
      assert(probed.contains((2L, b2)))
      assert(!probed.exists(r => r._1 == 2L && r._2 != b2))

      // compaction: one segment left, view unchanged, still appendable
      IndexMaintenance.compactVsSegments(spark, iPath, "vec_id")
      assert(IndexMaintenance.ftsSegmentCount(spark, iPath) == 1)
      assert(rows() == rebuilt)
      // the fold folded into the ceiling segment 1, whose `_bucket=-1` dir
      // (v3's tombstone) is absent from the folded frame: it must be
      // deleted, leaving exactly the live rows' bucket dirs
      val seg1 = new java.io.File(iPath, "_seg=1")
      val bucketDirs = seg1.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(!bucketDirs("_bucket=-1"), "a folded-away tombstone cell dir survived the fold")
      assert(bucketDirs == rebuilt.map(r => s"_bucket=${r._3}"),
        s"ceiling segment holds $bucketDirs, not the live rows' buckets")
      append(Seq((3L, vec(3), "UPSERT")).toDF("vec_id", "embedding", "op"), 2L)
      assert(rows().map(_._1) == Set(1L, 2L, 3L))
    } finally FileUtils.deleteDirectory(dir)
  }

  test("segment-append LWW snapshot: row-identical to compactState over the whole log, stale updates lose, compaction window") {
    import graft.operators.Lww
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_lww_seg").toFile
    val segPath = new java.io.File(dir, "seg").getAbsolutePath
    val appendSeg = IndexMaintenance.appendSnapshotSegment(
      spark, segPath, Seq("doc_id"), "ts", opCol = Some("op"),
      targetCol = Some("text"), seqCol = Some("seq"))
    def segState() = IndexMaintenance.readSnapshotSegments(
      spark, segPath, Seq("doc_id"), seqCol = Some("seq"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("text"), col(Lww.TombstoneCol), col(Lww.TsCol))
      .collect().map(_.toSeq).toSet
    val batches = Seq(
      // batch 0: three docs
      Seq((1L, "alpha one", "UPSERT", 100L, 0L), (2L, "beta two", "UPSERT", 100L, 1L),
        (3L, "gamma three", "UPSERT", 100L, 2L)),
      // batch 1: update 2, delete 3, STALE update of 1 (older ts → loses),
      // and an equal-ts pair for doc 4 (first arrival seq=5 wins)
      Seq((2L, "beta updated", "UPSERT", 200L, 3L), (3L, null, "DELETE", 200L, 4L),
        (1L, "alpha stale", "UPSERT", 50L, 6L),
        (4L, "delta first", "UPSERT", 150L, 5L), (4L, "delta second", "UPSERT", 150L, 7L)),
      // batch 2: CDC redelivery of batch 1's effective rows — idempotent
      Seq((2L, "beta updated", "UPSERT", 200L, 8L), (3L, null, "DELETE", 200L, 9L)))
    try {
      batches.zipWithIndex.foreach { case (evs, i) =>
        appendSeg(evs.toDF("doc_id", "text", "op", "ts", "seq"), i.toLong)
      }
      // oracle: one LWW compaction over the concatenated event log — the
      // per-batch-then-cross-segment reconcile must equal it row for row
      val wholeLog = Lww.compactState(
        batches.flatten.toDF("doc_id", "text", "op", "ts", "seq"),
        Seq("doc_id"), "ts", Some("op"), Some("text"), Some("seq"))
      assert(canon(segState()) == canon(wholeLog),
        "segment snapshot must be row-identical to compactState over the whole log")
      // the semantics themselves (spot): stale update lost, delete won,
      // equal-ts first arrival won
      val byId = segState().select(col("doc_id"), col("text"), col(Lww.TombstoneCol))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
      assert(byId(1L) == ("alpha one", false))
      assert(byId(2L) == ("beta updated", false))
      assert(byId(3L)._2 == true)
      assert(byId(4L) == ("delta first", false))

      // compaction with a retention bound beyond the safety window drops
      // the tombstone history but keeps every live row
      IndexMaintenance.compactSnapshotSegments(spark, segPath, Seq("doc_id"),
        seqCol = Some("seq"), dropTombstonesOlderThan = Some(300L))
      assert(IndexMaintenance.ftsSegmentCount(spark, segPath) == 1)
      val compacted = segState()
      assert(compacted.filter(col(Lww.TombstoneCol)).count() == 0L)
      assert(compacted.filter(!col(Lww.TombstoneCol)).count() == 3L)
      // still appendable: doc 3 re-added above the ceiling
      appendSeg(Seq((3L, "gamma back", "UPSERT", 400L, 10L))
        .toDF("doc_id", "text", "op", "ts", "seq"), 3L)
      assert(segState().filter(!col(Lww.TombstoneCol)).count() == 4L)
    } finally FileUtils.deleteDirectory(dir)
  }

  test("incremental dedup stores: shingles + signatures == full rebuild; store-served query correct") {
    // the stores the streaming near-dup probe maintains: one tokenize +
    // MinHash pass per batch feeds both the probe and the segment append
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_inc").toFile
    val shPath = new java.io.File(dir, "shingles").getAbsolutePath
    val sgPath = new java.io.File(dir, "sigs").getAbsolutePath
    val pairsPath = new java.io.File(dir, "pairs").getAbsolutePath
    val probeAndAppend = StreamingDedup.nearDupBatch(
      spark, shPath, sgPath, pairsPath, "doc_id", "text", opCol = Some("op"))
    try {
      probeAndAppend(Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank", "UPSERT"),
        (2L, "completely different content about spark query engines and scale", "UPSERT"),
        (3L, "the quick brown fox jumps over the lazy dog near the river bend", "UPSERT"))
        .toDF("doc_id", "text", "op"), 0L)
      // update doc 2 to a near-dup of 1, delete doc 3
      probeAndAppend(Seq(
        (2L, "the quick brown fox jumps over the lazy dog near the river bank", "UPSERT"),
        (3L, null.asInstanceOf[String], "DELETE")).toDF("doc_id", "text", "op"), 1L)

      val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      val live = Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text")
      val shRebuilt = Dedup.shingles(live, "doc_id", "text", 5)
      assert(sh.collect().map(_.toSeq).toSet == shRebuilt.collect().map(_.toSeq).toSet,
        "maintained shingle store must equal a from-scratch rebuild of the live docs")
      val sigsRebuilt = Dedup.minhashSignaturesFromShingles(shRebuilt, "doc_id", 16)
      assert(sigs.collect().map(_.toSeq).toSet == sigsRebuilt.collect().map(_.toSeq).toSet,
        "maintained signature store must equal a from-scratch rebuild")

      // and the store-served near-dup query sees the post-update truth:
      // docs 1 and 2 are now exact dups; deleted doc 3 is gone
      val nd = Dedup.minhashNearDupsFromStores(sh, sigs, "doc_id",
          bands = 4, threshold = 0.9, maxShingleDf = None)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(nd == Set((1L, 2L)))
      // the probe saw the pair emerge in the epoch of the update
      val logged = spark.read.parquet(pairsPath)
        .select("epoch", "id_a", "id_b").as[(Long, Long, Long)].collect().toSet
      assert(logged.contains((1L, 1L, 2L)), logged)
    } finally FileUtils.deleteDirectory(dir)
  }

  test("segment-append dedup stores: O(batch) commits, == full rebuild, compaction, served query") {
    import graft.operators.Dedup
    import org.apache.commons.io.FileUtils
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_seg").toFile
    val shPath = new java.io.File(dir, "shingles").getAbsolutePath
    val sgPath = new java.io.File(dir, "sigs").getAbsolutePath
    val append = IndexMaintenance.appendDedupSegment(
      spark, shPath, sgPath, "doc_id", "text", opCol = Some("op"))
    def crcs(path: String): Map[String, Long] =
      FileUtils.listFiles(new java.io.File(path), Array("parquet"), true)
        .asScala.map(f => f.getAbsolutePath -> FileUtils.checksumCRC32(f)).toMap
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      append(Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank", "UPSERT"),
        (2L, "completely different content about spark query engines and scale", "UPSERT"),
        (3L, "the quick brown fox jumps over the lazy dog near the river bend", "UPSERT"))
        .toDF("doc_id", "text", "op"), 0L)
      val seg0 = crcs(shPath)

      // update doc 2 to a near-dup of 1, delete doc 3 — earlier segment
      // byte-untouched (the O(batch) property)
      append(Seq(
        (2L, "the quick brown fox jumps over the lazy dog near the river bank", "UPSERT"),
        (3L, null.asInstanceOf[String], "DELETE")).toDF("doc_id", "text", "op"), 1L)
      val after = crcs(shPath)
      assert(seg0.forall { case (f, c) => after.get(f).contains(c) },
        "append-only commit rewrote an earlier segment")
      assert(IndexMaintenance.ftsSegmentCount(spark, sgPath) == 2)

      val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      val live = Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text")
      val shRebuilt = Dedup.shingles(live, "doc_id", "text", 5)
      assert(rows(sh) == rows(shRebuilt),
        "reconciled shingle view must equal a from-scratch rebuild of the live docs")
      val sigsRebuilt = Dedup.minhashSignaturesFromShingles(shRebuilt, "doc_id", 16)
      assert(rows(sigs) == rows(sigsRebuilt),
        "reconciled signature view must equal a from-scratch rebuild")

      // store-served near-dup query through the segment view
      val nd = Dedup.minhashNearDupsFromStores(sh, sigs, "doc_id",
          bands = 4, threshold = 0.9, maxShingleDf = None)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(nd == Set((1L, 2L)))

      // compaction folds to one segment, view unchanged, store still appendable
      IndexMaintenance.compactDedupSegments(spark, shPath, sgPath, "doc_id")
      assert(IndexMaintenance.ftsSegmentCount(spark, sgPath) == 1)
      val (sh2, sigs2) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      assert(rows(sh2) == rows(shRebuilt) && rows(sigs2) == rows(sigsRebuilt))
      append(Seq((3L, "the quick brown fox jumps over the lazy dog near the river bend", "UPSERT"))
        .toDF("doc_id", "text", "op"), 2L)
      val (sh3, _) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      assert(sh3.filter(col("doc_id") === 3L).count() > 0,
        "re-added doc must be live after a post-compaction append")
    } finally FileUtils.deleteDirectory(dir)
  }

  test("compaction policy: segment count sawtooths under the threshold, view stays exact") {
    // the VERDICT r9 #4 cadence rule: withCompaction folds once the live
    // segment count exceeds maxSegments, so the read-side reconcile input
    // is bounded by a constant regardless of how many batches ever ran
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_fts_policy").toFile
    val pPath = new java.io.File(dir, "postings").getAbsolutePath
    val lPath = new java.io.File(dir, "doclens").getAbsolutePath
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val append = IndexMaintenance.withCompaction(
      spark, lPath, IndexMaintenance.CompactionPolicy(maxSegments = 4),
      () => IndexMaintenance.compactFtsSegments(spark, pPath, lPath, "doc_id"),
      onCount = counts += _)(
      IndexMaintenance.appendFtsSegment(
        spark, pPath, lPath, "doc_id", "text", opCol = Some("op")))
    try {
      // 12 batches: upserts, one delete, one doc rewritten across batches
      val live = scala.collection.mutable.Map.empty[Long, String]
      for (b <- 0 until 12) {
        val id = b.toLong
        val tx = s"batch $b body term$b shared corpus words"
        val rows = if (b == 7)
          Seq((3L, null.asInstanceOf[String], "DELETE")) // delete doc 3
        else if (b == 9)
          Seq((2L, s"rewritten two term$b", "UPSERT"), (id, tx, "UPSERT"))
        else Seq((id, tx, "UPSERT"))
        rows.foreach {
          case (i, null, _) => live.remove(i)
          case (i, t, _) => live(i) = t
        }
        append(rows.toDF("doc_id", "text", "op"), b.toLong)
      }
      // sawtooth: the count after every commit+policy step never exceeds
      // maxSegments + 1 pre-fold, and at least one fold happened (count
      // drops back to 1)
      assert(counts.max <= 5, counts.mkString(","))
      assert(counts.contains(1), s"no fold ever ran: ${counts.mkString(",")}")
      assert(IndexMaintenance.ftsSegmentCount(spark, lPath) <= 5)
      // the reconciled view equals a from-scratch rebuild of the live docs
      val idx = IndexMaintenance.readFtsSegmentIndex(spark, pPath, lPath, "doc_id")
      val rebuilt = Bm25.buildPositionalIndex(
        live.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("term"), col("tf").cast("long"))
        .collect().map(_.toSeq).toSet
      assert(rows(idx.postings) == rows(rebuilt.postings))
      assert(!idx.docLens.select("doc_id").as[Long].collect().contains(3L),
        "deleted doc resurfaced across a fold")
    } finally FileUtils.deleteDirectory(dir)
  }

  test("compaction policy on a CELL store: vector segments sawtooth, probes stay exact") {
    // the combinator is kind-independent — prove it on a second layout
    // (nested _seg/_bucket vector store) with deletes crossing folds
    import graft.operators.ApproxAnn
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_vs_policy").toFile
    val iPath = new java.io.File(dir, "lsh").getAbsolutePath
    val dims = 8
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val append = IndexMaintenance.withCompaction(
      spark, iPath, IndexMaintenance.CompactionPolicy(maxSegments = 3),
      () => IndexMaintenance.compactVsSegments(spark, iPath, "vec_id"),
      onCount = counts += _)(
      IndexMaintenance.appendVsSegment(
        spark, iPath, "vec_id", "embedding", opCol = Some("op"),
        dims = dims, nbits = 4))
    def vec(seed: Long): Seq[Float] =
      Array.tabulate(dims)(d => math.sin(seed * 1.7 + d).toFloat).toSeq
    try {
      val live = scala.collection.mutable.Map.empty[Long, Seq[Float]]
      for (b <- 0 until 10) {
        val id = b.toLong
        val rows = if (b == 6)
          Seq((2L, null.asInstanceOf[Seq[Float]], "DELETE"))
        else Seq((id, vec(id), "UPSERT"))
        rows.foreach {
          case (i, null, _) => live.remove(i)
          case (i, v, _) => live(i) = v
        }
        append(rows.toDF("vec_id", "embedding", "op"), b.toLong)
      }
      assert(counts.max <= 4, counts.mkString(","))
      assert(counts.contains(1), s"no fold ever ran: ${counts.mkString(",")}")
      val got = IndexMaintenance.readVsSegmentIndex(spark, iPath, "vec_id")
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
      assert(got == live.toMap, "reconciled view diverged from the live set across folds")
      assert(!got.contains(2L), "deleted vector resurfaced across a fold")
      // bucket pruning still works post-fold: every surviving row carries
      // its recomputed _bucket partition value
      val buckets = IndexMaintenance.readVsSegmentIndex(spark, iPath, "vec_id")
        .select("_bucket").as[Long].collect()
      assert(buckets.forall(b => b >= 0 && b < 16))
    } finally FileUtils.deleteDirectory(dir)
  }

  test("segment writers: a replayed batch adds no second copy, before or after a fold at its ceiling") {
    // foreachBatch delivers at least once: the last batch re-runs after a
    // crash before its checkpoint commit. A second copy of its rows in its
    // segment would be kept by the reconcile (duplicate live rows, a
    // duplicated doc in every join over the view).
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_seg_replay").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val dims = 8
    def vec(seed: Long, sign: Float = 1f): Seq[Float] =
      Array.tabulate(dims)(d => sign * math.sin(seed * 1.7 + d).toFloat).toSeq
    val b0 = Seq((1L, vec(1), "UPSERT"), (2L, vec(2), "UPSERT"), (3L, vec(3), "UPSERT"))
      .toDF("vec_id", "embedding", "op")
    // v2 moves bucket (every projection sign flips), v3 is deleted
    val b1 = Seq((2L, vec(2, -1f), "UPSERT"), (3L, null.asInstanceOf[Seq[Float]], "DELETE"))
      .toDF("vec_id", "embedding", "op")
    def rawRows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    def vsView(path: String): Seq[(Long, Seq[Float], Long)] =
      IndexMaintenance.readVsSegmentIndex(spark, path, "vec_id")
        .select(col("vec_id"), col("embedding"), col("_bucket"))
        .as[(Long, Seq[Float], Long)].collect().toSeq.sortBy(_._1)
    val want = Seq(1L -> vec(1), 2L -> vec(2, -1f))
    try {
      // cell store, no fold: replay of a complete, then of a PARTIAL commit
      val vs = p("vs")
      val appendVs = IndexMaintenance.appendVsSegment(
        spark, vs, "vec_id", "embedding", opCol = Some("op"), dims = dims, nbits = 8)
      appendVs(b0, 0L); appendVs(b1, 1L)
      val raw = rawRows(vs)
      val view = vsView(vs)
      assert(view.map(r => r._1 -> r._2) == want)
      appendVs(b1, 1L)
      assert(rawRows(vs) == raw, "a replay must not add a second copy to its segment")
      assert(vsView(vs) == view)
      // an earlier attempt that died after writing only v2's cell
      FileUtils.deleteDirectory(new java.io.File(s"$vs/_seg=1/_bucket=-1"))
      appendVs(b1, 1L)
      assert(rawRows(vs) == raw, "a replay must complete a partial commit")

      // cell store folded INTO the replayed batch's segment: the replay
      // must keep the folded history (v1 lives only in _seg=1 now)
      val vsF = p("vs_fold")
      val appendVsF = IndexMaintenance.withCompaction(
        spark, vsF, IndexMaintenance.CompactionPolicy(maxSegments = 1),
        () => IndexMaintenance.compactVsSegments(spark, vsF, "vec_id"))(
        IndexMaintenance.appendVsSegment(
          spark, vsF, "vec_id", "embedding", opCol = Some("op"), dims = dims, nbits = 8))
      appendVsF(b0, 0L); appendVsF(b1, 1L)
      assert(IndexMaintenance.ftsSegmentCount(spark, vsF) == 1)
      appendVsF(b1, 1L)
      assert(vsView(vsF) == view, "a replay after a fold lost or doubled rows")
      assert(spark.read.parquet(vsF).filter(col("vec_id") === 1L).count() == 1)

      // values + claims pair store (FTS), folded into the replayed segment
      val (post, lens) = (p("post"), p("lens"))
      val appendFts = IndexMaintenance.withCompaction(
        spark, lens, IndexMaintenance.CompactionPolicy(maxSegments = 1),
        () => IndexMaintenance.compactFtsSegments(spark, post, lens, "doc_id"))(
        IndexMaintenance.appendFtsSegment(
          spark, post, lens, "doc_id", "text", opCol = Some("op")))
      val t0 = Seq((1L, "alpha beta", "UPSERT"), (2L, "beta gamma", "UPSERT"))
        .toDF("doc_id", "text", "op")
      val t1 = Seq((2L, "gamma delta delta", "UPSERT"), (3L, "beta", "UPSERT"))
        .toDF("doc_id", "text", "op")
      def ftsView(): (Seq[String], Seq[String]) = {
        val idx = IndexMaintenance.readFtsSegmentIndex(spark, post, lens, "doc_id")
        (idx.postings.select("doc_id", "term", "tf").collect().map(_.toString).toSeq.sorted,
          idx.docLens.select("doc_id", "dl").collect().map(_.toString).toSeq.sorted)
      }
      appendFts(t0, 0L); appendFts(t1, 1L)
      val fts = ftsView()
      assert(fts._2 == Seq("[1,2]", "[2,3]", "[3,1]"))
      appendFts(t1, 1L)
      assert(ftsView() == fts, "a replay after a fold lost or doubled postings")
      assert(spark.read.parquet(post).filter(col("term") === "delta").count() == 1)
    } finally FileUtils.deleteDirectory(dir)
  }

  test("segment dedup store: an upsert with zero shingles still claims its doc") {
    // ADVICE r9 regression: Dedup.shingles emits nothing for a doc with
    // fewer than shingleN tokens, so a shingle-less UPSERT used to write no
    // claim row — the doc's older claim kept winning and the read served
    // the STALE shingles/signature. Every batch id must claim, whatever the
    // fresh side holds.
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_seg_claim").toFile
    val shPath = new java.io.File(dir, "shingles").getAbsolutePath
    val sgPath = new java.io.File(dir, "sigs").getAbsolutePath
    val append = IndexMaintenance.appendDedupSegment(
      spark, shPath, sgPath, "doc_id", "text", opCol = Some("op"))
    try {
      append(Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank", "UPSERT"))
        .toDF("doc_id", "text", "op"), 0L)
      // new text tokenizes to 2 tokens < shingleN=5 ⇒ zero shingles
      append(Seq((1L, "too short", "UPSERT")).toDF("doc_id", "text", "op"), 1L)
      val (sh, sigs) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      assert(sh.filter(col("doc_id") === 1L).count() == 0,
        "stale shingles of the pre-update text survived a shingle-less upsert")
      assert(sigs.filter(col("doc_id") === 1L).count() == 0,
        "stale signature survived a shingle-less upsert")
      // and compaction of a store whose only history is that claim works
      IndexMaintenance.compactDedupSegments(spark, shPath, sgPath, "doc_id")
      val (sh2, _) = IndexMaintenance.readDedupSegmentIndex(
        spark, shPath, sgPath, "doc_id")
      assert(sh2.count() == 0)
    } finally FileUtils.deleteDirectory(dir)
  }
}
