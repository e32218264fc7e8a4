package graft

import graft.operators.{ApproxAnn, Bm25, Dedup}
import graft.streaming.IndexMaintenance
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The compaction-policy cadence pinned PER STORE KIND (VERDICT r10 #3):
  * `withCompaction` is kind-agnostic code, but the r10 empty-fold ceiling
  * bug proved kind-generic code still has kind-specific failure modes —
  * so every segment kind (FTS, MinHash dedup, LSH vector, LWW snapshot)
  * runs the same script here: append batches past the threshold (upserts
  * + a delete + a rewrite crossing fold boundaries), watch the segment
  * count sawtooth, and require the reconciled view to equal a
  * from-scratch rebuild of the live rows AFTER folds ran mid-stream, plus
  * one post-fold append.
  *
  * Three kinds share the (id, vector, text, op) batch script; the LWW
  * snapshot store has its own (writetime/seq) script below. */
class CompactionPolicyMatrixSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 4
  private def vecOf(seed: Long): Seq[Float] =
    Array.tabulate(dims)(d => math.sin(seed * 1.7 + d).toFloat).toSeq
  private def textOf(b: Long): String =
    s"alpha bravo charlie delta echo tok$b tail words"

  /** Sorted-column canonical row set — one comparer for every kind. */
  private def canon(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  /** name, builder(dir) -> (append(batch: vec_id,embedding,text,op),
    * claimsPath, compact, got, want(live: vec_id,embedding,text)). */
  private type Built = ((DataFrame, Long) => Unit, String, () => Unit,
    () => Set[Seq[Any]], DataFrame => Set[Seq[Any]])
  private def kindCases: Seq[(String, java.io.File => Built)] = Seq(
    "fts" -> { dir =>
      val pp = path(dir, "postings"); val lp = path(dir, "doclens")
      val ap = IndexMaintenance.appendFtsSegment(
        spark, pp, lp, "doc_id", "text", Some("op"))
      ((b, i) => ap(b.select(col("vec_id").as("doc_id"), col("text"), col("op")), i),
        lp,
        () => IndexMaintenance.compactFtsSegments(spark, pp, lp, "doc_id"),
        () => {
          val idx = IndexMaintenance.readFtsSegmentIndex(spark, pp, lp, "doc_id")
          canon(idx.postings) ++ canon(idx.docLens).map("dl" +: _)
        },
        live => {
          val r = Bm25.buildPositionalIndex(
            live.select(col("vec_id").as("doc_id"), col("text")), "doc_id", "text")
          canon(r.postings) ++ canon(r.docLens).map("dl" +: _)
        })
    },
    "dedup" -> { dir =>
      val shp = path(dir, "shingles"); val sgp = path(dir, "sigs")
      val ap = IndexMaintenance.appendDedupSegment(
        spark, shp, sgp, "doc_id", "text", Some("op"))
      ((b, i) => ap(b.select(col("vec_id").as("doc_id"), col("text"), col("op")), i),
        sgp,
        () => IndexMaintenance.compactDedupSegments(spark, shp, sgp, "doc_id"),
        () => {
          val (sh, sg) = IndexMaintenance.readDedupSegmentIndex(spark, shp, sgp, "doc_id")
          canon(sh).map("sh" +: _) ++ canon(sg)
        },
        live => {
          val docs = live.select(col("vec_id").as("doc_id"), col("text"))
          val sh = Dedup.shingles(docs, "doc_id", "text", 5)
          canon(sh).map("sh" +: _) ++
            canon(Dedup.minhashSignaturesFromShingles(sh, "doc_id", 16))
        })
    },
    "vs" -> { dir =>
      val ip = path(dir, "vs")
      val ap = IndexMaintenance.appendVsSegment(
        spark, ip, "vec_id", "embedding", Some("op"), dims = dims, nbits = 4)
      ((b, i) => ap(b.select(col("vec_id"), col("embedding"), col("op")), i),
        ip,
        () => IndexMaintenance.compactVsSegments(spark, ip, "vec_id"),
        () => canon(IndexMaintenance.readVsSegmentIndex(spark, ip, "vec_id")),
        live => {
          val planes = ApproxAnn.hyperplanes(4, dims)
          canon(live.select(col("vec_id"), col("embedding"),
            ApproxAnn.lshBucket(col("embedding"), planes).as("_bucket")))
        })
    })

  private def path(dir: java.io.File, n: String) =
    new java.io.File(dir, n).getAbsolutePath

  for ((name, build) <- kindCases)
    test(s"compaction policy cadence on the $name segment store") {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_policy_$name").toFile
      try {
        val (append0, claimsPath, compact, got, want) = build(dir)
        val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
        val append = IndexMaintenance.withCompaction(
          spark, claimsPath, IndexMaintenance.CompactionPolicy(maxSegments = 3),
          compact, counts += _)(append0)
        val live = scala.collection.mutable.Map.empty[Long, (Seq[Float], String)]
        for (b <- 0 until 10) {
          val rows: Seq[(Long, Seq[Float], String, String)] =
            if (b == 5) Seq((2L, null, null, "DELETE"))
            else if (b == 7) Seq((1L, vecOf(101), textOf(101), "UPSERT"))
            else Seq((b.toLong, vecOf(b), textOf(b), "UPSERT"))
          rows.foreach {
            case (i, _, _, "DELETE") => live.remove(i)
            case (i, v, t, _) => live(i) = (v, t)
          }
          append(rows.toDF("vec_id", "embedding", "text", "op"), b.toLong)
        }
        assert(counts.max <= 4,
          s"$name: segment count broke the threshold+1 bound: ${counts.mkString(",")}")
        assert(counts.contains(1), s"$name: no fold ever ran: ${counts.mkString(",")}")
        def liveDf = live.toSeq.map { case (i, (v, t)) => (i, v, t) }
          .toDF("vec_id", "embedding", "text")
        assert(got() == want(liveDf),
          s"$name: reconciled view diverged from a fresh rebuild after folds")
        // the folded store must still accept appends above its ceiling
        append(Seq((55L, vecOf(55), textOf(55), "UPSERT"))
          .toDF("vec_id", "embedding", "text", "op"), 10L)
        live(55L) = (vecOf(55), textOf(55))
        assert(got() == want(liveDf),
          s"$name: post-fold append diverged from the rebuild")
      } finally FileUtils.deleteDirectory(dir)
    }

  test("compaction policy cadence on the LWW snapshot segment store") {
    import graft.operators.Lww
    val dir = java.nio.file.Files.createTempDirectory("graft_policy_lww").toFile
    val sp = path(dir, "state")
    try {
      val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
      val append = IndexMaintenance.withCompaction(
        spark, sp, IndexMaintenance.CompactionPolicy(maxSegments = 3),
        () => IndexMaintenance.compactSnapshotSegments(
          spark, sp, Seq("doc_id"), Some("seq")),
        counts += _)(
        IndexMaintenance.appendSnapshotSegment(
          spark, sp, Seq("doc_id"), "ts", Some("op"), Some("text"), Some("seq")))
      for (b <- 0 until 10) {
        val rows: Seq[(Long, String, String, Long, Long)] =
          if (b == 5) Seq((2L, null, "DELETE", 200L, b.toLong))
          else if (b == 7) Seq((1L, "rewritten one", "UPSERT", 300L, b.toLong))
          else if (b == 8) Seq((3L, "stale three", "UPSERT", 50L, b.toLong))
          else Seq((b.toLong, s"text $b", "UPSERT", 100L + b, b.toLong))
        append(rows.toDF("doc_id", "text", "op", "ts", "seq"), b.toLong)
      }
      assert(counts.max <= 4, counts.mkString(","))
      assert(counts.contains(1), s"no fold ever ran: ${counts.mkString(",")}")
      val got = IndexMaintenance.readSnapshotSegments(
          spark, sp, Seq("doc_id"), Some("seq"))
        .select(col("doc_id"), col("text"), col(Lww.TombstoneCol), col(Lww.TsCol))
        .as[(Long, String, Boolean, Long)].collect().toSet
      // winners across folds: doc 1 rewritten at ts 300, doc 2 a live
      // tombstone (no retention bound passed), doc 3's stale ts-50 update
      // LOSES to its original ts-103 row even though it arrived later
      val want = Set(
        (0L, "text 0", false, 100L), (1L, "rewritten one", false, 300L),
        (2L, null.asInstanceOf[String], true, 200L), (3L, "text 3", false, 103L),
        (4L, "text 4", false, 104L), (6L, "text 6", false, 106L),
        (9L, "text 9", false, 109L))
      assert(got == want, s"got $got")
    } finally FileUtils.deleteDirectory(dir)
  }
}
