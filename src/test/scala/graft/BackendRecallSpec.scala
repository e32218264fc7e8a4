package graft

import graft.functions.VectorFunctions.Euclidean
import graft.functions.Quantization
import graft.operators.{Ann, ApproxAnn, Restriction}
import graft.operators.Ann.AnnRequest
import org.apache.spark.sql.functions._

/** Recall certification for the IVF and i8-rescoring search paths
  * ([[graft.operators.ApproxAnn.searchIvfAdaptive]],
  * [[graft.operators.ApproxAnn.searchRescoredIndexed]]) over the SAME
  * selectivity-bucket grid as [[LshRecallSpec]] pins for the LSH serving
  * path — every approximate path carries the same empirical recall pin, so
  * none can silently trade recall for speed.
  *
  * Methodology: the reference's benchmark builds filter buckets at
  * [50,20,10,5,2,1,0.5,0.2]% selectivity and measures recall@k in each
  * (`crates/benchmark/src/main.rs:45-49,188-190`); the rescoring e2e
  * mirrors `validator/src/quantization_and_rescoring.rs:91-347` — stage 1
  * oversamples 5.0 × LIMIT on the quantized ranking, stage 2's exact
  * rescore must repair whatever ordering damage i8 quantization did.
  */
class BackendRecallSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("embeddings")).cache()
  private lazy val qv: Seq[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)

  /** The LshRecallSpec grid: 50% … 0.2% of the 500-row fixture. */
  private val buckets: Seq[(Double, Restriction)] = Seq(
    50.0 -> Restriction.Lt("vec_id", 250L),
    20.0 -> Restriction.Lt("vec_id", 100L),
    10.0 -> Restriction.Lt("vec_id", 50L),
    5.0 -> Restriction.Lt("vec_id", 25L),
    2.0 -> Restriction.Lt("vec_id", 10L),
    1.0 -> Restriction.Lt("vec_id", 5L),
    0.4 -> Restriction.Lt("vec_id", 2L),
    0.2 -> Restriction.Lt("vec_id", 1L))

  private def req(r: Restriction, limit: Int = 10): AnnRequest =
    AnnRequest(qv, limit = limit, restrictions = Seq(r), allowFiltering = true)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").as[Long].collect().toSeq

  private def recallGrid(name: String,
      approx: AnnRequest => org.apache.spark.sql.DataFrame): Unit = {
    val rows = buckets.map { case (pct, r) =>
      val exact = ids(Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean, req(r)))
      val got = ids(approx(req(r))).toSet
      val recall =
        if (exact.isEmpty) 1.0 else exact.count(got.contains).toDouble / exact.size
      (pct, exact.size, recall)
    }
    info(f"[$name] ${"sel%"}%8s ${"k_exact"}%8s ${"recall@10"}%10s")
    rows.foreach { case (pct, n, rec) => info(f"$pct%8.1f $n%8d $rec%10.2f") }
    rows.foreach { case (pct, _, rec) =>
      assert(rec >= 0.9, f"[$name] recall@10 $rec%.2f below 0.9 in $pct%.1f%% bucket")
    }
  }

  test("IVF backend holds recall@10 >= 0.9 in every selectivity bucket") {
    val (assigned, centroids) = ApproxAnn.buildIvfIndex(emb, "embedding", k = 8)
    val pinned = assigned.cache()
    recallGrid("ivf", r => ApproxAnn.searchIvfAdaptive(
      pinned, emb, "embedding", Seq("vec_id"), Euclidean, r, centroids))
  }

  test("i8-rescoring backend holds recall@10 >= 0.9 in every selectivity bucket") {
    val quantized = ApproxAnn.quantizedProjection(
      emb, "embedding", Seq("vec_id"), Seq()).cache()
    recallGrid("i8-rescore", r => ApproxAnn.searchRescoredIndexed(
      quantized, emb, "embedding", Seq("vec_id"), Euclidean, r, oversample = 5.0))
  }

  test("rescoring corrects the quantized ranking (oversample 5.0 x LIMIT, validator e2e)") {
    // stage-1-only ranking: distances on the DEQUANTIZED i8 vectors — the
    // view the reference's quantized index serves before rescoring
    val k = 20
    val request = AnnRequest(qv, limit = k)
    val stage1Only = emb.filter(col("embedding").isNotNull)
      .withColumn("_vq", Quantization.i8Dequant(Quantization.i8(col("embedding"))))
    val quantRank = ids(Ann.plan(stage1Only, "_vq", Seq("vec_id"), Euclidean, request))
    val exact = ids(Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean, request))
    // i8 quantization must actually damage the ordering here, or the test
    // pins nothing (the fixture's random floats guarantee collisions)
    assert(quantRank != exact,
      "fixture too easy: quantized ranking already equals exact")
    // the two-stage path repairs it: exact top-k, exact order
    val rescored = ids(ApproxAnn.searchRescored(
      emb, "embedding", Seq("vec_id"), Euclidean, request, oversample = 5.0))
    assert(rescored == exact,
      s"rescoring failed to repair quantized ranking: $rescored vs $exact")
  }
}
