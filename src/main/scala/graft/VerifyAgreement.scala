package graft

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.Euclidean
import graft.operators.{ApproxAnn, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quantitative gate for the two k-means `_auto` queries whose float
  * TRAINING has no SQL replay (VERDICT r10 #2): `no_oracle` must not mean
  * "row count only". For each, Verify computes the EXACT answer in Spark
  * on the fixture and records an agreement/recall score with a floor —
  * the same posture BackendRecallSpec applies to serving backends.
  *
  * Three instruments, each pinned to what it can honestly promise:
  *  - `ivf_agreement_vs_pinned` (floor 1.0): the dumped auto join must
  *    EQUAL [[ApproxAnn.knnJoinIvfPinned]] over the same trained
  *    centroids — training is seeded-deterministic in-session, so this
  *    replays the dump end to end.
  *  - `ivf_recall_vs_exact` (floor 0.3): top-k overlap against a
  *    brute-force exact kNN (independent window-over-cross-join
  *    implementation). The fixtures' vectors are DECORRELATED, the
  *    coverage-bound regime RECALL_scale documents (structureless top-k
  *    floor ≈ candidate share; measured 0.44 at sf0.01, nprobe=2) — the
  *    floor certifies the routing isn't broken, NOT a 0.9 promise no
  *    sublinear method can make on this data (planted near-dup recall,
  *    the task metric, is certified at 0.98–1.00 in RECALL_scale.json).
  *  - `semdedup_agreement_vs_exact_incell` (floor 1.0): keep-set equality
  *    against an independent per-cell brute-force replica (Scala pairwise
  *    loops via groupByKey/mapGroups — a different execution path from
  *    the operator's equi-join formulation) over the same trained cells.
  *
  * Exact baselines are O(n²); the gate runs only when the fixture's
  * embedding count is ≤ [[MaxExactN]] (the driver's sf0.01 gate: n=500).
  */
object VerifyAgreement {

  /** Largest corpus the O(n²) exact baselines run against (250k pairs at
    * the driver's sf0.01 fixture; a scale run's 20k+ corpus skips the
    * gate — its correctness evidence is the sf1/sf10 hash gates). */
  val MaxExactN = 5000

  final case class Score(value: Double, floor: Double) {
    def pass: Boolean = value >= floor
  }

  /** Exact kNN pair set via brute force — window over a cross join, an
    * implementation independent of every ApproxAnn code path. */
  private def exactKnnPairs(emb: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val q = base.select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_d").asc, col("vec_id").asc)
    q.join(base, col("query_id") =!= col("vec_id"))
      .withColumn("_d", VectorFunctions.l2sq(col("_qv"), col("embedding")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("vec_id"))
  }

  /** Keep set of the exact in-cell SemDeDup decision, recomputed with
    * driver-style pairwise loops per cell (executor-side, but imperative
    * Scala — NOT the operator's join) over the given centroids. */
  private def exactInCellKeep(
      emb: DataFrame, centroids: Seq[(Int, Seq[Float])], eps: Double): Set[Long] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val best = ApproxAnn.centroidBest("embedding", centroids)
    val assigned = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        best.getField("cid").as("_cell"), best.getField("d").as("_dc"))
      .as[(Long, Seq[Float], Int, Double)]
    assigned.groupByKey(_._3).flatMapGroups { (_, it) =>
      val rows = it.toVector
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      rows.filter { case (id, v, _, dc) =>
        !rows.exists { case (uid, uv, _, udc) =>
          uid != id && cos(uv, v) >= eps &&
            (udc < dc || (udc == dc && uid < id))
        }
      }.map(_._1)
    }.collect().toSet
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toSet
  }

  /** Compute every applicable score for the dumped subset: each dumped
    * [[QuerySpec.AgreementGated]] query's scorer, run against its dumped
    * result. Returns query -> metric -> score; empty when nothing applies
    * (no embeddings table, corpus over [[MaxExactN]], or no gated query
    * dumped). */
  def compute(spark: SparkSession, sfDir: String, outDir: String,
      dumped: Set[String]): Map[String, Map[String, Score]] = {
    val targets = SparkEntry.registry.collect {
      case QuerySpec(name, _, QuerySpec.AgreementGated(scores), _) if dumped(name) =>
        name -> scores
    }
    if (targets.isEmpty) return Map.empty
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.filter(col("embedding").isNotNull).count()
    if (n == 0 || n > MaxExactN) return Map.empty
    targets.map { case (name, scores) =>
      name -> scores(emb, n, spark.read.parquet(s"$outDir/$name"))
    }.toMap
  }

  /** knn_join_ivf_auto's scores: agreement with the pinned join over the
    * same trained centroids (training is seeded-deterministic, so this IS
    * the dump's centroid set), and recall against the exact kNN. */
  def ivfScores(emb: DataFrame, n: Long, dumped: DataFrame): Map[String, Score] = {
    val dumpedPairs = pairSet(dumped)
    val trained = ApproxAnn.trainIvfCentroids(
      emb, "embedding", ApproxAnn.sqrtCells(n), nHint = Some(n))
    val pinned = pairSet(ApproxAnn.knnJoinIvfPinned(
      emb, "embedding", "vec_id", Euclidean, k = 3, trained, nprobe = 2))
    val agree =
      if (dumpedPairs.isEmpty && pinned.isEmpty) 1.0
      else (dumpedPairs & pinned).size.toDouble / (dumpedPairs | pinned).size
    val exact = pairSet(exactKnnPairs(emb, k = 3))
    val recall =
      if (exact.isEmpty) 1.0
      else (dumpedPairs & exact).size.toDouble / exact.size
    Map(
      "ivf_agreement_vs_pinned" -> Score(agree, 1.0),
      "ivf_recall_vs_exact" -> Score(recall, 0.3))
  }

  /** semantic_dedup_auto's score: keep-set agreement with the exact
    * in-cell replica over the same trained cells. */
  def semanticDedupScores(emb: DataFrame, n: Long, dumped: DataFrame): Map[String, Score] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dumpedKeep = dumped.select(col("vec_id")).as[Long].collect().toSet
    val trained = ApproxAnn.trainIvfCentroids(
      emb, "embedding", ApproxAnn.sqrtCells(n), nHint = Some(n))
    val refKeep = exactInCellKeep(emb, trained, eps = 0.4)
    val agree =
      if (dumpedKeep.isEmpty && refKeep.isEmpty) 1.0
      else (dumpedKeep & refKeep).size.toDouble / (dumpedKeep | refKeep).size
    Map("semdedup_agreement_vs_exact_incell" -> Score(agree, 1.0))
  }

  /** Render as the agreement.json the oracle-compare step merges into the
    * correctness artifact (floors recorded next to values — a reader can
    * re-derive pass/fail). */
  def toJson(scores: Map[String, Map[String, Score]]): String =
    scores.toSeq.sortBy(_._1).map { case (q, ms) =>
      val body = ms.toSeq.sortBy(_._1).map { case (m, s) =>
        s""""$m": {"value": ${s.value}, "floor": ${s.floor}, "pass": ${s.pass}}"""
      }.mkString(", ")
      s""""$q": {$body}"""
    }.mkString("{", ", ", "}")
}
