package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ApproxAnn
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.Euclidean

/** Measured recall for the bulk LSH kNN-join scale path, on BOTH recall
  * regimes the theory distinguishes:
  *
  * 1. **Planted near-duplicates (the gap-bearing task).** LSH's sublinear
  *    guarantee is conditional on a near/far distance gap; dedup and
  *    hard-negative mining queries have one by construction (a near-dup IS
  *    much closer than a random point). We plant P perturbed twins
  *    (cosine ≈ 0.99 to their source) into the corpus and measure the
  *    fraction of planted queries whose twin appears in the joined top-k.
  *    This is the recall the dedup/join scale path actually serves, and it
  *    must hold across decades at the auto-tuned code length.
  *
  * 2. **Structureless top-k (the adversarial floor).** GenScale embeddings
  *    are decorrelated by design, so a sampled query's exact top-k is
  *    barely closer than random points — no gap, and ANY sublinear method's
  *    recall degenerates to its candidate-coverage fraction (the classic
  *    LSH limitation, not a defect of this implementation). We measure it
  *    anyway, with the probe-radius escalation ladder, because it bounds
  *    the worst case and demonstrates the documented radius↔code-length
  *    trade (PERF.md round 9): at FIXED radius a longer code reaches a
  *    smaller Hamming ball, so recall drifts down; raising the radius
  *    restores it at measured cost.
  *
  * Exact ground truth per corpus comes from a broadcast cross join of the
  * deterministic query sample (Q·n distances, bounded by the sample).
  *
  * The reference grades its ANN quality exactly this way — recall@k of the
  * served top-k against exhaustive search (benchmark/src/main.rs:608-634);
  * this artifact extends that bar across scale decades for the JOIN form.
  *
  * Usage: RecallScale <outFile> <dir> [dir2 ...]
  * Env: SPARK_GRAFT_CPUS (default 24), SPARK_GRAFT_RECALL_QUERIES
  *      (default 200), SPARK_GRAFT_RECALL_K (default 10).
  */
object RecallScale {
  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val dirs = args.drop(1).toSeq
    require(dirs.nonEmpty, "usage: RecallScale <outFile> <dir> [dir2 ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "24")
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_RECALL_QUERIES", "200").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "10").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

    /** query_id -> top-k vec_id set, from a (query_id, vec_id, rank) frame. */
    def topkSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"), col("vec_id").cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    def meanRecall(exact: Map[Long, Set[Long]],
                   approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, ids) =>
        approx.getOrElse(q, Set.empty).count(ids).toDouble / ids.size
      }
      if (per.isEmpty) 0.0 else per.sum / per.size
    }

    val perCorpus = dirs.map { dir =>
      val emb = Tables.load(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val n = emb.count()
      // deterministic modular sample — no collect, usable as a pushed filter
      val step = math.max(1L, n / nQueries)
      val qFilter = pmod(col("vec_id"), lit(step)) === 0

      // exact ground truth: broadcast the Q sampled query vectors against
      // the full corpus; Q·n distances, window top-k with the same
      // (distance, vec_id) tiebreak every serving path uses
      val queries = emb.filter(qFilter)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist").asc, col("vec_id").asc)
      val exact = topkSets(
        broadcast(queries).join(emb, col("query_id") =!= col("vec_id"))
          .withColumn("dist", VectorFunctions.l2sq(col("qvec"), col("embedding")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k))

      val autoBits = ApproxAnn.autoNbits(n)
      def approxAt(nbits: Int, radius: Int, tables: Int = 1): Double =
        meanRecall(exact,
          topkSets(ApproxAnn.knnJoinLshFixed(emb, "embedding", "vec_id", Euclidean,
            k = k, nbits = nbits, radius = radius, queryFilter = qFilter,
            tables = tables)))

      // IVF-routed join (the structureless middle path — VERDICT r9 #6):
      // centroid routing concentrates true neighbors by construction, so
      // nprobe lifts the floor where the LSH radius dial saturates. One
      // training job per corpus (k ≈ √n, seeded), shared by the variants.
      val kCells = ApproxAnn.sqrtCells(n)
      val trained = ApproxAnn.trainIvfCentroids(emb, "embedding", kCells, 42L)
      // clamp to the TRAINED count, not kCells: k-means can return fewer
      // than k centers on tiny/degenerate smoke corpora (ADVICE r10)
      def ivfAt(nprobe: Int): Double =
        meanRecall(exact,
          topkSets(ApproxAnn.knnJoinIvfPinned(emb, "embedding", "vec_id",
            Euclidean, k = k, trained, math.min(nprobe, trained.size),
            queryFilter = qFilter)))

      val variants = Seq(
        "fixed8_r2" -> approxAt(8, 2),
        s"auto${autoBits}_r2" -> approxAt(autoBits, 2),
        s"auto${autoBits}_r3" -> approxAt(autoBits, 3),
        s"auto${autoBits}_r4" -> approxAt(autoBits, 4),
        // the OR-amplification dial: L independent tables at the base
        // radius — candidate cost ≈ tables×, floor ≈ 1-(1-p)^L
        s"auto${autoBits}_r2_t4" -> approxAt(autoBits, 2, tables = 4),
        // IVF candidates per query ≈ nprobe·n/√n = nprobe·√n — comparable
        // to the LSH ball at auto occupancy — with a geometry-driven floor
        s"ivf${kCells}_np2" -> ivfAt(2),
        s"ivf${kCells}_np4" -> ivfAt(4),
        s"ivf${kCells}_np8" -> ivfAt(8))

      // ---- planted near-duplicate recall (the gap-bearing task) --------
      // Perturb P sampled vectors by seeded Gaussian noise at amplitude
      // eps=0.14 of the vector norm (cosine to source ≈ 1/sqrt(1+eps²) ≈
      // 0.990 — the dedup_embedding threshold band), give the twins fresh
      // ids past max(vec_id), union them into the store, and ask the join
      // for each twin's top-k. Recall = fraction of twins whose SOURCE id
      // is joined back. Driver-side perturbation is P×dims floats.
      val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
      val planted = emb.filter(qFilter)
        .select(col("vec_id"), col("embedding")).collect().zipWithIndex
        .map { case (r, i) =>
          val src = r.getLong(0)
          val v = r.getSeq[Float](1).toArray
          val rnd = new scala.util.Random(src * 2654435761L + 17)
          val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
          val eps = 0.14 * norm / math.sqrt(v.length.toDouble)
          (maxId + 1 + i.toLong,
            v.map(x => (x + eps * rnd.nextGaussian()).toFloat).toSeq, src)
        }.toSeq
      val plantedDf = planted.map { case (id, vec, _) => (id, vec) }
        .toDF("vec_id", "embedding")
      val store = emb.union(plantedDf)
      val twinOf = planted.map { case (id, _, src) => id -> src }.toMap
      def plantedAt(nbits: Int, radius: Int): Double = {
        val got = topkSets(ApproxAnn.knnJoinLshFixed(store, "embedding", "vec_id",
          Euclidean, k = k, nbits = nbits, radius = radius,
          queryFilter = col("vec_id") > maxId))
        twinOf.count { case (id, src) =>
          got.getOrElse(id, Set.empty).contains(src)
        }.toDouble / twinOf.size
      }
      val plantedVariants = Seq(
        "fixed8_r2" -> plantedAt(8, 2),
        s"auto${autoBits}_r2" -> plantedAt(autoBits, 2),
        s"auto${autoBits}_r3" -> plantedAt(autoBits, 3))

      System.err.println(s"[recall] $dir n=$n auto_nbits=$autoBits floor: " +
        variants.map { case (v, r) => s"$v=${fmt(r)}" }.mkString(" ") +
        " planted: " +
        plantedVariants.map { case (v, r) => s"$v=${fmt(r)}" }.mkString(" "))
      s""""${new java.io.File(dir).getName}":{"n":$n,""" +
        s""""queries":${exact.size},"auto_nbits":$autoBits,""" +
        plantedVariants.map { case (v, r) => s""""$v":${fmt(r)}""" }
          .mkString(s""""planted_pairs":${twinOf.size},"planted_recall":{""",
            ",", "},") +
        variants.map { case (v, r) => s""""$v":${fmt(r)}""" }
          .mkString(""""structureless_floor":{""", ",", "}}")
    }.mkString(",")

    val json = s"""{"metric":"lsh_join_recall_at_k","k":$k,""" +
      s""""space":"euclidean","per_corpus":{$perCorpus}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
