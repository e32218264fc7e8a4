package graft

import graft.api.HttpShell
import graft.functions.VectorFunctions.{Cosine, Euclidean}
import graft.operators.{ApproxAnn, Catalog, Engine}
import org.apache.spark.sql.functions.col

/** Runnable service entry point: `runMain graft.Serve <sfDir> [port]` —
  * a Spark session, an [[graft.operators.Engine]] with the standard indexes
  * over the parquet tables, and [[graft.api.HttpShell]] serving the wire
  * contract until the process is stopped. The Spark analogue of the
  * reference's `main` (vector-store binary: config → engine → http server).
  *
  * Registered indexes (the serving catalog a user of the reference would
  * recognize):
  *  - `vs/emb_euclidean`, `vs/emb_cosine` — ANN over embeddings; BOTH
  *    serve through one shared sign-LSH store materialized at startup
  *    (each ranking in its own space within the probed buckets) — the
  *    approximate default, like the reference's usearch index, with the
  *    coverage-certified exact fallback — unless `SPARK_GRAFT_EXACT=1`
  *  - `fts/doc_text` — BM25 over documents
  *
  * Every index here fits the resident budget at the fixture sizes (sf0.01
  * to sf1; [[graft.operators.Resident.Budget]]), so each is collected into
  * memory by its first request and answered from there: warm ANN and BM25
  * requests start no Spark job, and the LSH store serves through the
  * in-memory replay of its adaptive decision. A corpus over the budget
  * brings no row to the driver and is served by the Spark plans unchanged.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.load(spark, sfDir, "embeddings")
    val docs = Tables.load(spark, sfDir, "documents")
    val dims = emb.filter(col("embedding").isNotNull)
      .select("embedding").limit(1).collect().headOption
      .map(_.getSeq[Float](0).length)
      .getOrElse(sys.error(s"no non-null embeddings under $sfDir — cannot infer index dims"))

    val engine = new Engine
    engine.addIndex(Catalog.IndexMetadata(
      "vs", "emb_euclidean", "embeddings", "embedding",
      primaryKeyColumns = Seq("vec_id"),
      kind = Catalog.Vs(Catalog.IndexOptionsVs(dims, Euclidean))), emb)
    engine.addIndex(Catalog.IndexMetadata(
      "vs", "emb_cosine", "embeddings", "embedding",
      primaryKeyColumns = Seq("vec_id"),
      kind = Catalog.Vs(Catalog.IndexOptionsVs(dims, Cosine))), emb)
    engine.addIndex(Catalog.IndexMetadata(
      "fts", "doc_text", "documents", "text",
      primaryKeyColumns = Seq("doc_id"),
      kind = Catalog.Fts(Catalog.IndexOptionsFts())), docs)

    // approximate serving default for the euclidean index: a bucketed LSH
    // store materialized once at startup (partition-pruned probes), the
    // adaptive policy falling back to the exact scan when coverage is thin
    if (!sys.env.get("SPARK_GRAFT_EXACT").contains("1")) {
      // plane count auto-tuned from the corpus size (occupancy-constant —
      // a fixed nbits under-buckets a grown corpus; VERDICT r9 #1); the
      // chosen value is index METADATA threaded into the serving config
      // and the store directory name, so a restart over a grown dataset
      // builds a fresh store instead of probing stale planes
      val nb = ApproxAnn.autoNbitsFor(emb, "embedding")
      // cache key = full canonical path (two datasets sharing a basename
      // must not share — or clobber — one store directory)
      val dirKey = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(new java.io.File(sfDir).getCanonicalPath).take(12)
      val lsh = graft.sources.IndexStorage.materializeCached(
          spark, s"$sfDir/embeddings.parquet",
          s"/tmp/graft-indexes/serve-lsh$nb-$dirKey",
          Seq("_bucket")) {
        ApproxAnn.buildLshIndex(emb, "embedding", nbits = nb, dims = dims)
      }
      engine.setApproxServing("vs", "emb_euclidean",
        Engine.ApproxServing(lsh, nbits = nb))
      // the same sign-bucket store serves the cosine index — random
      // hyperplane LSH is the cosine family; each route ranks in its own
      // index's space within the probed buckets
      engine.setApproxServing("vs", "emb_cosine",
        Engine.ApproxServing(lsh, nbits = nb))
    }

    val shell = HttpShell.start(engine, port = port,
      host = sys.env.getOrElse("SPARK_GRAFT_BIND", "127.0.0.1"))
    // scalastyle:off println — operator console, not a log
    println(s"[graft] serving ${shell.port} over $sfDir " +
      s"(GET /api/v1/indexes, POST /api/v1/indexes/{ks}/{idx}/ann|bm25, GET /metrics)")
    // scalastyle:on println
    sys.addShutdownHook { shell.stop(); spark.stop() }
    Thread.currentThread.join() // serve until killed
  }
}
