package graft

import graft.functions.VectorFunctions._
import graft.operators._
import graft.operators.Ann.AnnRequest
import graft.operators.Catalog._
import org.apache.spark.sql.functions._

/** End-to-end routing/error taxonomy vs httproutes.rs:741-813 / 975-1009. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def vsMeta(index: String, partitioning: Partitioning = Global,
      filtering: Seq[String] = Nil, version: Long = 0) =
    IndexMetadata("ks", index, "items", "embedding",
      primaryKeyColumns = Seq("pk"), partitioning = partitioning,
      filteringColumns = filtering, version = version,
      kind = Vs(IndexOptionsVs(dims = 2, space = Euclidean)))

  private lazy val items = Seq(
    (1, Seq(0f, 1f), 10, 100),
    (2, Seq(1f, 0f), 10, 200),
    (3, Seq(1f, 1f), 20, 100),
    (4, Seq(0.9f, 0.9f), 20, 200))
    .toDF("pk", "embedding", "part", "c1")

  private def engine: Engine = {
    val e = new Engine
    e.addIndex(vsMeta("ann_g", filtering = Seq("c1")), items)
    e.addIndex(vsMeta("ann_l", partitioning = Local(Seq("part"))), items)
    e
  }

  test("404 for unknown index") {
    val ex = intercept[QueryException] { engine.ann("ks", "nope", AnnRequest(Seq(0f, 1f))) }
    assert(ex.status == 404)
  }

  test("503 with progress while building") {
    val e = new Engine
    e.addIndex(vsMeta("ann_g"), items, status = FullScanning, progressPct = 42.0)
    val ex = intercept[QueryException] { e.ann("ks", "ann_g", AnnRequest(Seq(0f, 1f))) }
    assert(ex.status == 503 && ex.getMessage.contains("42.0"))
  }

  test("NoGlobalIndex (400) wins over NotServing when a local candidate serves") {
    val e = engine
    e.setStatus(IndexKey("ks", "ann_g"), FullScanning, 42.0)
    // ann_l still serving but cannot serve a global query → 400, not 503
    val ex = intercept[QueryException] { e.ann("ks", "ann_g", AnnRequest(Seq(0f, 1f))) }
    assert(ex.status == 400)
  }

  test("routing: query lands on the group member that can serve it") {
    // ann_l is local-only; a query with part Eq routes to it even when
    // addressed at ann_g… and vice versa: a filter on c1 routes to ann_g.
    val viaL = engine.ann("ks", "ann_g",
      AnnRequest(Seq(1f, 1f), limit = 2,
        restrictions = Seq(Restriction.Eq("part", 20))))
    assert(viaL.select("pk").as[Int].collect().toSeq == Seq(3, 4))
    val viaG = engine.ann("ks", "ann_l",
      AnnRequest(Seq(1f, 1f), limit = 1,
        restrictions = Seq(Restriction.Eq("c1", 100)), allowFiltering = true))
    assert(viaG.select("pk").as[Int].collect().toSeq == Seq(3))
  }

  test("local partition-Eq is consumed: no allowFiltering needed (O2/O4)") {
    val res = engine.ann("ks", "ann_l",
      AnnRequest(Seq(0f, 1f), limit = 5,
        restrictions = Seq(Restriction.Eq("part", 10)), allowFiltering = false))
    assert(res.select("pk").as[Int].collect().toSeq == Seq(1, 2))
  }

  test("400 when residual filtering without allowFiltering") {
    val ex = intercept[QueryException] {
      engine.ann("ks", "ann_g", AnnRequest(Seq(0f, 1f),
        restrictions = Seq(Restriction.Eq("c1", 100)), allowFiltering = false))
    }
    assert(ex.status == 400)
  }

  test("400 when only local candidates and no partition Eq") {
    val e = new Engine
    e.addIndex(vsMeta("only_local", partitioning = Local(Seq("part"))), items)
    val ex = intercept[QueryException] { e.ann("ks", "only_local", AnnRequest(Seq(0f, 1f))) }
    assert(ex.status == 400)
  }

  test("version tiebreak picks newest serving index") {
    val e = new Engine
    e.addIndex(vsMeta("v1", version = 1), items.limit(2))
    e.addIndex(vsMeta("v2", version = 2), items)
    // both serve with NoFiltering; v2 (newer) wins → sees all 4 rows
    val res = e.ann("ks", "v1", AnnRequest(Seq(0.9f, 0.9f), limit = 4))
    assert(res.count() == 4)
  }

  test("approx serving: routed ANN through the adaptive LSH path, taxonomy intact") {
    // 64-dim vectors so the shared 8-bit hyperplane bank has signal
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(d => math.sin(seed * 2.1 + d * 0.7).toFloat)
    val rows = (1 to 40).map(i => (i, vec(i), i % 7))
    val df = rows.toDF("pk", "embedding", "c1")
    val meta = IndexMetadata("ks", "ann_a", "items", "embedding",
      primaryKeyColumns = Seq("pk"), filteringColumns = Seq("c1"),
      kind = Vs(IndexOptionsVs(dims = 64, space = Euclidean)))
    val e = new Engine
    e.addIndex(meta, df)
    val exact = e.ann("ks", "ann_a", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq

    e.setApproxServing("ks", "ann_a", Engine.ApproxServing(
      ApproxAnn.buildLshIndex(df, "embedding", nbits = 8, dims = 64), nbits = 8))
    // unfiltered on scattered vectors: no radius certifies 0.9 coverage ⇒
    // exact fallback ⇒ identical results through the same route
    val approx = e.ann("ks", "ann_a", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq
    assert(approx == exact)
    assert(e.counters().getOrElse("ann-approx-queries", 0L) == 1L)
    // validation taxonomy unchanged on the approx route
    assert(intercept[QueryException] {
      e.ann("ks", "ann_a", AnnRequest(vec(1), limit = 5,
        restrictions = Seq(Restriction.Eq("c1", 3))))
    }.status == 400) // residual filtering without allowFiltering
    assert(intercept[QueryException] {
      e.ann("ks", "ann_a", AnnRequest(Seq(0f, 1f)))
    }.status == 400) // wrong dims
    // filtered query through the approx route returns k matching rows
    val filtered = e.ann("ks", "ann_a", AnnRequest(vec(1), limit = 3,
      restrictions = Seq(Restriction.Eq("c1", 3)), allowFiltering = true))
      .select("pk").as[Int].collect().toSeq
    assert(filtered.length == 3 && filtered.forall(_ % 7 == 3))
    // config is per-index and removable
    e.clearServingBackend("ks", "ann_a")
    assert(e.ann("ks", "ann_a", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq == exact)
    assert(intercept[QueryException] {
      e.setApproxServing("ks", "nope", Engine.ApproxServing(df, 8))
    }.status == 404)
    // a store missing the bucket / filtering columns is rejected at SET
    // time with the 400 taxonomy, not as an AnalysisException at query time
    assert(intercept[QueryException] {
      e.setApproxServing("ks", "ann_a", Engine.ApproxServing(df, 8)) // no _bucket
    }.status == 400)
    assert(intercept[QueryException] {
      e.setApproxServing("ks", "ann_a", Engine.ApproxServing(
        ApproxAnn.buildLshIndex(df.drop("c1"), "embedding", 8, 64), 8))
    }.status == 400) // filtering column c1 absent from the store
    // stale-config hygiene: re-registering or dropping the index detaches
    // the approx store rather than serving the old data
    e.setApproxServing("ks", "ann_a", Engine.ApproxServing(
      ApproxAnn.buildLshIndex(df, "embedding", 8, 64), 8))
    e.addIndex(meta, df.limit(20))
    val approxCount = e.counters().getOrElse("ann-approx-queries", 0L)
    e.ann("ks", "ann_a", AnnRequest(vec(3), limit = 5))
    assert(e.counters().getOrElse("ann-approx-queries", 0L) == approxCount) // exact route
  }

  test("pluggable backend seam: LSH backend serves through the same routed taxonomy") {
    def vec(seed: Int): Seq[Float] =
      (0 until 16).map(d => math.sin(seed * 2.1 + d * 0.7).toFloat)
    val df = (1 to 40).map(i => (i, vec(i), i % 7)).toDF("pk", "embedding", "c1")
    val meta = IndexMetadata("ks", "ann_i", "items", "embedding",
      primaryKeyColumns = Seq("pk"), filteringColumns = Seq("c1"),
      kind = Vs(IndexOptionsVs(dims = 16, space = Euclidean)))
    val e = new Engine
    e.addIndex(meta, df)
    assert(e.servingBackendName("ks", "ann_i") == "exact")
    val exact = e.ann("ks", "ann_i", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq

    val cfg = Engine.ApproxServing(
      ApproxAnn.buildLshIndex(df, "embedding", nbits = 8, dims = 16), nbits = 8)
    e.setApproxServing("ks", "ann_i", cfg)
    assert(e.servingBackendName("ks", "ann_i") == "lsh")
    // the adaptive probe either certifies coverage or falls back exact —
    // either way the routed answer matches the direct operator call
    val viaEngine = e.ann("ks", "ann_i", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq
    val direct = ApproxAnn.searchLshAdaptive(cfg.indexed, df, "embedding",
        Seq("pk"), Euclidean, AnnRequest(vec(3), limit = 5), cfg.nbits)
      .select("pk", "distance").as[(Int, Double)].collect().toSeq
    assert(viaEngine == direct)
    // taxonomy is the Engine's, not the backend's: wrong dims still 400
    assert(intercept[QueryException] {
      e.ann("ks", "ann_i", AnnRequest(Seq(0f, 1f)))
    }.status == 400)
    // attach-time validation: a store without _bucket is rejected at SET
    assert(intercept[QueryException] {
      e.setApproxServing("ks", "ann_i", Engine.ApproxServing(df, 8))
    }.status == 400)
    // detach restores the exact path
    e.clearServingBackend("ks", "ann_i")
    assert(e.servingBackendName("ks", "ann_i") == "exact")
    assert(e.ann("ks", "ann_i", AnnRequest(vec(3), limit = 5))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq == exact)
  }

  test("routing: requested index wins at equal (score, version) within its group") {
    // the Serve shape: euclidean + cosine indexes over the SAME column are
    // one routing group with equal score and version — a query addressed
    // to either must get THAT index's distance semantics (and consult its
    // approx config), not whichever member map order yields
    import graft.functions.VectorFunctions.Cosine
    val rows = (1 to 12).map(i =>
      (i, (0 until 8).map(d => math.sin(i * 1.3 + d).toFloat)))
    val df = rows.toDF("pk", "embedding")
    def m(name: String, space: graft.functions.VectorFunctions.Space) =
      IndexMetadata("ks", name, "items", "embedding",
        primaryKeyColumns = Seq("pk"),
        kind = Vs(IndexOptionsVs(dims = 8, space = space)))
    val e = new Engine
    e.addIndex(m("emb_e", Euclidean), df)
    e.addIndex(m("emb_c", Cosine), df)
    val qv = rows.head._2
    val de = e.ann("ks", "emb_e", AnnRequest(qv, 3))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq
    val dc = e.ann("ks", "emb_c", AnnRequest(qv, 3))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq
    assert(de == Ann.plan(df, "embedding", Seq("pk"), Euclidean, AnnRequest(qv, 3))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq)
    assert(dc == Ann.plan(df, "embedding", Seq("pk"), Cosine, AnnRequest(qv, 3))
      .select("pk", "distance").as[(Int, Double)].collect().toSeq)
    // and the attached approx config follows the euclidean index only
    e.setApproxServing("ks", "emb_e", Engine.ApproxServing(
      ApproxAnn.buildLshIndex(df, "embedding", 8, 8), 8))
    e.ann("ks", "emb_c", AnnRequest(qv, 3))
    assert(e.counters().getOrElse("ann-approx-queries", 0L) == 0L)
    e.ann("ks", "emb_e", AnnRequest(qv, 3))
    assert(e.counters().getOrElse("ann-approx-queries", 0L) == 1L)
  }

  test("bm25 route: 404 / kind mismatch / search") {
    val e = new Engine
    val ftsMeta = IndexMetadata("ks", "fts1", "docs", "body",
      primaryKeyColumns = Seq("doc_id"), kind = Fts(IndexOptionsFts()))
    e.addIndex(ftsMeta, Seq((1L, "spark engine"), (2L, "other text")).toDF("doc_id", "body"))
    assert(e.bm25("ks", "fts1", "spark", 5).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(intercept[QueryException] { e.bm25("ks", "nope", "q", 1) }.status == 404)
    val e2 = engine
    assert(intercept[QueryException] { e2.bm25("ks", "ann_g", "q", 1) }.status == 400)
  }

  test("count: live (non-null target) rows (A1)") {
    val e = new Engine
    e.addIndex(vsMeta("cnt"), items.union(
      Seq((9, null.asInstanceOf[Seq[Float]], 30, 1)).toDF("pk", "embedding", "part", "c1")))
    assert(e.count("ks", "cnt") == 4)
  }

  test("metrics-lite: per-index gauges mirror the reference export (S10)") {
    val e = new Engine
    e.addIndex(vsMeta("ann_g"), items.union(
      Seq((9, null.asInstanceOf[Seq[Float]], 30, 1)).toDF("pk", "embedding", "part", "c1")))
    e.addIndex(vsMeta("ann_b"), items, status = FullScanning, progressPct = 42.5)
    val before = e.metrics().collect()
      .map(r => r.getString(1) -> r).toMap
    // live vs total rows: the null-embedding row is indexed but not live
    assert(before("ann_g").getLong(before("ann_g").fieldIndex("live_rows")) == 4)
    assert(before("ann_g").getLong(before("ann_g").fieldIndex("total_rows")) == 5)
    assert(before("ann_g").getString(3) == "Serving")
    // a building index reports its status + progress
    assert(before("ann_b").getString(3) == "FullScanning")
    assert(before("ann_b").getDouble(before("ann_b").fieldIndex("progress_pct")) == 42.5)
    // size estimate is a positive driver-side stat (no job)
    assert(before("ann_g").getLong(before("ann_g").fieldIndex("est_size_bytes")) > 0)
    // queries_total counts served queries
    assert(before("ann_g").getLong(before("ann_g").fieldIndex("queries_total")) == 0)
    e.ann("ks", "ann_g", AnnRequest(Seq(0f, 1f), limit = 1)).collect()
    val after = e.metrics().collect().map(r => r.getString(1) -> r).toMap
    assert(after("ann_g").getLong(after("ann_g").fieldIndex("queries_total")) == 1)
  }

  test("result transpose: columnar arrays ordered by distance (S8)") {
    val res = engine.ann("ks", "ann_g", AnnRequest(Seq(0f, 1f), limit = 3))
    val row = ResultFormat.transpose(res, Seq("pk")).head()
    assert(row.getSeq[Int](row.fieldIndex("pk_pk")).head == 1)
    val dists = row.getSeq[Double](row.fieldIndex("distances")).toList
    assert(dists == dists.sorted && dists.length == 3)
    assert(row.getSeq[Double](row.fieldIndex("similarity_scores")).head == 1.0)
  }

  test("metrics on an empty engine: empty frame with the metrics schema, not an error") {
    val empty = new Engine().metrics()
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("keyspace", "index_name", "kind", "status",
      "progress_pct", "live_rows", "total_rows", "est_size_bytes", "queries_total"))
  }

  test("segment-maintained vector store serves through the routed LSH backend") {
    // the full loop: CDC batches append segments (move + delete included),
    // the reconciled view attaches as the serving backend, and routed ANN
    // answers exactly the live data — a stale or tombstoned row can never
    // be served because the reconcile join drops it before ranking
    import graft.streaming.IndexMaintenance
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_eng_seg").toFile
    val iPath = new java.io.File(dir, "vs").getAbsolutePath
    def vec(seed: Int, sign: Float = 1f): Seq[Float] =
      (0 until 64).map(d => sign * math.sin(seed * 2.1 + d * 0.7).toFloat)
    val append = IndexMaintenance.appendVsSegment(
      spark, iPath, "pk", "embedding", opCol = Some("op"), dims = 64,
      nbits = 8)
    try {
      append((1 to 40).map(i => (i, vec(i), "UPSERT"))
        .toDF("pk", "embedding", "op"), 0L)
      // vector 3 moves (sign flip), vector 7 deleted
      append(Seq((3, vec(3, -1f), "UPSERT"),
        (7, null.asInstanceOf[Seq[Float]], "DELETE"))
        .toDF("pk", "embedding", "op"), 1L)
      val live = ((1 to 40).filter(i => i != 3 && i != 7).map(i => (i, vec(i)))
        :+ (3 -> vec(3, -1f))).toDF("pk", "embedding")
      val meta = IndexMetadata("ks", "vseg", "items", "embedding",
        primaryKeyColumns = Seq("pk"),
        kind = Vs(IndexOptionsVs(dims = 64, space = Euclidean)))
      val e = new Engine
      e.addIndex(meta, live)
      val exact = e.ann("ks", "vseg", AnnRequest(vec(3, -1f), limit = 5))
        .select("pk", "distance").as[(Int, Double)].collect().toSeq
      e.setApproxServing("ks", "vseg", Engine.ApproxServing(
        IndexMaintenance.readVsSegmentIndex(spark, iPath, "pk", "embedding"),
        nbits = 8))
      assert(e.servingBackendName("ks", "vseg") == "lsh")
      val served = e.ann("ks", "vseg", AnnRequest(vec(3, -1f), limit = 5))
        .select("pk", "distance").as[(Int, Double)].collect().toSeq
      assert(served == exact)
      assert(served.head._1 == 3, "the MOVED vector must be its own nearest neighbor")
      val top40 = e.ann("ks", "vseg", AnnRequest(vec(7), limit = 40))
        .select("pk").as[Int].collect().toSet
      assert(!top40.contains(7), "a tombstoned vector must never be served")
    } finally FileUtils.deleteDirectory(dir)
  }

  test("store fence: a read during a maintenance commit waits for the commit") {
    // the commit-visibility contract (IndexMaintenance segment appends /
    // compact* scaladoc), enforced: serving actions take the read side of
    // the per-index fence, commits the write side — a mid-commit scan is
    // impossible BY CONSTRUCTION, not by prose (VERDICT r9 #7)
    val e = new Engine
    val inCommit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commitGate = new java.util.concurrent.CountDownLatch(1)
    val commitStarted = new java.util.concurrent.CountDownLatch(1)
    val observedMidCommit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => e.withMaintenance("ks", "idx") {
      inCommit.set(true)
      commitStarted.countDown()
      commitGate.await()       // hold the store "half-replaced"
      inCommit.set(false)
    })
    writer.start()
    commitStarted.await()
    val readDone = new java.util.concurrent.CountDownLatch(1)
    val reader = new Thread(() => {
      e.withQuiescedRead("ks", "idx") {
        // if the fence failed, this runs while inCommit is still true
        observedMidCommit.set(inCommit.get())
      }
      readDone.countDown()
    })
    reader.start()
    // the read must NOT complete while the commit holds the fence
    assert(!readDone.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
      "serving read completed during an in-flight maintenance commit")
    commitGate.countDown()
    assert(readDone.await(5, java.util.concurrent.TimeUnit.SECONDS))
    writer.join(); reader.join()
    assert(!observedMidCommit.get(),
      "read observed mid-commit store state — fence is not exclusive")
    // reads are concurrent with reads (no serialization of query traffic)
    val r1 = new java.util.concurrent.CountDownLatch(1)
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    val t1 = new Thread(() => e.withQuiescedRead("ks", "idx") {
      bothIn.countDown(); r1.await() })
    val t2 = new Thread(() => e.withQuiescedRead("ks", "idx") {
      bothIn.countDown(); r1.await() })
    t1.start(); t2.start()
    assert(bothIn.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "two reads failed to hold the fence concurrently")
    r1.countDown(); t1.join(); t2.join()
  }

  test("store fence: the metrics scrape waits for a mid-commit index " +
      "but never blocks serving reads on other indexes") {
    // /metrics collects ONE row per index under THAT index's read fence
    // (ADVICE r10): with index b mid-commit the scrape must block on b's
    // row — but a serving read of index a must still proceed, which the
    // old hold-every-read-lock design forbade for the scrape duration.
    import graft.operators.Catalog.{IndexMetadata, Vs, IndexOptionsVs}
    import graft.functions.VectorFunctions.Euclidean
    val e = new Engine
    val emb = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    e.addIndex(IndexMetadata("ks", "a", "t", "embedding",
      primaryKeyColumns = Seq("vec_id"),
      kind = Vs(IndexOptionsVs(2, Euclidean))), emb)
    e.addIndex(IndexMetadata("ks", "b", "t", "embedding",
      primaryKeyColumns = Seq("vec_id"),
      kind = Vs(IndexOptionsVs(2, Euclidean))), emb)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => e.withMaintenance("ks", "b") {
      started.countDown(); gate.await() })
    writer.start(); started.await()
    val scrapeDone = new java.util.concurrent.CountDownLatch(1)
    val scraper = new Thread(() => {
      assert(e.metricsRowsFenced().size == 2)
      scrapeDone.countDown()
    })
    scraper.start()
    // while the scrape is queued behind b's commit, index a serves reads
    val aReadDone = new java.util.concurrent.CountDownLatch(1)
    val aReader = new Thread(() => {
      e.withQuiescedRead("ks", "a") { () }
      aReadDone.countDown()
    })
    aReader.start()
    assert(aReadDone.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "serving read on index a blocked by a scrape queued on index b's commit")
    assert(!scrapeDone.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
      "scrape completed while index b was mid-commit")
    gate.countDown()
    assert(scrapeDone.await(10, java.util.concurrent.TimeUnit.SECONDS))
    writer.join(); scraper.join(); aReader.join()
  }
}
