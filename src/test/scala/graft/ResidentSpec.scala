package graft

import graft.api.{Routes, Wire}
import graft.functions.VectorFunctions._
import graft.operators._
import graft.operators.Ann.AnnRequest
import graft.operators.Catalog._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._

/** Resident snapshots (`Resident`, routed by `Engine`): replies equal the
  * Spark plans they replace byte for byte, warm requests start no Spark
  * job, no read after a change is answered from an older snapshot,
  * concurrent first requests share one build, and snapshots are bounded in
  * bytes, per index and across the engine. */
class ResidentSpec extends SparkSpec {
  import spark.implicits._

  // the sf0.1 fixture's two serving tables, as the serving benchmark keeps
  // them in the checkout (byte-identical copies; sha256 in its README)
  private lazy val emb = spark.read.parquet("servebench/data/embeddings.parquet")
  private lazy val docs = spark.read.parquet("servebench/data/documents.parquet")

  private def vsMeta(index: String, space: Space, dims: Int, pk: String = "vec_id",
      filtering: Seq[String] = Seq("label")) =
    IndexMetadata("ks", index, "t", "embedding", primaryKeyColumns = Seq(pk),
      filteringColumns = filtering, kind = Vs(IndexOptionsVs(dims, space)))

  private val ftsMeta = IndexMetadata("ks", "docs", "documents", "text",
    primaryKeyColumns = Seq("doc_id"), kind = Fts(IndexOptionsFts()))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def types(df: DataFrame) =
    df.schema.fields.flatMap(f => Routes.nativeTypeOf(f.dataType).map(f.name -> _)).toMap

  /** The served reply equals the Spark plan's byte for byte, and the
    * driver transpose equals `ResultFormat.transpose`'s aggregate. */
  private def assertSameAnn(served: DataFrame, spark: DataFrame, pk: String, what: String): Unit = {
    assert(isLocal(served), s"$what: not answered from the snapshot")
    assert(served.schema.map(f => f.name -> f.dataType) == spark.schema.map(f => f.name -> f.dataType))
    val t = types(spark)
    assert(Wire.annResponseJson(served, Seq(pk), t) == Wire.annResponseJson(spark, Seq(pk), t), what)
    val agg = ResultFormat.transpose(spark, Seq(pk)).head()
    val rows = ResultFormat.transposedRows(served, Seq(pk))
    assert(rows.map(_.get(1)).toSeq == agg.getSeq[Any](agg.fieldIndex(s"pk_$pk")), what)
    assert(rows.map(_.getDouble(0)).toSeq ==
      agg.getSeq[Double](agg.fieldIndex("distances")), what)
    assert(rows.map(_.getDouble(2)).toSeq ==
      agg.getSeq[Double](agg.fieldIndex("similarity_scores")), what)
  }

  /** Jobs started by this thread's requests under `tag`. */
  private def jobsUnder(tag: String)(body: => Unit): Int = jobExecutions(tag)(body).size

  /** The SQL execution name (`collect`, `collectInternal`, …) of each job
    * this thread's requests under `tag` started; the sentinel job at the end
    * orders the listener bus, so every earlier job and execution end is
    * counted. */
  private def jobExecutions(tag: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("graft.spec.tag")).filter(_.startsWith(tag)).foreach { t =>
            seen.add(t -> String.valueOf(p.getProperty("spark.sql.execution.id")))
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          // `executionName` is private[sql] in Scala and public in bytecode
          val name = end.getClass.getMethod("executionName").invoke(end).asInstanceOf[Option[String]]
          names.put(end.executionId.toString, name.getOrElse("")); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try body finally sc.setLocalProperty("graft.spec.tag", null)
      sc.setLocalProperty("graft.spec.tag", tag + ":sentinel")
      try spark.range(1).collect() finally sc.setLocalProperty("graft.spec.tag", null)
      def sentinelSeen = seen.toArray.exists(_.asInstanceOf[(String, String)]._1 == tag + ":sentinel")
      val deadline = System.nanoTime() + 30000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
      seen.toArray.toSeq.map(_.asInstanceOf[(String, String)]).filter(_._1 == tag)
        .map { case (_, id) => names.getOrDefault(id, "") }
    } finally sc.removeSparkListener(listener)
  }

  /** 400 rows of 16 dims in four tight clusters (label = cluster), so a
    * label restriction concentrates its rows in a few LSH buckets. */
  private lazy val clustered: DataFrame = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian().toFloat))
    (0 until 400).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat), c)
    }.toDF("vec_id", "embedding", "label")
  }

  test("snapshot ANN replies are byte-identical to the exact Spark plan: four spaces, " +
      "restrictions, a tie at rank k") {
    // vector 0 duplicated under a smaller pk in the last row: querying it
    // ties the pair at distance 0, so limit 1 cuts between two equal
    // distances and only the pk order picks the row Spark returns
    val v0 = emb.filter(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val frame = emb.union(emb.filter(col("vec_id") === 0).withColumn("vec_id", col("vec_id") - 1000000L))
    val q = emb.filter(col("vec_id") === 17).select("embedding").as[Seq[Float]].head()
      .map(_ + 0.01f)
    val restrictions = Seq(
      Nil,
      Seq(Restriction.Eq("label", 3)),
      Seq(Restriction.Gte("label", 2), Restriction.Lt("label", 5)),
      Seq(Restriction.In("label", Seq(1, 7))))
    for (space <- Seq(Euclidean, Cosine, DotProduct, Hamming)) {
      val e = new Engine
      e.addIndex(vsMeta("emb", space, 64), frame)
      for (rs <- restrictions; (vec, limit) <- Seq((q, 10), (v0, 1), (v0, 3))) {
        val req = AnnRequest(vec, limit, rs, allowFiltering = true)
        assertSameAnn(e.ann("ks", "emb", req),
          Ann.plan(frame, "embedding", Seq("vec_id"), space, req), "vec_id", s"$space $rs $limit")
      }
      // limit past the live rows: every matching row, no limit-sized allocation
      val all = AnnRequest(q, Int.MaxValue, Seq(Restriction.Eq("label", 3)), allowFiltering = true)
      assertSameAnn(e.ann("ks", "emb", all),
        Ann.plan(frame, "embedding", Seq("vec_id"), space, all), "vec_id", s"$space all")
    }
  }

  test("snapshot LSH replies replay searchLshAdaptive: probe path and fallback") {
    val nbits = 6
    val store = ApproxAnn.buildLshIndex(clustered, "embedding", nbits, 16)
    val c1 = clustered.filter(col("vec_id") === 1).select("embedding").as[Seq[Float]].head()
    val probe = AnnRequest(c1.map(_ + 0.005f), 10, Seq(Restriction.Eq("label", 1)), allowFiltering = true)
    val fallback = AnnRequest(c1, 10)
    val cases = Seq(
      // a separate store, and the store registered as the index frame itself
      ("separate store", clustered, store),
      ("shared frame", store, store))
    for ((what, base, indexed) <- cases; space <- Seq(Euclidean, Cosine)) {
      val cfg = Engine.ApproxServing(indexed, nbits, radii = Seq(1, 2))
      assert(ApproxAnn.chooseLshRadius(indexed, "embedding", probe, nbits, cfg.radii).isDefined)
      assert(ApproxAnn.chooseLshRadius(indexed, "embedding", fallback, nbits, cfg.radii).isEmpty)
      val e = new Engine
      e.addIndex(vsMeta("lsh", space, 16), base)
      e.setApproxServing("ks", "lsh", cfg)
      for ((req, path) <- Seq((probe, "probe"), (fallback, "fallback"))) {
        val viaSpark = ApproxAnn.searchLshAdaptive(indexed, base, "embedding", Seq("vec_id"),
          space, req, nbits, cfg.radii)
        assertSameAnn(e.ann("ks", "lsh", req), viaSpark, "vec_id", s"$what $space $path")
      }
    }
  }

  test("snapshot BM25 replies are byte-identical to Bm25.search: absent term, " +
      "stopword-only query, null text, limit past N") {
    val frame = docs.select("doc_id", "text")
      .union(Seq((99999999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val e = new Engine
    e.addIndex(ftsMeta, frame)
    val t = types(frame)
    val queries = Seq(("spark", 10), ("dup", 10), ("spark dup window", 10), ("zzzabsent", 10),
      ("spark zzzabsent", 10), ("the a", 10), ("DUP merge", 100000), ("dup", 1))
    for ((q, limit) <- queries) {
      val served = e.bm25("ks", "docs", q, limit)
      assert(isLocal(served), s"$q: not answered from the snapshot")
      val viaSpark = Bm25.search(frame, "doc_id", "text", q, limit)
      assert(served.schema.map(f => f.name -> f.dataType) == viaSpark.schema.map(f => f.name -> f.dataType))
      assert(Wire.bm25ResponseJson(served, "doc_id", t) == Wire.bm25ResponseJson(viaSpark, "doc_id", t), q)
    }
    assert(e.bm25("ks", "docs", "DUP merge", 100000).count() > 3000)
  }

  test("warm snapshot requests start no Spark job: unrestricted, restricted, LSH, BM25") {
    val e = new Engine
    e.addIndex(vsMeta("emb_euclidean", Euclidean, 64), emb)
    e.addIndex(vsMeta("emb_lsh", Cosine, 64), emb)
    e.setApproxServing("ks", "emb_lsh", Engine.ApproxServing(
      ApproxAnn.buildLshIndex(emb, "embedding", 7, 64), 7))
    e.addIndex(ftsMeta, docs)
    val v = emb.filter(col("vec_id") === 5).select("embedding").as[Seq[Float]].head()
    val types = Map("label" -> graft.api.JsonValues.IntT)
    val requests = Seq(
      "/api/v1/indexes/ks/emb_euclidean/ann" -> Wire.annRequestJson(AnnRequest(v, 10), types),
      "/api/v1/indexes/ks/emb_euclidean/ann" -> Wire.annRequestJson(
        AnnRequest(v, 10, Seq(Restriction.Eq("label", 4)), allowFiltering = true), types),
      "/api/v1/indexes/ks/emb_lsh/ann" -> Wire.annRequestJson(AnnRequest(v, 10), types),
      "/api/v1/indexes/ks/docs/bm25" -> Wire.bm25RequestJson("spark dup", 10))
    def serveAll(): Seq[String] = requests.map { case (path, body) =>
      val r = Routes.handle(e, "POST", path, body)
      assert(r.status == 200, r.body)
      r.body
    }
    var cold: Seq[String] = Nil
    assert(jobsUnder("resident-cold") { cold = serveAll() } > 0, "the first requests build the snapshots")
    var warm: Seq[String] = Nil
    assert(jobsUnder("resident-warm") { warm = serveAll() } == 0)
    assert(warm == cold)
  }

  test("no read after addIndex, a withMaintenance commit or clearServingBackend " +
      "is answered from an older snapshot") {
    // addIndex: a new nearest vector appears
    val e = new Engine
    val q = Seq.fill(16)(0.5f)
    e.addIndex(vsMeta("idx", Euclidean, 16), clustered)
    val before = e.ann("ks", "idx", AnnRequest(q, 3)).select("vec_id").as[Long].collect()
    e.addIndex(vsMeta("idx", Euclidean, 16), clustered.union(Seq((777L, q, 0)).toDF("vec_id", "embedding", "label")))
    assert(e.ann("ks", "idx", AnnRequest(q, 3)).select("vec_id").as[Long].head() == 777L)
    assert(!before.contains(777L))

    // withMaintenance: a frame whose rows follow external state, changed
    // only under the write fence, never re-registered
    ResidentSpec.state = 1L
    val live = spark.range(1, 5).select(col("id").as("vec_id"),
      udf((id: Long) => Seq.fill(4)(if (id == ResidentSpec.state) 1f else 0f)).apply(col("id")).as("embedding"),
      lit(0).as("label"))
    e.addIndex(vsMeta("live", Euclidean, 4), live)
    def top(): Long = e.withQuiescedRead("ks", "live") {
      e.ann("ks", "live", AnnRequest(Seq.fill(4)(1f), 1)).select("vec_id").as[Long].head()
    }
    assert(top() == 1L)
    e.withMaintenance("ks", "live") { ResidentSpec.state = 3L }
    assert(top() == 3L)

    // clearServingBackend: an LSH store missing the exact answer's row
    // serves the probe path; once cleared, the exact plan's answer returns
    val c1 = clustered.filter(col("vec_id") === 1).select("embedding").as[Seq[Float]].head()
    val req = AnnRequest(c1, 1, Seq(Restriction.Eq("label", 1)), allowFiltering = true)
    val staleStore = ApproxAnn.buildLshIndex(clustered.filter(col("vec_id") =!= 1), "embedding", 6, 16)
    e.addIndex(vsMeta("lsh", Euclidean, 16), clustered)
    assert(e.ann("ks", "lsh", req).select("vec_id").as[Long].head() == 1L)
    e.setApproxServing("ks", "lsh", Engine.ApproxServing(staleStore, 6, radii = Seq(1, 2)))
    assert(e.ann("ks", "lsh", req).select("vec_id").as[Long].head() != 1L)
    e.clearServingBackend("ks", "lsh")
    assert(e.ann("ks", "lsh", req).select("vec_id").as[Long].head() == 1L)
  }

  test("eight concurrent first requests build one snapshot") {
    val v = emb.filter(col("vec_id") === 9).select("embedding").as[Seq[Float]].head()
    def fresh(): Engine = {
      val e = new Engine
      e.addIndex(vsMeta("emb", Euclidean, 64), emb)
      e
    }
    val one = fresh()
    val buildJobs = jobsUnder("resident-one")(one.ann("ks", "emb", AnnRequest(v, 10)).collect())
    assert(buildJobs > 0)
    val e = fresh()
    val start = new java.util.concurrent.CountDownLatch(1)
    val replies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sc = spark.sparkContext
    val jobs = jobsUnder("resident-eight") {
      val threads = (1 to 8).map { _ =>
        val t = new Thread(() => {
          sc.setLocalProperty("graft.spec.tag", "resident-eight")
          start.await()
          replies.add(Wire.annResponseJson(e.ann("ks", "emb", AnnRequest(v, 10)), Seq("vec_id"), types(emb)))
          ()
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(replies.size == 8 && replies.toArray.distinct.length == 1)
    assert(jobs == buildJobs, s"8 concurrent first requests ran $jobs jobs; one build runs $buildJobs")
  }

  test("a BM25 snapshot is bounded by bytes, not documents: long documents and " +
      "many distinct terms are served by the Spark plan") {
    // 40 documents in each corpus. "repeated": 2,000 tokens of three words
    // each, so the tokenized rows pass the per-snapshot limit while the
    // postings would be tiny. "unique": 100 terms no other document has,
    // so the rows fit and the postings pass the limit as they are built.
    def corpus(text: Int => Seq[String]) =
      (0 until 40).map(i => (i.toLong, ("spark" +: text(i)).mkString(" "))).toDF("doc_id", "text")
        .repartition(2) // a local relation would be collected without a job
    val corpora = Seq(
      ("short", corpus(i => Seq("dup", "merge", s"u${i}x7")), true),
      ("repeated", corpus(_ => Seq.tabulate(2000)(j => Seq("dup", "merge", "window")(j % 3))), false),
      ("unique", corpus(i => Seq.tabulate(100)(j => s"u${i}x$j")), false))
    val budget = new Resident.Budget(1L << 20, 256L << 10)
    val e = new Engine(budget)
    corpora.foreach { case (index, frame, _) => e.addIndex(ftsMeta.copy(index = index), frame) }
    val t = types(corpora.head._2)
    // the tokenized rows are counted on the executors first: "repeated"
    // brings none of them to the driver, "unique" collects and then stops
    // building its postings
    for ((index, _, _) <- corpora) {
      val collected = jobExecutions(s"bm25-$index")(e.bm25("ks", index, "spark", 10).collect())
        .contains("collectInternal")
      assert(collected == (index != "repeated"), s"$index: rows collected = $collected")
    }
    for ((index, frame, resident) <- corpora; q <- Seq("spark", "dup u3x7 merge")) {
      val served = e.bm25("ks", index, q, 10)
      assert(isLocal(served) == resident, s"$index: resident should be $resident")
      assert(Wire.bm25ResponseJson(served, "doc_id", t) ==
        Wire.bm25ResponseJson(Bm25.search(frame, "doc_id", "text", q, 10), "doc_id", t), s"$index $q")
    }
    assert(budget.used > 0 && budget.used <= budget.perSnapshot)
  }

  test("snapshots share one engine-wide byte budget: indexes past it are served " +
      "by the Spark plan, and a dropped snapshot's bytes go back") {
    val q = Seq.fill(16)(0.5f)
    val req = AnnRequest(q, 5)
    val frame = clustered.repartition(2) // a local relation would be collected without a job
    val unbounded = new Resident.Budget(Long.MaxValue / 2, Long.MaxValue / 2)
    val probe = new Engine(unbounded)
    probe.addIndex(vsMeta("i0", Euclidean, 16), frame)
    assert(isLocal(probe.ann("ks", "i0", req)))
    val one = unbounded.used
    assert(one > 0)

    // room for two and a half snapshots of this size
    val budget = new Resident.Budget(one * 5 / 2, one * 5 / 2)
    val e = new Engine(budget)
    (1 to 4).foreach(n => e.addIndex(vsMeta(s"i$n", Euclidean, 16), frame))
    val expected = Ann.plan(frame, "embedding", Seq("vec_id"), Euclidean, req)
    def check(n: Int, resident: Boolean): Unit = {
      val served = e.ann("ks", s"i$n", req)
      assert(isLocal(served) == resident, s"i$n: resident should be $resident")
      assert(Wire.annResponseJson(served, Seq("vec_id"), types(expected)) ==
        Wire.annResponseJson(expected, Seq("vec_id"), types(expected)), s"i$n")
    }
    assert(jobExecutions("budget-i1")(check(1, resident = true)).contains("collectInternal"))
    check(2, resident = true)
    // past the budget: declined by the executors' byte count, no row collected
    assert(!jobExecutions("budget-i3")(check(3, resident = false)).contains("collectInternal"))
    check(4, resident = false)
    assert(budget.used == 2 * one)
    // a declined index stays on its Spark plan until its next change
    check(3, resident = false)
    assert(e.dropIndex("ks", "i1"))
    assert(budget.used == one)
    e.withMaintenance("ks", "i3") { () }
    check(3, resident = true)
    assert(budget.used == 2 * one)
    check(4, resident = false)
  }
}

object ResidentSpec {
  /** The row the `live` frame's UDF puts at the query vector. */
  @volatile var state: Long = 1L
}
