package graft

import graft.operators.Lww
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{KeyedEvent, KeyState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming LWW vs batch compaction equivalence (SURVEY §2.8 ST1–ST4). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(key: String, ts: Long, seq: Long, tomb: Boolean = false,
      payload: Option[String] = Some("{}")) =
    KeyedEvent(key, ts, seq, tomb, if (tomb) None else payload)

  private val events = Seq(
    ev("a", 100, 0, payload = Some("""{"v":1}""")),
    ev("a", 300, 1, payload = Some("""{"v":3}""")),
    ev("a", 200, 2, payload = Some("""{"v":2}""")), // stale, ignored
    ev("b", 100, 3, payload = Some("""{"v":9}""")),
    ev("b", 150, 4, tomb = true), // delete b
    ev("c", 100, 5, payload = Some("""{"v":7}""")),
    ev("c", 100, 6, payload = Some("""{"v":8}"""))) // equal ts, later seq: ignored

  private def runStream(batches: Seq[Seq[KeyedEvent]]): Map[String, KeyState] = {
    val mem = MemoryStream[KeyedEvent](spark)
    val q = StreamingIngest.lwwStateStream(mem.toDS())
      .writeStream.format("memory").queryName(s"lww_out_${System.nanoTime()}")
      .outputMode("update").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      spark.table(q.name).as[KeyState].collect()
        .groupBy(_.key).map { case (k, vs) => k -> vs.maxBy(s => (s.ts, -s.seq)) }
    } finally q.stop()
  }

  test("streaming LWW final state == batch compaction, any batch split") {
    val batchDf = events.toDF()
    val expected = Lww.compactState(batchDf, Seq("key"), "ts",
        opCol = None, targetCol = Some("payload"), seqCol = Some("seq"))
      .select(col("key"), col(Lww.TsCol).as("ts"), col(Lww.TombstoneCol).as("tombstone"))
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    for (split <- Seq(Seq(events), events.grouped(3).toSeq, events.map(Seq(_)))) {
      val got = runStream(split)
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, st) =>
        assert((st.ts, st.tombstone) == expected(k), s"key $k split ${split.length}")
      }
    }
  }

  test("tombstone wins and stale delete is ignored") {
    val got = runStream(Seq(Seq(
      ev("x", 300, 0, payload = Some("""{"v":1}""")),
      ev("x", 200, 1, tomb = true)))) // stale delete
    assert(!got("x").tombstone)
    val got2 = runStream(Seq(Seq(ev("y", 100, 0)), Seq(ev("y", 200, 1, tomb = true))))
    assert(got2("y").tombstone)
  }

  test("streaming content dedup: first digest arrival wins, replays emit nothing") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    val mem = MemoryStream[Doc](spark)
    val q = StreamingDedup.firstSeen(mem.toDS())
      .writeStream.format("memory").queryName(s"sdedup_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts + an intra-batch dup (higher id loses)
      mem.addData(Seq(Doc(5L, "alpha"), Doc(2L, "alpha"), Doc(3L, "beta")))
      q.processAllAvailable()
      // batch 2: cross-batch dup of 'alpha' + one new text
      mem.addData(Seq(Doc(9L, "alpha"), Doc(7L, "gamma")))
      q.processAllAvailable()
      // batch 3: replay of batch 2 — fully suppressed
      mem.addData(Seq(Doc(9L, "alpha"), Doc(7L, "gamma")))
      q.processAllAvailable()
      val out = spark.table(q.name).as[StreamingDedup.DigestedDoc].collect()
        .map(d => d.text -> d.id).toMap
      assert(out == Map("alpha" -> 2L, "beta" -> 3L, "gamma" -> 7L))
      // emitted set == what batch Dedup.exact keeps over the union of batches
      val allDocs = Seq((5L, "alpha"), (2L, "alpha"), (3L, "beta"),
        (9L, "alpha"), (7L, "gamma")).toDF("doc_id", "text")
      val batchKept = graft.operators.Dedup.exact(allDocs, "doc_id", Seq("text"))
        .as[Long].collect().toSet
      assert(out.values.toSet == batchKept)
    } finally q.stop()
  }

  test("duplicate deliveries within the watermark are suppressed (ST3)") {
    val mem = MemoryStream[KeyedEvent](spark)
    val deduped = StreamingIngest.withDedup(mem.toDS(), "10 seconds")
    val q = StreamingIngest.lwwStateStream(deduped)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("update").start()
    try {
      val e = ev("k", 1000000, 0, payload = Some("""{"v":1}"""))
      mem.addData(Seq(e)); q.processAllAvailable()
      mem.addData(Seq(e.copy(seq = 1))); q.processAllAvailable() // wide-reader redelivery
      val rows = spark.table("dedup_out").as[KeyState].collect()
      assert(rows.length == 1) // second delivery produced no transition
    } finally q.stop()
  }

  test("stream-static enrichment: missing base row becomes a delete (S4)") {
    val cdc = Seq((1L, 100L), (2L, 200L)).toDF("pk", "ts")
    val base = Seq((1L, "live-row")).toDF("pk", "body")
    val enriched = StreamingIngest.enrich(cdc, base, Seq("pk"), Seq("body"))
      .select("pk", "op").as[(Long, String)].collect().toMap
    assert(enriched(1L) == "UPSERT" && enriched(2L) == "DELETE")
  }

  test("foreachBatch merge maintains a consistent parquet snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val mem = MemoryStream[KeyedEvent](spark)
    val q = mem.toDS().toDF()
      .writeStream
      .foreachBatch(graft.streaming.IndexMaintenance.appendSnapshotSegment(
        spark, statePath, Seq("key"), "ts",
        opCol = None, targetCol = Some("payload"), seqCol = Some("seq")))
      .start()
    def liveKeys(): Set[String] =
      graft.streaming.IndexMaintenance.readSnapshotSegments(
          spark, statePath, Seq("key"), seqCol = Some("seq"))
        .filter(!col(Lww.TombstoneCol)).select("key").as[String].collect().toSet
    try {
      mem.addData(Seq(ev("a", 100, 0), ev("b", 100, 1)))
      q.processAllAvailable()
      mem.addData(Seq(ev("a", 200, 2, tomb = true), ev("c", 300, 3)))
      q.processAllAvailable()
      val live = liveKeys()
      assert(live == Set("b", "c"))
      // redelivering batch 2 is a no-op on the reconciled state
      mem.addData(Seq(ev("a", 200, 4, tomb = true), ev("c", 300, 5)))
      q.processAllAvailable()
      val live2 = liveKeys()
      assert(live2 == Set("b", "c"))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("streaming as-of enrichment: epoch log == batch asofJoin over all delivered rows") {
    import graft.operators.Temporal
    import graft.streaming.StreamingTemporal
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_asof").toFile
    val out = new java.io.File(dir, "enriched").getAbsolutePath
    // static right side: per-key reference points
    val right = Seq((1L, 100L, "r1"), (1L, 300L, "r2"), (2L, 50L, "r3"))
      .toDF("k", "ts", "tag")
    val lefts = Seq(
      Seq((1L, 150L, "a"), (2L, 40L, "b")), // b has nothing at-or-before → dropped
      Seq((1L, 300L, "c"), (1L, 99L, "d")), // c ties r2 inclusively
      Seq((2L, 60L, "e")))
    val mem = MemoryStream[(Long, Long, String)](spark)
    val q = mem.toDF().toDF("k", "ts", "lid")
      .writeStream
      .foreachBatch(StreamingTemporal.asofBatch(right, Seq("k"), "ts", Seq("tag"), out))
      .start()
    try {
      lefts.foreach { b => mem.addData(b); q.processAllAvailable() }
      val streamed = spark.read.parquet(out)
        .select("lid", "asof_ts", "asof_tag").as[(String, Long, String)]
        .collect().toSet
      val batch = Temporal.asofJoin(
          lefts.flatten.toDF("k", "ts", "lid"), right, Seq("k"), "ts", Seq("tag"))
        .select("lid", "asof_ts", "asof_tag").as[(String, Long, String)]
        .collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed == Set(
        ("a", 100L, "r1"), ("c", 300L, "r2"), ("e", 50L, "r3")))
      // band-join twin: same fixed-right contract
      val rout = new java.io.File(dir, "banded").getAbsolutePath
      val mem2 = MemoryStream[(Long, Long, String)](spark)
      val q2 = mem2.toDF().toDF("k", "ts", "lid")
        .writeStream
        .foreachBatch(graft.streaming.StreamingTemporal.rangeBatch(
          right, Seq("k"), "ts", 0L, 100L, Seq("lid"), Seq("tag"), rout))
        .start()
      try {
        lefts.foreach { b => mem2.addData(b); q2.processAllAvailable() }
        val got = spark.read.parquet(rout)
          .select("l_lid", "r_tag", "delta_us").as[(String, String, Long)]
          .collect().toSet
        val want = Temporal.rangeJoin(
            lefts.flatten.toDF("k", "ts", "lid"), right, Seq("k"), "ts",
            0L, 100L, Seq("lid"), Seq("tag"))
          .select("l_lid", "r_tag", "delta_us").as[(String, String, Long)]
          .collect().toSet
        assert(got == want && got.nonEmpty)
      } finally q2.stop()
    } finally {
      q.stop(); FileUtils.deleteDirectory(dir)
    }
  }

  test("streaming contamination gate over epochs == batch decontamination (uncapped)") {
    import graft.operators.{Curation, Dedup}
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_contam").toFile
    val out = new java.io.File(dir, "flags").getAbsolutePath
    val docsAll = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"), // benchmark
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon unrelated words here"),
      (3L, "completely different content with no shared phrases at all"),
      (4L, "alpha beta gamma delta epsilon zeta eta rho sigma"))
    val bench = Seq((0L, docsAll.head._2)).toDF("bench_id", "text")
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingDedup.contaminationBatch(
        bench, out, "doc_id", "text", minContainment = 0.2))
      .start()
    try {
      // two micro-batches; the bench doc itself arrives in the stream too
      Seq(docsAll.take(2), docsAll.drop(2)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "bench_id", "overlap", "containment")
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = Curation.decontaminate(
          Dedup.shingles(docsAll.toDF("doc_id", "text"), "doc_id", "text", 5),
          "doc_id", Seq(0L).toDF("bench_id"), minContainment = 0.2,
          maxShingleDf = None)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      // replay idempotence: re-running an epoch's write overwrites, not appends
      assert(streamed.map(_._1).subsetOf(Set(1L, 2L, 4L)))
    } finally {
      q.stop(); FileUtils.deleteDirectory(dir)
    }
  }

  test("streaming near-dup: pair log over epochs == batch operator on the final corpus") {
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      1L -> base,                                  // epoch 0
      2L -> (base + " extra"),                     // epoch 0: near-dup of 1
      3L -> "completely unrelated words one two three four five six",
      4L -> base.replace("alpha", "omega"),        // epoch 1: near-dup of 1,2
      5L -> "another island of text with nothing shared at all here",
      6L -> base)                                  // epoch 2: exact dup of 1
    val batches = Seq(docs.take(3), docs.slice(3, 5), docs.drop(5))

    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingDedup.nearDupBatch(
        spark, p("shingles"), p("sigs"), p("pairs"),
        "doc_id", "text", opCol = None, threshold = 0.3))
      .start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val streamed = spark.read.parquet(p("pairs"))
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSeq
      // each pair discovered exactly once, in the epoch its later member arrived
      assert(streamed.map(x => (x._1, x._2)).distinct.length == streamed.length)
      val batch = Dedup.minhashNearDupsFromShingles(
          Dedup.shingles(docs.toDF("doc_id", "text"), "doc_id", "text", 5),
          "doc_id", numHashes = 16, bands = 4, threshold = 0.3,
          maxShingleDf = None)
        .as[(Long, Long, Double)].collect().toSeq
      assert(streamed.toSet == batch.toSet, s"streamed=$streamed batch=$batch")
      assert(streamed.nonEmpty) // non-vacuous: the exact dup (1,6) must land
      assert(streamed.exists(x => (x._1, x._2) == ((1L, 6L))))
    } finally {
      q.stop(); FileUtils.deleteDirectory(dir)
    }
  }

  test("streaming embedding near-dup: pair log == batch LSH operator on the final corpus") {
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_embdup").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    def v(seed: Int, eps: Float = 0f): Seq[Float] =
      (0 until 8).map(d => math.sin(seed * 2.3 + d * 0.9).toFloat + (if (d == 0) eps else 0f))
    val rows = Seq( // two near-dup clusters split across epochs + singletons
      (1L, v(1)), (2L, v(1, 0.01f)), (3L, v(7)),       // epoch 0
      (4L, v(1, 0.02f)), (5L, v(12)),                  // epoch 1: joins cluster {1,2}
      (6L, v(12, 0.015f)))                             // epoch 2: pairs with 5
    val batches = Seq(rows.take(3), rows.slice(3, 5), rows.drop(5))
    val fn = StreamingDedup.embeddingNearDupBatch(
      spark, p("lsh"), p("pairs"),
      "vec_id", "embedding", opCol = None, dims = 8, threshold = 0.99,
      nbits = 8)
    batches.zipWithIndex.foreach { case (b, i) =>
      fn(b.toDF("vec_id", "embedding"), i.toLong) }
    // a replay of the last epoch leaves the store holding exactly its rows
    // (a second copy of v6 would pair (5, 6) twice in a later probe)
    def lshRows(): Seq[String] =
      spark.read.parquet(p("lsh")).collect().map(_.toString).toSeq.sorted
    val lshBefore = lshRows()
    fn(batches.last.toDF("vec_id", "embedding"), 2L)
    assert(lshRows() == lshBefore, "a replayed epoch added a second copy of its vectors")
    val streamed = spark.read.parquet(p("pairs"))
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSeq
    assert(streamed.map(x => (x._1, x._2)).distinct.length == streamed.length)
    // Fixed at the STORE's nbits (8): the batch baseline must replay the
    // configuration the maintained store was built with, not the
    // corpus-count default (auto would pick 4 bits for this 7-row fixture)
    val batch = Dedup.embeddingNearDupsFixed(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.99, nbits = 8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed.toSet == batch.toSet, s"streamed=$streamed batch=$batch")
    assert(streamed.map(x => (x._1, x._2)).toSet
      .intersect(Set((1L, 2L), (1L, 4L), (2L, 4L), (5L, 6L))).size >= 3)

    // a re-delivered id whose vector MOVES buckets: v3's old row stays on
    // disk in its old cell, and only the read-side reconcile drops it. A
    // near-dup of the OLD vector must never pair with that stale copy,
    // while a near-dup of the NEW vector pairs with the moved row.
    val moved = v(7).map(-_) // every projection sign flips: another bucket
    fn(Seq((3L, moved)).toDF("vec_id", "embedding"), 3L)
    val cells3 = spark.read.parquet(p("lsh")).filter(col("vec_id") === 3L)
      .select(col("_bucket").cast("long")).as[Long].collect().toSet
    assert(cells3.size == 2, s"v3 must sit in its old AND new cell on disk: $cells3")
    fn(Seq((7L, v(7, 0.01f)), (8L, moved.updated(0, moved.head + 0.01f)))
      .toDF("vec_id", "embedding"), 4L)
    def epochPairs(e: Long): Set[(Long, Long)] = spark.read.parquet(p("pairs"))
      .filter(col("epoch") === e).select("id_a", "id_b").as[(Long, Long)]
      .collect().map { case (a, b) => (a min b, a max b) }.toSet
    assert(epochPairs(3L).isEmpty, "the moved vector has no near-dup yet")
    assert(epochPairs(4L) == Set((3L, 8L)),
      s"only the moved row may pair; the stale copy of v3 must not: ${epochPairs(4L)}")
    FileUtils.deleteDirectory(dir)
  }

  test("streaming near-dup: delete-everything epoch leaves an empty-but-readable store") {
    // an emptied store keeps its directory with no parquet files —
    // the next epoch must treat it as empty, not crash schema inference
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ndempty").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val fnT = StreamingDedup.nearDupBatch(
      spark, p("sh"), p("sg"), p("tp"), "id", "text", opCol = Some("op"))
    fnT(Seq((1L, text, "UPSERT")).toDF("id", "text", "op"), 0L)
    fnT(Seq((1L, null.asInstanceOf[String], "DELETE")).toDF("id", "text", "op"), 1L)
    fnT(Seq((2L, text, "UPSERT")).toDF("id", "text", "op"), 2L) // must not throw
    assert(spark.read.parquet(p("tp")).count() == 0) // doc 1 was gone
    val fnE = StreamingDedup.embeddingNearDupBatch(
      spark, p("lsh"), p("ep"), "id", "vec", opCol = Some("op"),
      dims = 4, threshold = 0.9, nbits = 4)
    val v = Seq(0.5f, 0.1f, -0.3f, 0.8f)
    fnE(Seq((1L, v, "UPSERT")).toDF("id", "vec", "op"), 0L)
    fnE(Seq((1L, null.asInstanceOf[Seq[Float]], "DELETE")).toDF("id", "vec", "op"), 1L)
    fnE(Seq((2L, v, "UPSERT")).toDF("id", "vec", "op"), 2L) // must not throw
    assert(spark.read.parquet(p("ep")).count() == 0)
    FileUtils.deleteDirectory(dir)
  }

  test("streaming near-dup: re-delivered id probes with fresh text, replay idempotent") {
    import graft.streaming.StreamingDedup
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup2").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val base = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen"
    val fn = StreamingDedup.nearDupBatch(
      spark, p("shingles"), p("sigs"), p("pairs"),
      "doc_id", "text", opCol = None, threshold = 0.5)
    fn(Seq(1L -> base, 2L -> "unrelated island of completely different tokens")
      .toDF("doc_id", "text"), 0L)
    // doc 2 re-delivered as an exact dup of 1: the pair uses the FRESH text
    fn(Seq(2L -> base).toDF("doc_id", "text"), 1L)
    val pairs = spark.read.parquet(p("pairs"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // replaying epoch 1 overwrites its own pair partition and replaces its
    // own rows in segment 1: both stores hold exactly the rows they held
    // (a second copy would double a doc's shingle count and overlap)
    def rows(n: String): Seq[String] =
      spark.read.parquet(p(n)).collect().map(_.toString).toSeq.sorted
    val (shBefore, sigsBefore) = (rows("shingles"), rows("sigs"))
    fn(Seq(2L -> base).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(p("pairs"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    assert(rows("shingles") == shBefore)
    assert(rows("sigs") == sigsBefore)
    // at-least-once delivery under a NEW epoch re-confirms the pair there
    // (the log is an event stream, not a table — documented contract);
    // reducing by (id_a, id_b) still yields the single live pair
    fn(Seq(2L -> base).toDF("doc_id", "text"), 2L)
    val byEpoch = spark.read.parquet(p("pairs"))
      .select("epoch", "id_a", "id_b").as[(Long, Long, Long)].collect().toSet
    assert(byEpoch == Set((1L, 1L, 2L), (2L, 1L, 2L)))
    // a NEW query over the same stores restarts its epochs at 0 and passes
    // segOffset = last segment + 1: its update of doc 2 (last claimed in
    // segment 2) wins the reconcile, and its pair partitions land after
    // the old query's, clobbering none
    val restarted = StreamingDedup.nearDupBatch(
      spark, p("shingles"), p("sigs"), p("pairs"),
      "doc_id", "text", opCol = None, threshold = 0.5, segOffset = 3L)
    val other = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    restarted(Seq(2L -> other).toDF("doc_id", "text"), 0L)
    val (sh, _) = graft.streaming.IndexMaintenance.readDedupSegmentIndex(
      spark, p("shingles"), p("sigs"), "doc_id")
    val doc2 = sh.filter(col("doc_id") === 2L).select("sh").collect().map(_.get(0)).toSet
    val want = graft.operators.Dedup.shingles(
        Seq(2L -> other).toDF("doc_id", "text"), "doc_id", "text", 5)
      .select("sh").collect().map(_.get(0)).toSet
    assert(doc2 == want, "the restarted query's update must serve its fresh shingles")
    restarted(Seq(4L -> other).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(p("pairs"))
      .select("epoch", "id_a", "id_b").as[(Long, Long, Long)].collect().toSet ==
      byEpoch + ((4L, 2L, 4L)))
    FileUtils.deleteDirectory(dir)
  }

  test("gopher rule gate runs unchanged on a stream (stateless projection)") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the " + Seq.tabulate(35)(i => s"word$i").mkString(" ")),
      (2L, "too short"),
      (3L, "- a\n- b\n- c\n- the bullet wall\n" * 8))
    val mem = MemoryStream[(Long, String)](spark)
    // the SAME operator, applied to a streaming frame: stateless per-row
    // projections are streaming-safe by construction — the ingest gate and
    // the batch curation pass cannot drift because they are one function
    val q = TextAnalysis.gopherRules(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
        minWords = 30, minRequiredWords = 1)
      .writeStream.format("memory").queryName(s"gopher_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      mem.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table(q.name)
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      val batch = TextAnalysis.gopherRules(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          minWords = 30, minRequiredWords = 1)
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      assert(streamed == batch)
      assert(streamed(1L) && !streamed(2L) && !streamed(3L))
    } finally q.stop()
  }

  test("streaming funnel state == batch funnel over the delivered stream") {
    import graft.streaming.StreamingTemporal
    import graft.streaming.StreamingTemporal.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    val all = Seq(
      FunnelEvent(1L, 10L, "view"), FunnelEvent(1L, 20L, "click"),
      FunnelEvent(1L, 30L, "purchase"),
      FunnelEvent(2L, 10L, "view"), FunnelEvent(2L, 15L, "purchase"),
      FunnelEvent(2L, 20L, "click"),
      FunnelEvent(3L, 10L, "view"),
      FunnelEvent(5L, 5L, "click"), FunnelEvent(5L, 10L, "view"),
      FunnelEvent(5L, 12L, "click"), FunnelEvent(5L, 13L, "purchase"))
    val mem = MemoryStream[FunnelEvent](spark)
    val name = s"funnel_out_${System.nanoTime()}"
    val q = StreamingTemporal.funnelStream(mem.toDS(), stages)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      // split mid-stream: user 5's chain spans the batch boundary
      Seq(all.take(6), all.drop(6)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // latest state per key from the update log
      val streamed = spark.table(name)
        .groupBy(col("key")).agg(max(struct(col("times"))).as("s"))
        .select(col("key"), col("s.times"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val batch = graft.operators.Sessionize.funnel(
          all.toDF("user_id", "ts_us", "event_type").select(
            col("user_id"), col("ts_us"), col("event_type")),
          "user_id", "ts_us", "event_type", stages)
        .collect().map { r =>
          r.getLong(0) -> (1 to 3).map(i =>
            if (r.isNullAt(r.fieldIndex(s"t_$i"))) -1L
            else r.getLong(r.fieldIndex(s"t_$i")))
        }.toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed(1L) == Seq(10L, 20L, 30L))
      assert(streamed(5L) == Seq(10L, 12L, 13L))
    } finally q.stop()
  }

  test("streaming z-score == batch rollingZscore, state bounded by window") {
    import graft.streaming.StreamingTemporal
    import graft.streaming.StreamingTemporal.MetricEvent
    // real event slice: deterministic pseudo-values, 2 keys, 30 events
    val all = (1 to 30).map { i =>
      MetricEvent(key = i % 2, id = i.toLong, ts = i.toLong * 1000,
        value = ((i * 37) % 100) / 4.0 + 1.0)
    }
    val mem = MemoryStream[MetricEvent](spark)
    val name = s"z_out_${System.nanoTime()}"
    val q = StreamingTemporal.zscoreStream(mem.toDS(), window = 8)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // three batch splits, mid-warmup and mid-steady-state
      Seq(all.take(7), all.slice(7, 19), all.drop(19)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val streamed = spark.table(name)
        .collect().map(r => r.getLong(1) ->
          ((Option(r.get(4)).map(_.asInstanceOf[Double]),
            r.getBoolean(5)))).toMap
      val batch = graft.operators.Temporal.rollingZscore(
          all.toDF("key", "id", "ts_us", "value")
            .select(col("key"), col("id"), col("ts_us"), col("value")),
          "key", "id", "ts_us", "value", window = 8)
        .collect().map { r =>
          r.getLong(1) ->
            ((if (r.isNullAt(r.fieldIndex("zscore"))) None
              else Some(r.getDouble(r.fieldIndex("zscore"))),
              r.getBoolean(r.fieldIndex("is_anomaly"))))
        }.toMap
      assert(streamed == batch,
        s"diff: ${streamed.toSet.diff(batch.toSet)} / ${batch.toSet.diff(streamed.toSet)}")
      // scores exist once warm
      assert(streamed.values.count(_._1.isDefined) > 15)
    } finally q.stop()
  }

  test("withCdcMetrics: reader gauges advance per committed batch, errors counted") {
    val eng = new graft.operators.Engine
    var sunk = 0L
    val sink = StreamingIngest.withCdcMetrics(
      eng, "ks", "idx", "realtime", tsCol = "ts") { (b, _) => sunk += b.count() }
    // reader marked live at construction, before any batch
    assert(eng.promSnapshot().cdcReaderUp.head ==
      ((graft.operators.Catalog.IndexKey("ks", "idx"), "realtime"), 1))
    val nowSec = System.currentTimeMillis() / 1000L
    val batch = Seq(
      (1L, new java.sql.Timestamp((nowSec - 30) * 1000L)),
      (2L, new java.sql.Timestamp((nowSec - 5) * 1000L)))
      .toDF("pk", "ts")
    sink(batch, 0L)
    assert(sunk == 2L)
    val s = eng.promSnapshot()
    assert(s.modified.head._2 == 2L)
    // checkpoint = the batch's max event time (the -5 s row)
    val ckpt = s.cdcCheckpoints.head._2
    assert(math.abs(ckpt - (nowSec - 5)) < 1.0, ckpt)
    // lag observed once, around 5 s → lands in the le=10 bucket
    val lag = s.indexingLag(graft.operators.Catalog.IndexKey("ks", "idx"))
    assert(lag.count == 1L)
    val le10 = lag.bounds.indexOf(10.0)
    assert(lag.cumulative(le10) == 1L, lag.cumulative.toSeq)
    // a failing sink counts a handler error, rethrows, advances nothing
    val bad = StreamingIngest.withCdcMetrics(
      eng, "ks", "idx", "consistent", tsCol = "ts") { (_, _) =>
      throw new RuntimeException("boom")
    }
    intercept[RuntimeException](bad(batch, 1L))
    val s2 = eng.promSnapshot()
    assert(s2.cdcHandlerErrors.head ==
      ((graft.operators.Catalog.IndexKey("ks", "idx"), "consistent"), 1L))
    assert(s2.modified.head._2 == 2L) // unchanged by the failed batch
  }
}
