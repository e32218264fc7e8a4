package graft.operators

import graft.functions.VectorDistanceExpr.{dotKernel, hammingSignKernel, l2sqKernel}
import graft.functions.VectorFunctions._
import graft.operators.Ann.AnnRequest
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences, BoundReference,
  Descending, Expression, GenericInternalRow, InterpretedOrdering, Predicate, SortOrder,
  UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Resident snapshots: an index small enough for the driver, collected
  * once into memory and answered there, so a request runs no Spark job.
  * The reference answers every request from an in-memory index (usearch,
  * tantivy — PAPER.md §0); [[Engine]] builds a snapshot the first time a
  * request needs it (the Progressive Indexes build policy, PAPERS.md) and
  * drops it whenever what the index serves changes.
  *
  * A snapshot reply is byte-identical to the Spark plan it replaces: the
  * same distance kernels ([[graft.functions.VectorDistanceExpr]]), the same
  * restriction predicate ([[RestrictionCompiler.compileAll]]) and
  * similarity formula ([[graft.functions.VectorFunctions.similarity]]),
  * resolved once and evaluated by Catalyst's interpreter, the same
  * tokenizer, Catalyst's own ordering for the ranking, and the result
  * comes back as a `LocalRelation` frame with the plan's schema. Where
  * Spark's arithmetic depends on a session setting (a zero cosine
  * denominator: null or an error), the snapshot declines and the Spark
  * plan answers.
  *
  * Size is counted in bytes against the engine's [[Budget]]: all of one
  * engine's snapshots together hold at most 1/[[TotalShare]] of the
  * driver's maximum heap, and one build collects and keeps at most
  * 1/[[SnapshotShare]] of it. Before any row reaches the driver, one job
  * sums the rows and their bytes on the executors
  * ([[GraftSqlBridge.collectedSize]]); an index over the limit is declined
  * there, having collected nothing, and is served by its Spark plan.
  */
object Resident {

  /** One build may collect, and one snapshot may hold, this share (1/n) of
    * the driver's maximum heap. A policy choice: the benchmark has no index
    * above it. */
  val SnapshotShare = 32

  /** All of one engine's snapshots together may hold this share (1/n) of the
    * driver's maximum heap. A policy choice, like [[SnapshotShare]]. */
  val TotalShare = 4

  // Driver-heap bytes a snapshot is charged besides its collected row
  // bytes (vectors) or its terms' characters (BM25), rounded up from heap
  // measurements of built snapshots (CHANGES.md; JDK 17, G1, compressed
  // oops, 100,000 vectors and four BM25 corpora).

  /** Per vector row: the row and array-view objects, the row buffer's
    * header and the per-row slots (norm, bucket); measured 107–115. */
  val VectorRowBytes = 128

  /** Per document: its boxed id, its slot and its length; measured ≤ 42. */
  val DocBytes = 48

  /** Per distinct term, besides two bytes per character: the key string,
    * its map entry and its two postings arrays; measured about 137. */
  val TermBytes = 144

  /** Per (term, document) posting: a document position and a frequency,
    * 8 bytes once built (measured 8.1), charged twice that because the
    * builders' spare capacity holds up to double while the build runs. */
  val PostingBytes = 16

  /** The bytes one engine's snapshots may hold: `total` across all of
    * them, at most `perSnapshot` each. */
  final class Budget(val total: Long, val perSnapshot: Long) {
    private val held = new java.util.concurrent.atomic.AtomicLong(0L)

    /** Bytes the live snapshots are charged. */
    def used: Long = held.get

    /** The most a new snapshot may take now. */
    def available: Long = math.min(perSnapshot, total - held.get)

    /** Charge `bytes`, unless that passes `perSnapshot` or `total`. */
    def reserve(bytes: Long): Boolean = {
      var cur = held.get
      while (bytes <= perSnapshot && cur + bytes <= total) {
        if (held.compareAndSet(cur, cur + bytes)) return true
        cur = held.get
      }
      false
    }

    def release(bytes: Long): Unit = { held.addAndGet(-bytes); () }
  }

  object Budget {
    /** The budget of an engine on this JVM: [[TotalShare]] and
      * [[SnapshotShare]] of its maximum heap. */
    def ofHeap(): Budget = {
      val max = Runtime.getRuntime.maxMemory
      new Budget(max / TotalShare, max / SnapshotShare)
    }
  }

  /** `c` resolved by the analyzer over an empty frame of `schema` and
    * bound to its ordinals: Catalyst's interpreter evaluates it on rows of
    * `schema`, with no plan and no job. */
  private[graft] def bound(spark: SparkSession, schema: StructType, c: Column): Expression = {
    val p = spark.createDataFrame(new java.util.ArrayList[Row](), schema).select(c)
      .queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(p.projectList.head, p.child.output)
  }

  /** The rows of `df` in Catalyst's internal form and the bytes they are
    * charged (their `UnsafeRow` bytes plus `perRow` each), or None when that
    * passes `limit`. `size` is the rows and their bytes as a job on the
    * executors counted them before any row is collected, so an index over
    * the limit brings no row to the driver. */
  private def collectWithin(df: DataFrame, size: (Long, Long), limit: Long, perRow: Long)
      : Option[(Array[InternalRow], Long)] = {
    val (n, bytes) = size
    if (bytes + n * perRow > limit) None
    else {
      val rows = GraftSqlBridge.collectInternal(df)
      // the frame may have changed between the two jobs: charge what came
      val charge = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum +
        rows.length * perRow
      if (charge > limit) None else Some(rows -> charge)
    }
  }

  /** A bounded top-`k` under `ord`: the heap holds min(k, offered) rows,
    * never `k` slots up front (a request's limit may be `Int.MaxValue`). */
  private final class TopK(k: Int, ord: Ordering[InternalRow]) {
    private val heap = new java.util.PriorityQueue[InternalRow](16, ord.reverse)
    def offer(r: InternalRow): Unit =
      if (heap.size < k) heap.add(r)
      else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r) }
    def sorted: Array[InternalRow] = heap.toArray(new Array[InternalRow](0)).sorted(ord)
  }

  sealed trait Snapshot {
    /** The driver-heap bytes the snapshot is charged. */
    def bytes: Long
  }

  /** A vector index's snapshot: the registered frame's rows, and for an
    * index served by LSH ([[Engine.setApproxServing]]) the LSH store's rows
    * too (the same [[Vectors]] when the store is the registered frame). */
  final case class AnnSnapshot(base: Vectors, lsh: Option[(Engine.ApproxServing, Vectors)])
      extends Snapshot {

    def bytes: Long = base.bytes + lsh.filterNot(_._2 eq base).map(_._2.bytes).sum

    /** The reply to a validated request, or None when the Spark plan must
      * answer it. Without LSH: the exact plan ([[Ann.plan]]). With LSH:
      * [[ApproxAnn.searchLshAdaptive]] replayed — the per-radius counts of
      * [[ApproxAnn.chooseLshRadius]] from the store's `_bucket`s, then the
      * probe buckets of the store if a radius qualifies, else all of the
      * registered frame. */
    def search(req: AnnRequest): Option[DataFrame] = lsh match {
      case None => base.rank(req, base.matching(req.restrictions))
      case Some((cfg, store)) =>
        val keep = store.matching(req.restrictions)
        val qb = ApproxAnn.probeBuckets(req.vector, cfg.nbits, 0).head
        val (within, total) = store.radiusCounts(keep, qb, cfg.radii)
        ApproxAnn.firstQualifyingRadius(cfg.radii, within, total, req.limit,
          cfg.oversample, cfg.minCoverage) match {
          case Some(r) =>
            val probes = ApproxAnn.probeBuckets(req.vector, cfg.nbits, r).toSet
            store.rank(req, i => store.inBuckets(i, probes) && keep(i))
          case None =>
            base.rank(req, if (base eq store) keep else base.matching(req.restrictions))
        }
    }
  }

  /** The live rows (non-null vector) of a vector index's frame: its
    * primary-key and filtering columns, the vector and, for an LSH store,
    * `_bucket` as a long. Rows stay the collected `UnsafeRow`s; vectors are
    * views into them, read by the expression's own kernels. */
  final class Vectors private (
      spark: SparkSession,
      schema: StructType,
      rows: Array[InternalRow],
      vecIdx: Int,
      bucketIdx: Option[Int],
      pkIdx: Array[Int],
      space: Space,
      dims: Int,
      resultSchema: StructType,
      val bytes: Long) {

    private val vecs: Array[ArrayData] = rows.map(_.getArray(vecIdx))
    private val buckets: Array[Long] = bucketIdx.map(b =>
      rows.map(r => if (r.isNullAt(b)) -1L else r.getLong(b))).orNull
    private val norms: Array[Double] =
      if (space == Cosine) vecs.map(v => math.sqrt(dotKernel(v, v))) else null
    private val pkTypes: Array[DataType] = pkIdx.map(schema(_).dataType)
    // (distance, pk…) ascending, nulls first: the plan's orderBy
    private val rankOrder = new InterpretedOrdering(
      SortOrder(BoundReference(0, DoubleType, nullable = false), Ascending) +:
        pkTypes.toSeq.zipWithIndex.map { case (t, j) =>
          SortOrder(BoundReference(j + 1, t, nullable = true), Ascending)
        })
    // VectorFunctions.similarity on one distance, as the plan computes it
    private val similarityOf = bound(spark,
      StructType(Seq(StructField("distance", DoubleType, nullable = false))),
      similarity(space, col("distance"), dims))

    /** Rows the restrictions admit, by the predicate the Spark plan pushes
      * ([[RestrictionCompiler.compileAll]]), resolved by the analyzer and
      * evaluated by Catalyst's interpreter. */
    def matching(rs: Seq[Restriction]): Int => Boolean =
      if (rs.isEmpty) _ => true
      else {
        val p = Predicate.createInterpreted(bound(spark, schema, RestrictionCompiler.compileAll(schema, rs)))
        p.initialize(0)
        i => p.eval(rows(i))
      }

    /** Per radius, the kept rows whose bucket lies within it of `qb`, and
      * all kept rows — `bit_count(_bucket ^ qb) <= r` with a null bucket
      * within no radius, as [[ApproxAnn.chooseLshRadius]] counts. */
    def radiusCounts(keep: Int => Boolean, qb: Long, radii: Seq[Int]): (Seq[Long], Long) = {
      val within = new Array[Long](radii.length)
      var total = 0L
      var i = 0
      while (i < rows.length) {
        if (keep(i)) {
          total += 1
          if (buckets(i) >= 0) {
            val hd = java.lang.Long.bitCount(buckets(i) ^ qb)
            radii.indices.foreach(j => if (hd <= radii(j)) within(j) += 1)
          }
        }
        i += 1
      }
      (within.toSeq, total)
    }

    def inBuckets(i: Int, probes: Set[Long]): Boolean =
      buckets(i) >= 0 && probes.contains(buckets(i))

    /** The exact top-`limit` of the kept rows, as [[Ann.plan]] returns it;
      * None when Spark's answer depends on its divide-by-zero setting. */
    def rank(req: AnnRequest, keep: Int => Boolean): Option[DataFrame] = {
      if (req.limit < 1 || req.vector.length != dims) return None
      val q = UnsafeArrayData.fromPrimitiveArray(req.vector.toArray)
      val qNorm = if (space == Cosine) math.sqrt(dotKernel(q, q)) else 0.0
      val top = new TopK(req.limit, rankOrder)
      var i = 0
      while (i < rows.length) {
        if (keep(i)) {
          // VectorFunctions.distance, operation for operation
          val d = space match {
            case Euclidean => l2sqKernel(vecs(i), q)
            case Cosine =>
              val denom = norms(i) * qNorm
              if (denom == 0.0) return None
              1.0 - dotKernel(vecs(i), q) / denom
            case DotProduct => -dotKernel(vecs(i), q)
            case Hamming => hammingSignKernel(vecs(i), q).toInt.toDouble
          }
          val key = new Array[Any](pkIdx.length + 1)
          key(0) = d
          var j = 0
          while (j < pkIdx.length) { key(j + 1) = rows(i).get(pkIdx(j), pkTypes(j)); j += 1 }
          top.offer(new GenericInternalRow(key))
        }
        i += 1
      }
      val out = top.sorted.map { k =>
        val d = k.getDouble(0)
        new GenericInternalRow(pkTypes.indices.map(j => k.get(j + 1, pkTypes(j))).toArray[Any] ++
          Array[Any](d, similarityOf.eval(new GenericInternalRow(Array[Any](d))))): InternalRow
      }
      Some(GraftSqlBridge.localFrame(spark, resultSchema, out.toSeq))
    }
  }

  object Vectors {
    /** Collect the live rows of `frame` for an index of `meta`, or None when
      * they would take more than `limit` bytes. `bucketed` adds the LSH
      * store's `_bucket`. */
    def collect(frame: DataFrame, meta: Catalog.IndexMetadata, space: Space, dims: Int,
        bucketed: Boolean, limit: Long): Option[Vectors] = {
      val keys = (meta.primaryKeyColumns ++ meta.allFilteringColumns.toSeq.sorted)
        .distinct.filterNot(_ == meta.targetColumn)
      val projected = frame.filter(col(meta.targetColumn).isNotNull)
        .select(keys.map(col) ++ Seq(col(meta.targetColumn)) ++
          (if (bucketed) Seq(col("_bucket").cast("long").as("_bucket")) else Nil): _*)
      val size = GraftSqlBridge.collectedSize(projected)
      collectWithin(projected, size, limit, VectorRowBytes).map { case (rows, bytes) =>
        val resultSchema = Ann.plan(frame, meta.targetColumn, meta.primaryKeyColumns, space,
          AnnRequest(Seq.fill(dims)(0f))).schema
        new Vectors(frame.sparkSession, projected.schema, rows, keys.length,
          if (bucketed) Some(keys.length + 1) else None,
          meta.primaryKeyColumns.map(keys.indexOf).toArray, space, dims, resultSchema, bytes)
      }
    }
  }

  /** One term's postings: the documents (snapshot positions) holding it,
    * ascending, and its frequency in each. */
  private final class Postings(val docs: Array[Int], val tfs: Array[Int])

  /** An FTS index's snapshot: per-term postings, document lengths, and the
    * corpus statistics of [[Bm25.termScores]] (N counts every row, null
    * texts included; avgdl sums the lengths Spark's `size` gives). */
  final class Text private (
      spark: SparkSession,
      ids: Array[Any],
      idType: DataType,
      lengths: Array[Int],
      postings: Map[String, Postings],
      n: Double,
      avgdl: Double,
      resultSchema: StructType,
      val bytes: Long) extends Snapshot {

    // (score desc, id asc): Bm25.searchIndex's orderBy
    private val rankOrder = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, DoubleType, nullable = false), Descending),
      SortOrder(BoundReference(1, idType, nullable = true), Ascending)))

    /** The top-`limit` documents for `query`, as [[Bm25.search]] returns
      * them; None for a limit Spark's `limit` would reject. */
    def search(query: String, limit: Int): Option[DataFrame] = {
      if (limit < 1) return None
      val scores = new Array[Double](ids.length)
      val hit = new Array[Boolean](ids.length)
      val touched = mutable.ArrayBuffer[Int]()
      Bm25.tokenizeQuery(query).flatMap(postings.get).foreach { p =>
        val df = p.docs.length.toDouble
        var j = 0
        while (j < p.docs.length) {
          val d = p.docs(j)
          if (!hit(d)) { hit(d) = true; touched += d }
          scores(d) += Bm25.termScore(n, df, p.tfs(j).toLong, lengths(d), avgdl)
          j += 1
        }
      }
      val top = new TopK(limit, rankOrder)
      touched.foreach(d => top.offer(new GenericInternalRow(Array[Any](scores(d), ids(d)))))
      Some(GraftSqlBridge.localFrame(spark, resultSchema,
        top.sorted.map(r => new GenericInternalRow(Array[Any](r.get(1, idType), r.getDouble(0))): InternalRow)
          .toSeq))
    }
  }

  object Text {
    /** Tokenize and collect `frame` for an FTS index, or None when its
      * tokenized rows or its postings would take more than `limit` bytes, or
      * it has an id that is null, repeated or binary (the Spark plan's join
      * and grouping then count differently from one entry per document). */
    def collect(frame: DataFrame, idCol: String, textCol: String, limit: Long): Option[Text] = {
      val toks = Bm25.tokenize(col(textCol))
      val projected = frame.select(col(idCol), toks, size(toks))
      val idType = projected.schema(0).dataType
      if (idType == BinaryType) return None
      collectWithin(projected, GraftSqlBridge.collectedSize(projected), limit, 0L).flatMap { case (rows, _) =>
        val ids = rows.map(r => if (r.isNullAt(0)) null else r.get(0, idType) match {
          case s: UTF8String => s.clone()
          case v => v
        })
        val distinct = new java.util.HashSet[Any]()
        if (ids.exists(id => id == null || !distinct.add(id))) None
        else {
          // what the snapshot keeps, counted as it is built: the build
          // stops once that passes the limit
          var bytes = ids.iterator.map {
            case s: UTF8String => DocBytes + s.numBytes
            case _ => DocBytes.toLong
          }.sum
          val lengths = new Array[Int](rows.length)
          var sumDl = 0L
          val grow = mutable.HashMap.empty[String, (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofInt)]
          var d = 0
          while (d < rows.length && bytes <= limit) {
            val r = rows(d)
            if (!r.isNullAt(2)) { lengths(d) = r.getInt(2); sumDl += r.getInt(2) }
            if (!r.isNullAt(1)) {
              val toks = r.getArray(1)
              (0 until toks.numElements()).groupMapReduce(toks.getUTF8String(_).toString)(_ => 1)(_ + _)
                .foreach { case (t, tf) =>
                  val (ds, fs) = grow.getOrElseUpdate(t, {
                    bytes += TermBytes + 2L * t.length
                    (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
                  })
                  ds += d; fs += tf
                  bytes += PostingBytes
                }
            }
            d += 1
          }
          if (bytes > limit) None
          else {
            val postings = grow.map { case (t, (ds, fs)) => t -> new Postings(ds.result(), fs.result()) }.toMap
            val resultSchema = Bm25.search(frame, idCol, textCol, "", 1).schema
            Some(new Text(frame.sparkSession, ids, idType, lengths, postings,
              rows.length.toDouble, sumDl.toDouble / rows.length.toDouble, resultSchema, bytes))
          }
        }
      }
    }
  }
}
