package servebench

import java.io.File
import java.util.Random
import org.apache.spark.sql.SparkSession

/** Every input the benchmark hands the program.
  *
  * The corpus is the sf0.1 fixture's `embeddings` (2,000 × 64-d unit
  * vectors, `label` 0–9) and `documents` (5,000 texts) tables, shipped in
  * `servebench/data` and read once per run with the program's own loader;
  * index sizes and build costs do not move with the seed. Requests and CDC
  * events are drawn from `--seed`.
  */
object Corpus {
  val K = 10

  final case class Vec(id: Long, v: Array[Float], label: Int)

  @volatile private var fixture: (Array[Vec], Array[(Long, String)]) = _

  /** Reads the fixture tables (once per JVM), ordered by primary key. */
  def load(spark: SparkSession, dataDir: File): Unit = if (fixture == null) {
    val vecs = graft.Tables.load(spark, dataDir.getPath, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).sortBy(_.id)
    val docs = graft.Tables.load(spark, dataDir.getPath, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    require(vecs.nonEmpty && docs.nonEmpty, s"empty fixture in $dataDir")
    require(vecs.forall(_.v.length == vecs.head.v.length), "embeddings of mixed dimensions")
    fixture = (vecs, docs)
  }

  def vectors: Array[Vec] = fixture._1
  def documents: Array[(Long, String)] = fixture._2
  def dims: Int = vectors.head.v.length

  def unit(a: Array[Double]): Array[Float] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    a.map(x => (x / n).toFloat)
  }

  /** A random unit vector: the fixture's vectors are of this kind. */
  def randomUnit(r: Random): Array[Float] = unit(Array.fill(dims)(r.nextGaussian()))

  /** Query near a corpus vector: the perturbation keeps the source among
    * the top-k but rarely at rank 1. */
  def perturb(r: Random, v: Array[Float]): Array[Float] = {
    val scale = 0.05 / math.sqrt(dims)
    unit(Array.tabulate(dims)(i => v(i) + r.nextGaussian() * scale))
  }

  // ---- query terms, by document frequency in the fixture -----------------

  /** Terms in at least half the documents. */
  lazy val Frequent: IndexedSeq[String] = termsWhere(df => df * 2 >= documents.length)

  /** Terms in fewer than a tenth of the documents. */
  lazy val Rare: IndexedSeq[String] = termsWhere(df => df * 10 < documents.length)

  private def termsWhere(p: Int => Boolean): IndexedSeq[String] = {
    val ts = Oracle.scorer.docFreq.collect { case (t, df) if p(df) => t }.toIndexedSeq.sorted
    require(ts.nonEmpty, "the fixture's documents lack a term class the BM25 queries draw from")
    ts
  }

  /** Terms in no document (the self-test checks they match nothing). */
  val Absent: IndexedSeq[String] =
    IndexedSeq("zephyr", "quokka", "fjord", "glyph", "nymph", "crwth", "pyx", "jinx")

  // ---- requests ----------------------------------------------------------

  sealed trait Request { def path: String; def body: String }

  final case class AnnQuery(index: String, vector: Array[Float], label: Option[Int])
      extends Request {
    def path = s"/api/v1/indexes/vs/$index/ann"
    def body: String = {
      val v = vector.map(java.lang.Float.toString).mkString("[", ",", "]")
      label match {
        case None => s"""{"vector":$v,"limit":$K}"""
        case Some(l) =>
          s"""{"vector":$v,"limit":$K,"filter":{"restrictions":""" +
            s"""[{"type":"==","lhs":"label","rhs":$l}],"allow_filtering":true}}"""
      }
    }
  }

  final case class Bm25Query(query: String) extends Request {
    def path = "/api/v1/indexes/fts/doc_text/bm25"
    def body: String =
      s"""{"query":${new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(query)},"limit":$K}"""
  }

  val Cycle = 10

  /** `serve` request `i`, in a fixed cycle of ten: eight ANN requests
    * (even to the euclidean index, odd to the cosine one; two of the eight
    * carry the source vector's `label` as a restriction) and two BM25
    * requests. */
  def serveQueries(seed: Long, n: Int): IndexedSeq[Request] = {
    val r = new Random(seed * 1000003L + 11)
    var bm25 = 0
    (0 until n).map { i =>
      val c = i % Cycle
      if (c < 8) {
        val src = vectors(r.nextInt(vectors.length))
        val index = if (c % 2 == 0) "emb_euclidean" else "emb_cosine"
        AnnQuery(index, perturb(r, src.v), if (c == 3 || c == 7) Some(src.label) else None)
      } else {
        bm25 += 1
        bm25Query(r, bm25 - 1)
      }
    }
  }

  /** BM25 query `j` of a fixed cycle of eight shapes (F frequent, R rare,
    * A absent) with seeded, distinct terms; one in eight matches nothing. */
  private def bm25Query(r: Random, j: Int): Bm25Query = {
    def pick(from: IndexedSeq[String]) = from(r.nextInt(from.length))
    val f = pick(Frequent)
    def f2 = { var t = pick(Frequent); while (t == f) t = pick(Frequent); t }
    val terms = j % 8 match {
      case 0 => Seq(f)
      case 1 => Seq(pick(Rare))
      case 2 => Seq(f, pick(Rare))
      case 3 => Seq(f, pick(Absent))
      case 4 => Seq(pick(Rare), f, f2)
      case 5 => Seq(f, f2)
      case 6 => Seq(pick(Absent))
      case _ => Seq(pick(Rare).toUpperCase, f)
    }
    Bm25Query(terms.mkString(" "))
  }

  // ---- CDC events --------------------------------------------------------

  /** One change event; `vector == null` with op DELETE is a delete. */
  final case class Event(id: Long, vector: Array[Float], op: String)

  val PlantBase = 20000000L
  val InsertBase = 1000000L

  /** Batch layout: 8 inserts, 6 updates (3 near the old value, 3 to a new
    * random vector, so they change LSH bucket), 4 deletes, then the batch's
    * planted reference vector — 19 events, each id at most once. */
  val Inserts = 8
  val Updates = 6
  val Deletes = 4

  /** Seeded event batches against the corpus; `live` tracks the ids each
    * batch may update or delete. */
  def cdcBatches(seed: Long, nBatches: Int): IndexedSeq[IndexedSeq[Event]] = {
    val r = new Random(seed * 1000003L + 17)
    val live = scala.collection.mutable.ArrayBuffer[Long](vectors.map(_.id).toIndexedSeq: _*)
    val current = scala.collection.mutable.HashMap[Long, Array[Float]](vectors.map(v => v.id -> v.v).toIndexedSeq: _*)
    var nextId = InsertBase
    (0 until nBatches).map { b =>
      val touched = scala.collection.mutable.HashSet[Long]()
      def pickLive(): Long = {
        var id = live(r.nextInt(live.length))
        while (touched(id)) id = live(r.nextInt(live.length))
        touched += id; id
      }
      val ins = (0 until Inserts).map { _ =>
        val id = nextId; nextId += 1
        Event(id, randomUnit(r), "UPSERT")
      }
      val ups = (0 until Updates).map { u =>
        val id = pickLive()
        Event(id, if (u % 2 == 0) perturb(r, current(id)) else randomUnit(r), "UPSERT")
      }
      val dels = (0 until Deletes).map(_ => Event(pickLive(), null, "DELETE"))
      val plant = Event(PlantBase + b, randomUnit(r), "UPSERT")
      (ins ++ ups).foreach { e =>
        if (!current.contains(e.id)) live += e.id
        current(e.id) = e.vector
      }
      dels.foreach { e => live -= e.id; current.remove(e.id) }
      (ins ++ ups ++ dels) :+ plant
    }
  }

  /** `cdc_ingest` reader query: near a corpus vector (the check replays
    * the exact state it was served from). */
  def readerQueries(seed: Long, n: Int): IndexedSeq[AnnQuery] = {
    val r = new Random(seed * 1000003L + 19)
    (0 until n).map(_ =>
      AnnQuery("emb_live", perturb(r, vectors(r.nextInt(vectors.length)).v), None))
  }
}
