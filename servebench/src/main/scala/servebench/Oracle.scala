package servebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The benchmark's own answers, computed without the program, and the
  * checks that hold every served response against them.
  *
  * Served distances and scores are f32 on the wire; a value counts as equal
  * to the benchmark's double when within [[Tol]] relative (plus a tiny
  * absolute floor for distances near 0). Rows whose true values lie within
  * that tolerance of each other count as tied, in either order, including
  * at rank k: summation order may change the last bits of a score.
  */
object Oracle {
  val RelTol = 1e-5
  val AbsTol = 1e-6
  def Tol(x: Double): Double = RelTol * math.abs(x) + AbsTol
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol(b)

  private val mapper = new ObjectMapper

  /** Outcome of one check: `None` when the response is right, else why
    * not; `recall` is the share of the true top-k the response holds. */
  final case class Verdict(error: Option[String], recall: Double)

  // ---- ANN ---------------------------------------------------------------

  sealed trait Space
  case object Euclidean extends Space
  case object Cosine extends Space
  def spaceOf(index: String): Space = if (index == "emb_cosine") Cosine else Euclidean

  /** Squared L2 or 1 − cos, in double, accumulated in array order. */
  def distance(space: Space, a: Array[Float], q: Array[Float]): Double = space match {
    case Euclidean =>
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - q(i).toDouble; s += d * d; i += 1 }
      s
    case Cosine =>
      var dot = 0.0; var na = 0.0; var nq = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * q(i); na += a(i).toDouble * a(i); nq += q(i).toDouble * q(i)
        i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nq))
  }

  def similarity(space: Space, d: Double): Double = space match {
    case Euclidean => 1.0 / (1.0 + d)
    case Cosine => (2.0 - d) / 2.0
  }

  /** A served ANN response decoded: pks, distances, similarity scores. */
  final case class AnnAnswer(pks: IndexedSeq[Long], distances: IndexedSeq[Double],
      similarities: IndexedSeq[Double])

  def parseAnn(body: String): AnnAnswer = {
    val root = mapper.readTree(body)
    def doubles(n: JsonNode) = n.elements().asScala.map(_.asDouble()).toIndexedSeq
    AnnAnswer(
      root.get("primary_keys").get("vec_id").elements().asScala.map(_.asLong()).toIndexedSeq,
      doubles(root.get("distances")), doubles(root.get("similarity_scores")))
  }

  /** Check an ANN answer against the live rows `rows` (id → vector, label
    * or -1 when the store carries none). The served index may be
    * approximate: a row it returns must be live, match the restriction and
    * carry its exact distance, rows must ascend, and the answer must hold
    * min(k, matching) rows; missing true neighbours lower recall only. */
  def checkAnn(ans: AnnAnswer, q: Corpus.AnnQuery,
      rows: collection.Map[Long, (Array[Float], Int)]): Verdict = {
    val space = spaceOf(q.index)
    val matching = rows.iterator.filter { case (_, (_, l)) => q.label.forall(_ == l) }
      .map { case (id, (v, _)) => id -> distance(space, v, q.vector) }.toArray
      .sortBy(_._2)
    val want = math.min(Corpus.K, matching.length)
    def fail(m: String) = Verdict(Some(m), 0.0)
    if (ans.pks.length != want) return fail(s"${ans.pks.length} rows, expected $want")
    if (ans.distances.length != want || ans.similarities.length != want)
      return fail("column lengths differ")
    if (ans.pks.distinct.length != want) return fail("duplicate primary key")
    var i = 0
    while (i < want) {
      val id = ans.pks(i)
      val row = rows.get(id)
      if (row.isEmpty) return fail(s"pk $id is not live")
      if (!q.label.forall(_ == row.get._2)) return fail(s"pk $id violates the restriction")
      val d = distance(space, row.get._1, q.vector)
      if (!close(ans.distances(i), d)) return fail(s"pk $id distance ${ans.distances(i)} != $d")
      if (!close(ans.similarities(i), similarity(space, d)))
        return fail(s"pk $id similarity ${ans.similarities(i)}")
      if (i > 0 && ans.distances(i) < ans.distances(i - 1) - Tol(ans.distances(i - 1)))
        return fail(s"rows ${i - 1} and $i out of order")
      i += 1
    }
    if (want == 0) return Verdict(None, 1.0)
    val kth = matching(want - 1)._2
    val inTop = ans.pks.count(id => distance(space, rows(id)._1, q.vector) <= kth + Tol(kth))
    Verdict(None, inTop.toDouble / want)
  }

  // ---- BM25 --------------------------------------------------------------

  val K1 = 1.2
  val B = 0.75
  /** tantivy's English stopword list (StopWordFilter, Language::English). */
  val Stopwords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will",
    "with")

  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !Stopwords(t))

  /** Plain BM25 over the documents: exact token counts as lengths. */
  final class Bm25Scorer(docs: Array[(Long, String)]) {
    private val tf: Map[Long, Map[String, Int]] =
      docs.map { case (id, t) => id -> tokens(t).groupBy(identity).map { case (k, v) => k -> v.length } }.toMap
    private val dl: Map[Long, Int] = docs.map { case (id, t) => id -> tokens(t).length }.toMap
    private val n = docs.length.toDouble
    private val avgdl = dl.values.map(_.toDouble).sum / n
    private val postings: Map[String, Seq[Long]] =
      tf.toSeq.flatMap { case (id, m) => m.keys.map(_ -> id) }.groupBy(_._1)
        .map { case (t, ps) => t -> ps.map(_._2) }
    /** Documents holding each term. */
    val docFreq: Map[String, Int] = postings.map { case (t, ids) => t -> ids.length }

    /** Every matching doc with its score, best first (id breaks ties). */
    def scores(query: String): Array[(Long, Double)] = {
      val terms = tokens(query).distinct
      val acc = scala.collection.mutable.HashMap[Long, Double]()
      terms.foreach { t =>
        postings.get(t).foreach { ids =>
          val df = ids.length.toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          ids.foreach { id =>
            val f = tf(id)(t).toDouble
            val s = idf * (f * (K1 + 1.0)) / (f + K1 * (1.0 - B + B * dl(id) / avgdl))
            acc(id) = acc.getOrElse(id, 0.0) + s
          }
        }
      }
      acc.toArray.sortBy { case (id, s) => (-s, id) }
    }
  }

  final case class Bm25Answer(pks: IndexedSeq[Long], scores: IndexedSeq[Double])

  def parseBm25(body: String): Bm25Answer = {
    val root = mapper.readTree(body)
    Bm25Answer(
      root.get("primary_keys").get("doc_id").elements().asScala.map(_.asLong()).toIndexedSeq,
      root.get("scores").elements().asScala.map(_.asDouble()).toIndexedSeq)
  }

  /** Exact top-k: each served doc carries its true score, scores descend,
    * and no doc scoring clearly above the k-th true score is missing. */
  def checkBm25(ans: Bm25Answer, truth: Array[(Long, Double)]): Verdict = {
    val want = math.min(Corpus.K, truth.length)
    def fail(m: String) = Verdict(Some(m), 0.0)
    if (ans.pks.length != want || ans.scores.length != want)
      return fail(s"${ans.pks.length} rows, expected $want")
    if (ans.pks.distinct.length != want) return fail("duplicate primary key")
    if (want == 0) return Verdict(None, 1.0)
    val score = truth.toMap
    var i = 0
    while (i < want) {
      val s = score.get(ans.pks(i))
      if (s.isEmpty) return fail(s"doc ${ans.pks(i)} does not match the query")
      if (!close(ans.scores(i), s.get)) return fail(s"doc ${ans.pks(i)} score ${ans.scores(i)} != ${s.get}")
      if (i > 0 && ans.scores(i) > ans.scores(i - 1) + Tol(ans.scores(i - 1)))
        return fail(s"rows ${i - 1} and $i out of order")
      i += 1
    }
    val kth = truth(want - 1)._2
    val served = ans.pks.toSet
    truth.takeWhile(_._2 > kth + Tol(kth)).find(t => !served(t._1)) match {
      case Some((id, s)) => fail(s"doc $id (score $s) missing from the top-k")
      case None => Verdict(None, ans.pks.count(id => score(id) >= kth - Tol(kth)).toDouble / want)
    }
  }

  // ---- CDC last-write-wins replay ---------------------------------------

  /** Live rows after each committed batch: version 0 is the corpus, version
    * b the state after batch b. A persistent map shares structure between
    * versions. */
  def replay(batches: IndexedSeq[IndexedSeq[Corpus.Event]]): IndexedSeq[Map[Long, (Array[Float], Int)]] = {
    val v0: Map[Long, (Array[Float], Int)] =
      Corpus.vectors.map(v => v.id -> (v.v, -1)).toMap
    batches.scanLeft(v0) { (state, batch) =>
      batch.foldLeft(state) { (s, e) =>
        if (e.op == "DELETE") s - e.id else s.updated(e.id, (e.vector, -1))
      }
    }
  }

  // ---- self-test ---------------------------------------------------------

  /** Every check must accept the benchmark's own answer and reject each
    * corruption of it; returns the corruptions a check let through. */
  lazy val scorer = new Bm25Scorer(Corpus.documents)

  def selfTest(): Seq[String] = {
    val r = new java.util.Random(7)
    val rows: Map[Long, (Array[Float], Int)] =
      Corpus.vectors.map(v => v.id -> (v.v, v.label)).toMap
    val q = Corpus.AnnQuery("emb_cosine", Corpus.perturb(r, Corpus.vectors(5).v), None)
    val sp = spaceOf(q.index)
    val top = rows.toSeq.map { case (id, (v, _)) => id -> distance(sp, v, q.vector) }
      .sortBy(_._2).take(Corpus.K + 1)
    def ann(t: Seq[(Long, Double)]) = AnnAnswer(t.map(_._1).toIndexedSeq,
      t.map(_._2).toIndexedSeq, t.map(x => similarity(sp, x._2)).toIndexedSeq)
    val good = ann(top.take(Corpus.K))
    val deletedId = top.head._1
    val bmq = s"${Corpus.Frequent.head} ${Corpus.Rare.head}"
    val truth = scorer.scores(bmq)
    val bmGood = Bm25Answer(truth.take(Corpus.K).map(_._1).toIndexedSeq,
      truth.take(Corpus.K).map(_._2).toIndexedSeq)
    val cases: Seq[(String, Boolean)] = Seq(
      "ann: own answer accepted" -> checkAnn(good, q, rows).error.isEmpty,
      "ann: wrong distance rejected" -> checkAnn(good.copy(distances =
        good.distances.updated(3, good.distances(3) * 1.001)), q, rows).error.nonEmpty,
      "ann: swapped rows rejected" -> checkAnn(ann(top.take(Corpus.K).toIndexedSeq
        .updated(2, top(6)).updated(6, top(2))), q, rows).error.nonEmpty,
      "ann: deleted pk rejected" -> checkAnn(good, q, rows - deletedId).error.nonEmpty,
      "bm25: own answer accepted" -> checkBm25(bmGood, truth).error.isEmpty,
      "bm25: missing top-k doc rejected" -> checkBm25(Bm25Answer(
        truth.slice(1, Corpus.K + 1).map(_._1).toIndexedSeq,
        truth.slice(1, Corpus.K + 1).map(_._2).toIndexedSeq), truth).error.nonEmpty,
      "bm25: wrong score rejected" -> checkBm25(bmGood.copy(scores =
        bmGood.scores.updated(0, bmGood.scores(0) * 1.001)), truth).error.nonEmpty,
      "bm25: absent terms match nothing" -> Corpus.Absent.forall(t => scorer.scores(t).isEmpty))
    cases.collect { case (name, false) => name }
  }
}
