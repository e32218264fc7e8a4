package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 full-text search as declarative Spark plans (SURVEY §2 T3/A5/F10/F11).
  *
  * Reference: `crates/vector-store/src/fts_index/tantivy.rs` — analyzer =
  * SimpleTokenizer + LowerCaser + English stopwords (tantivy.rs:162-169),
  * postings `WithFreqsAndPositions` (172-175), search = QueryParser over
  * `body` + `TopDocs::with_limit(k).order_by_score()` (237-274), scores are
  * BM25 with the usual Lucene constants k1=1.2, b=0.75.
  *
  * Differences vs tantivy, by design:
  *  - field-length norms are exact token counts (tantivy/Lucene quantize them
  *    to 1 byte); scores are the textbook formula, rankings near-identical;
  *  - multi-term queries are disjunctive term sums (tantivy QueryParser
  *    default); phrase/boolean operators are not parsed yet.
  *
  * Scale design: [[buildIndex]] materializes the postings/doc-length tables
  * once (the expensive tokenize+explode+shuffle); [[searchIndex]] then only
  * touches `postings.filter(term IN queryTerms)` — a selective predicate that
  * prunes to a handful of terms (partition/bucket postings by term at write
  * time and the scan is surgical), followed by a broadcast of per-term DF
  * stats and a TakeOrderedAndProject top-k. No full-corpus pass per query.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Tantivy's English stopword set (StopWordFilter::new(Language::English),
    * tantivy.rs:163; behavior pinned by the reference test
    * `tokenize_removes_english_stop_words`, tantivy.rs:864-870). */
  val EnglishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will",
    "with")

  /** SimpleTokenizer + LowerCaser + stopword removal: split on runs of
    * non-alphanumeric (unicode-aware, tantivy.rs:855-877 tests), drop empties
    * and stopwords. Duplicates preserved (needed for term frequencies).
    * Native single-pass expression; regex formulation kept as its spec. */
  def tokenize(text: Column): Column =
    graft.functions.TokenizeExpr.tokens(text, EnglishStopwords)

  private[graft] def tokenizeRegex(text: Column): Column = {
    val toks = split(lower(text), "[^\\p{L}\\p{N}]+")
    filter(toks, t => length(t) > 0 && !t.isInCollection(EnglishStopwords))
  }

  /** Tokenize a query string on the driver with the same analyzer semantics
    * (distinct terms — a disjunctive BM25 query scores each term once).
    * Locale.ROOT so driver-side analysis matches the executor-side tokenizer
    * (UTF8String.toLowerCase is locale-independent). */
  def tokenizeQuery(query: String): Seq[String] =
    query.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").toSeq
      .filter(t => t.nonEmpty && !EnglishStopwords.contains(t)).distinct

  /** The materialized FTS index: postings + per-doc lengths + corpus stats. */
  final case class Index(
      postings: DataFrame, // (doc_id, term, tf)
      docLens: DataFrame, // (doc_id, dl)
      idCol: String)

  /** Build the index tables from a document DataFrame. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Index = {
    val toks = docs
      .select(col(idCol), explode(tokenize(col(textCol))).as("term"))
    val postings = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docLens = docs
      .select(col(idCol), size(tokenize(col(textCol))).as("dl"))
    Index(postings, docLens, idCol)
  }

  /** BM25 top-k over a built index.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5));
    * score(doc) = Σ_terms idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    */
  def searchIndex(index: Index, query: String, k: Int): DataFrame =
    scoreAll(index, query)
      .orderBy(col("score").desc, col(index.idCol).asc)
      .limit(k)

  /** All matching documents with their BM25 scores, unranked — callers pick
    * their own ordering/rounding (the oracle queries order on rounded scores
    * so cross-engine float ulps can't flip the k-boundary). */
  def scoreAll(index: Index, query: String): DataFrame = {
    val terms = tokenizeQuery(query)
    if (terms.isEmpty)
      // empty result with the SAME schema as the non-empty path (the id
      // column keeps whatever type the index carries)
      return index.docLens.select(col(index.idCol)).limit(0)
        .withColumn("score", lit(null).cast("double"))

    termScores(index, terms)
      .groupBy(col(index.idCol))
      .agg(sum(col("term_score")).as("score"))
  }

  /** Per-(doc, term) BM25 partial scores for a pruned term set — the shared
    * kernel of [[scoreAll]] and the boolean evaluator. Returns
    * (idCol, term, term_score); the SERVED plan touches the postings exactly
    * once for the whole set.
    *
    * Per-term document frequency is index METADATA — tantivy reads df from
    * the term dictionary, not by rescanning postings per query
    * (fts_index/tantivy.rs term dictionary lookups). The Spark-native
    * equivalent: one narrow pruned aggregate at query-build time (reads only
    * the term column of the matching rows), embedded as a literal map so the
    * scoring plan carries no second postings subtree.
    *
    * The `idf * tfNorm` formula has a scalar twin, [[termScore]], which the
    * resident postings ([[Resident.Text]]) score with once per posting:
    * change the two together. */
  private[graft] def termScores(index: Index, terms: Seq[String]): DataFrame = {
    // corpus stats: one tiny row, broadcast everywhere
    val stats = index.docLens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

    val matched = index.postings.filter(col("term").isInCollection(terms))
    val dfMap: Map[String, Double] = matched
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val present = terms.filter(dfMap.contains)
    if (present.isEmpty)
      return index.docLens.select(col(index.idCol)).limit(0)
        .withColumn("term", lit(null).cast("string"))
        .withColumn("term_score", lit(null).cast("double"))
    val dfLit = map(present.flatMap(t =>
      Seq(lit(t), lit(dfMap(t)))): _*)

    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

    matched
      .withColumn("df", dfLit.getItem(col("term")))
      .join(index.docLens, index.idCol)
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfNorm)
      .select(col(index.idCol), col("term"), col("term_score"))
  }

  /** One (doc, term) partial score of [[termScores]] on plain values, the
    * same operations in the same order: `n` documents, the term in `df` of
    * them, `tf` times in this one of length `dl`, mean length `avgdl`.
    * Spark's LOG is `StrictMath.log`. The twin of [[termScores]]'s Column
    * formula, kept as scalar code because it runs once per posting: change
    * the two together (`ResidentSpec` compares their replies byte for
    * byte). */
  private[graft] def termScore(n: Double, df: Double, tf: Long, dl: Int, avgdl: Double): Double = {
    val idf = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val tfNorm = (tf.toDouble * (K1 + 1.0)) /
      (tf.toDouble + K1 * ((1.0 - B) + B * dl.toDouble / avgdl))
    idf * tfNorm
  }

  // ---- phrase queries (F11) ------------------------------------------------

  /** Positional postings (tantivy indexes WithFreqsAndPositions,
    * tantivy.rs:172-175): (id, term, tf, positions sorted asc). */
  final case class PosIndex(postings: DataFrame, docLens: DataFrame, idCol: String)

  def buildPositionalIndex(docs: DataFrame, idCol: String, textCol: String): PosIndex = {
    val toks = docs.select(col(idCol),
      posexplode(tokenize(col(textCol))).as(Seq("pos", "term")))
    val postings = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
    val docLens = docs.select(col(idCol), size(tokenize(col(textCol))).as("dl"))
    PosIndex(postings, docLens, idCol)
  }

  /** Exact phrase search: documents where the phrase terms occur at
    * consecutive positions. Scored like tantivy's PhraseQuery — BM25 with
    * tf = phrase frequency (number of aligned starts) and df = number of
    * documents containing the phrase. */
  def searchPhrase(index: PosIndex, phrase: String, k: Int): DataFrame = {
    val terms = phrase.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").toSeq
      .filter(t => t.nonEmpty && !EnglishStopwords.contains(t))
    require(terms.nonEmpty, "phrase has no indexable terms")

    // per term i: positions shifted by -i; phrase starts = intersection
    val aligned = terms.zipWithIndex.map { case (t, i) =>
      index.postings.filter(col("term") === t)
        .select(col(index.idCol),
          transform(col("positions"), p => p - i).as(s"_p$i"))
    }.reduce((a, b) => a.join(b, index.idCol))
    val starts = (0 until terms.length).map(i => col(s"_p$i"))
      .reduce((a, b) => array_intersect(a, b))
    val matches = aligned
      .withColumn("ptf", size(starts))
      .filter(col("ptf") > 0)
      .select(col(index.idCol), col("ptf"))

    val stats = index.docLens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfPhrase = matches.agg(count(lit(1)).cast("double").as("df"))

    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("ptf") * (K1 + 1.0)) /
      (col("ptf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    matches
      .join(index.docLens, index.idCol)
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfPhrase))
      .withColumn("score", idf * tfNorm)
      .select(col(index.idCol), col("score"))
      .orderBy(col("score").desc, col(index.idCol).asc)
      .limit(k)
  }

  // ---- boolean query language (F11) ----------------------------------------

  /** Parsed query AST — the tantivy QueryParser subset the reference's
    * validator pins (fts.rs:248-315 and 561-599: bare terms, "phrases",
    * AND / OR / NOT, parenthesised groups). */
  sealed trait QueryNode
  object QueryNode {
    final case class Term(term: String) extends QueryNode
    final case class Phrase(terms: Seq[String]) extends QueryNode
    final case class And(clauses: Seq[QueryNode]) extends QueryNode
    final case class Or(clauses: Seq[QueryNode]) extends QueryNode
    final case class Not(clause: QueryNode) extends QueryNode
  }

  /** Parse a query string into a [[QueryNode]].
    *
    * Grammar (operators must be upper-case, as in tantivy):
    * {{{
    *   or    := and ((OR | <adjacency>) and)*       // bare adjacency = OR,
    *   and   := unary ((AND | NOT) unary)*          // tantivy's default
    *   unary := NOT unary | primary                 // a NOT b == a AND NOT b
    *   primary := '(' or ')' | '"' words '"' | word
    * }}}
    * Terms are analyzed with the index analyzer (lowercase + stopword drop);
    * clauses that analyze to nothing vanish, as tantivy's analyzer chain does.
    * Reference: fts_index/tantivy.rs:237-246 (QueryParser::for_index over the
    * body field; tantivy's default conjunction is OR).
    */
  def parseQuery(query: String): Option[QueryNode] = {
    val tokens = tokenizeQueryString(query)
    if (tokens.isEmpty) return None
    val p = new BoolParser(tokens)
    val node = p.parseOr()
    require(p.exhausted, s"trailing input in query: $query")
    prune(node)
  }

  private sealed trait Tok
  private case object LParen extends Tok
  private case object RParen extends Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object NotTok extends Tok
  private final case class PhraseTok(body: String) extends Tok
  private final case class WordTok(w: String) extends Tok

  private def tokenizeQueryString(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      q.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => out += LParen; i += 1
        case ')' => out += RParen; i += 1
        case '"' =>
          val end = q.indexOf('"', i + 1)
          require(end > 0, s"unterminated phrase in query: $q")
          out += PhraseTok(q.substring(i + 1, end)); i = end + 1
        case _ =>
          var j = i
          while (j < q.length && !q.charAt(j).isWhitespace &&
            q.charAt(j) != '(' && q.charAt(j) != ')' && q.charAt(j) != '"') j += 1
          q.substring(i, j) match {
            case "AND" => out += AndTok
            case "OR" => out += OrTok
            case "NOT" => out += NotTok
            case w => out += WordTok(w)
          }
          i = j
      }
    }
    out.result()
  }

  /** Analyzer chain for query text: lowercase, split, drop stopwords —
    * token order and repeats preserved (phrases need positions). */
  private def analyze(body: String): Seq[String] =
    body.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").toSeq
      .filter(t => t.nonEmpty && !EnglishStopwords.contains(t))

  private final class BoolParser(tokens: Vector[Tok]) {
    private var pos = 0
    def exhausted: Boolean = pos == tokens.length
    private def peek: Option[Tok] = if (exhausted) None else Some(tokens(pos))
    private def startsPrimary(t: Tok): Boolean = t match {
      case LParen | NotTok | PhraseTok(_) | WordTok(_) => true
      case _ => false
    }

    def parseOr(): QueryNode = {
      val clauses = Vector.newBuilder[QueryNode]
      clauses += parseAnd()
      var more = true
      while (more) peek match {
        case Some(OrTok) => pos += 1; clauses += parseAnd()
        case Some(t) if startsPrimary(t) => clauses += parseAnd() // adjacency
        case _ => more = false
      }
      clauses.result() match {
        case Vector(one) => one
        case many => QueryNode.Or(many)
      }
    }

    private def parseAnd(): QueryNode = {
      val clauses = Vector.newBuilder[QueryNode]
      clauses += parseUnary()
      var more = true
      while (more) peek match {
        case Some(AndTok) => pos += 1; clauses += parseUnary()
        case Some(NotTok) => pos += 1; clauses += QueryNode.Not(parseUnary())
        case _ => more = false
      }
      clauses.result() match {
        case Vector(one) => one
        case many => QueryNode.And(many)
      }
    }

    private def parseUnary(): QueryNode = peek match {
      case Some(NotTok) => pos += 1; QueryNode.Not(parseUnary())
      case _ => parsePrimary()
    }

    private def parsePrimary(): QueryNode = peek match {
      case Some(LParen) =>
        pos += 1
        val inner = parseOr()
        require(peek.contains(RParen), "unbalanced parentheses in query")
        pos += 1
        inner
      case Some(PhraseTok(body)) =>
        pos += 1
        QueryNode.Phrase(analyze(body))
      case Some(WordTok(w)) =>
        pos += 1
        // A bare word that analyzes to multiple tokens (e.g. "foo-bar")
        // becomes a phrase query, tantivy QueryParser's default for
        // multi-token terms; 0 tokens → empty Term, dropped by prune.
        analyze(w) match {
          case Seq() => QueryNode.Term("")
          case Seq(one) => QueryNode.Term(one)
          case many => QueryNode.Phrase(many)
        }
      case other =>
        throw new IllegalArgumentException(s"unexpected token $other in query")
    }
  }

  /** Drop clauses the analyzer emptied (stopword-only terms/phrases), the way
    * tantivy's analyzer chain silently drops them. */
  private def prune(n: QueryNode): Option[QueryNode] = n match {
    case QueryNode.Term("") => None
    case t: QueryNode.Term => Some(t)
    case QueryNode.Phrase(Nil) => None
    case QueryNode.Phrase(Seq(one)) => Some(QueryNode.Term(one))
    case p: QueryNode.Phrase => Some(p)
    case QueryNode.Not(c) => prune(c).map(QueryNode.Not)
    case QueryNode.And(cs) =>
      val kept = cs.flatMap(prune)
      if (kept.isEmpty) None
      else if (kept.length == 1) Some(kept.head)
      else Some(QueryNode.And(kept))
    case QueryNode.Or(cs) =>
      val kept = cs.flatMap(prune)
      if (kept.isEmpty) None
      else if (kept.length == 1) Some(kept.head)
      else Some(QueryNode.Or(kept))
  }

  private def collectTerms(n: QueryNode): Seq[String] = n match {
    case QueryNode.Term(t) => Seq(t)
    case QueryNode.Phrase(_) => Nil // phrases go through the positional index
    case QueryNode.And(cs) => cs.flatMap(collectTerms)
    case QueryNode.Or(cs) => cs.flatMap(collectTerms)
    case QueryNode.Not(c) => collectTerms(c)
  }

  private def collectPhrases(n: QueryNode): Seq[Seq[String]] = n match {
    case QueryNode.Phrase(ps) => Seq(ps)
    case QueryNode.And(cs) => cs.flatMap(collectPhrases)
    case QueryNode.Or(cs) => cs.flatMap(collectPhrases)
    case QueryNode.Not(c) => collectPhrases(c)
    case _ => Nil
  }

  private def hasPhrase(n: QueryNode): Boolean = n match {
    case QueryNode.Phrase(_) => true
    case QueryNode.And(cs) => cs.exists(hasPhrase)
    case QueryNode.Or(cs) => cs.exists(hasPhrase)
    case QueryNode.Not(c) => hasPhrase(c)
    case _ => false
  }

  /** Evaluate a parsed boolean query to per-doc scores (unranked), tantivy
    * BooleanQuery semantics: a doc matches an AND if it matches every
    * positive clause and no NOT clause; an OR if it matches any clause;
    * score = sum of the matched positive clauses' BM25 scores (MustNot
    * clauses never contribute score). A NOT under an OR is lifted to a
    * MustNot on the enclosing boolean (tantivy QueryParser behavior), so
    * "turtle OR NOT fox" excludes every doc containing fox; a query with
    * no positive clause matches nothing.
    *
    * All term leaves share ONE pruned postings pass ([[termScores]]),
    * pivoted to one row per candidate doc (`map<term, score>`); the whole
    * boolean structure then compiles to a single (match, score) EXPRESSION
    * over that row — an n-clause query is one scan + one aggregate + one
    * projection, not n postings subtrees. Phrase leaves are the only extra
    * frames: each distinct phrase runs once against the positional index and
    * full-outer-joins into the candidate row. */
  def scoreBoolean(index: Index, posIndex: () => PosIndex, query: String): DataFrame = {
    val idCol = index.idCol
    val emptyResult = index.docLens.select(col(idCol)).limit(0)
      .withColumn("score", lit(null).cast("double"))
    val root = parseQuery(query).getOrElse(return emptyResult)

    val terms = collectTerms(root).distinct
    // ONE pruned postings pass, pivoted: (id, _m: map<term, term_score>).
    // Candidate docs = docs containing any query term (negated terms
    // included — the match expression needs to SEE them to exclude).
    val termDoc: Option[DataFrame] =
      if (terms.isEmpty) None
      else Some(termScores(index, terms)
        .groupBy(col(idCol))
        .agg(map_from_entries(collect_list(struct(col("term"), col("term_score"))))
          .as("_m")))

    // each DISTINCT phrase evaluated once against the positional index
    lazy val pidx = posIndex()
    val phrases = collectPhrases(root).distinct
    val phraseCol = phrases.zipWithIndex.map { case (p, i) => p -> s"_p$i" }.toMap
    val phraseFrames = phrases.map { p =>
      searchPhrase(pidx, p.mkString(" "), Int.MaxValue)
        .select(col(idCol), col("score").as(phraseCol(p)))
    }

    val frames = termDoc.toSeq ++ phraseFrames
    if (frames.isEmpty) return emptyResult
    val candidates = frames.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))

    // compile the AST to (matches, score) column expressions; tantivy
    // BooleanQuery semantics: a doc matches an AND if it matches every
    // positive clause and no NOT clause, an OR if it matches any positive
    // clause and no (lifted) NOT clause; score = sum of matched positive
    // clauses' scores, MustNot clauses never contribute score.
    def eval(n: QueryNode): (Column, Column) = n match {
      case QueryNode.Term(t) =>
        val s = col("_m").getItem(t)
        (s.isNotNull, coalesce(s, lit(0.0)))
      case QueryNode.Phrase(ps) =>
        val s = col(phraseCol(ps))
        (s.isNotNull, coalesce(s, lit(0.0)))
      case QueryNode.Or(cs) =>
        val (neg, pos) = cs.partition(_.isInstanceOf[QueryNode.Not])
        if (pos.isEmpty) (lit(false), lit(0.0))
        else {
          val evs = pos.map(eval)
          // tantivy's QueryParser lifts a NOT inside an OR to a MustNot on
          // the enclosing boolean: "turtle OR NOT fox" excludes any doc
          // containing fox, even if it also contains turtle.
          val negs = neg.map { nn =>
            val QueryNode.Not(c) = nn: @unchecked
            eval(c)._1
          }
          val matches = negs.foldLeft(evs.map(_._1).reduce(_ || _))(_ && !_)
          val score = evs.map { case (m, s) => when(m, s).otherwise(lit(0.0)) }
            .reduce(_ + _)
          (matches, score)
        }
      case QueryNode.And(cs) =>
        val (neg, pos) = cs.partition(_.isInstanceOf[QueryNode.Not])
        if (pos.isEmpty) (lit(false), lit(0.0))
        else {
          val evs = pos.map(eval)
          val negs = neg.map { nn =>
            val QueryNode.Not(c) = nn: @unchecked
            eval(c)._1
          }
          val matches = negs.foldLeft(evs.map(_._1).reduce(_ && _))(_ && !_)
          (matches, evs.map(_._2).reduce(_ + _))
        }
      case QueryNode.Not(_) => (lit(false), lit(0.0)) // bare NOT matches nothing
    }
    val (matches, score) = eval(root)
    candidates.filter(matches).select(col(idCol), score.as("score"))
  }

  /** Parsed query search over prebuilt indexes: boolean operators, phrases,
    * bare disjunctive terms. Top-k by score with id tiebreak. */
  def searchParsed(index: Index, posIndex: () => PosIndex,
      query: String, k: Int): DataFrame =
    scoreBoolean(index, posIndex, query)
      .orderBy(col("score").desc, col(index.idCol).asc)
      .limit(k)

  /** One-shot convenience over a raw document table (builds the positional
    * index only when the query actually contains a phrase). */
  def searchParsed(docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int): DataFrame =
    if (parseQuery(query).exists(hasPhrase)) {
      // one tokenize pass: the positional postings double as the tf postings
      val pidx = buildPositionalIndex(docs, idCol, textCol)
      val idx = Index(pidx.postings.select(col(idCol), col("term"), col("tf")),
        pidx.docLens, idCol)
      searchParsed(idx, () => pidx, query, k)
    } else
      searchParsed(buildIndex(docs, idCol, textCol),
        () => buildPositionalIndex(docs, idCol, textCol), query, k)

  /** Batched multi-query BM25: a whole query set evaluated in one plan —
    * the postings are touched once for the union of all query terms; per
    * (query, doc) scores aggregate map-side; top-k per query goes through
    * the WindowGroupLimit partial-top-k optimization (same shape as batched
    * ANN). At corpus scale this beats issuing queries one at a time by the
    * number of queries.
    *
    * @param queries (query_id, query_text) — the small side, broadcast */
  def searchIndexBatch(index: Index, queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val queryTerms = queries
      .flatMap { case (qid, q) => tokenizeQuery(q).map(t => (qid, t)) }
      .toDF("query_id", "term")
    val allTerms = queryTerms.select("term").distinct()

    val stats = index.docLens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val matched = index.postings.join(broadcast(allTerms), "term")
    val dfs = matched.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(index.idCol).asc)
    matched
      .join(broadcast(queryTerms), "term") // fan out to the queries wanting each term
      .join(broadcast(dfs), "term")
      .join(index.docLens, index.idCol)
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfNorm)
      .groupBy(col("query_id"), col(index.idCol))
      .agg(sum(col("term_score")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(index.idCol), col("score"), col("rank"))
  }

  /** One-shot convenience: build + search (what the HTTP bm25 route does
    * end-to-end, httproutes.rs:906-1054). */
  def search(docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int): DataFrame =
    searchIndex(buildIndex(docs, idCol, textCol), query, k)

  /** FTS stats surface (A2): num_docs + total tokens. */
  def stats(index: Index): DataFrame =
    index.docLens.agg(
      count(lit(1)).as("num_docs"),
      sum(col("dl")).as("total_tokens"))
}
