package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, n-gram/stopword language ID, order-sensitive document
  * fingerprinting. All integer/ratio arithmetic — exactly reproducible
  * cross-engine (no model weights, no randomness).
  *
  * These extend the reference's surface (its only text machinery is the FTS
  * analyzer, fts_index/tantivy.rs:162-169) with the corpus-hygiene operators
  * a 100 TB ingest needs. Everything is a per-row projection or a single
  * aggregation — embarrassingly parallel, no shuffles except final groupBys.
  */
object TextAnalysis {

  /** Whitespace tokens (empty-safe). */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish subword segmentation via regex: alphabetic runs, single digits,
    * single punctuation marks — a deterministic stand-in for a learned BPE
    * vocabulary with the same asymptotic count behavior. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** Per-document counting/ratio columns:
    * n_chars, ws_tokens, bpeish_tokens, alpha_ratio, punct_ratio. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      size(wsTokens(t)).as("n_ws_tokens"),
      size(bpeishTokens(t)).as("n_bpeish_tokens"),
      (length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") / length(t))
        .as("alpha_ratio"),
      (length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", "")).cast("double") / length(t))
        .as("punct_ratio"))
  }

  /** Quality signals: stopword ratio (fluency proxy), mean word length,
    * and a composite keep/drop flag with the usual web-corpus thresholds. */
  def quality(
      df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 50, maxChars: Int = 100000,
      minStopwordRatio: Double = 0.01, maxMeanWordLen: Double = 15.0): DataFrame = {
    val allToks = wsTokens(col(textCol))
    val nAll = size(allToks)
    val stopCount = size(filter(
      Dedup.tokens(col(textCol)),
      t => t.isInCollection(Bm25.EnglishStopwords)))
    val meanLen = aggregate(allToks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nAll
    val stopRatio = stopCount.cast("double") / greatest(size(Dedup.tokens(col(textCol))), lit(1))
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      stopRatio.as("stopword_ratio"),
      meanLen.as("mean_word_len"),
      (length(col(textCol)).between(minChars, maxChars) &&
        stopRatio >= minStopwordRatio &&
        meanLen <= maxMeanWordLen).as("keep"))
  }

  /** Tiny per-language function-word lists (public, frequency-ordered). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "en" -> Seq("the", "of", "and", "to", "in", "is", "you", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"))

  /** Stopword-hit-ratio language ID: predicted language = argmax over
    * per-language function-word hit ratios; ties break alphabetically
    * (deterministic). Emits the predicted code + its ratio. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val nToks = greatest(size(toks), lit(1))
    // struct(ratio, priority, lang): greatest() picks max ratio, then the
    // alphabetically-first language via descending priority
    val scored = LangStopwords.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        (size(filter(toks, t => t.isInCollection(words))).cast("double") / nToks).as("r"),
        lit(LangStopwords.length - i).as("pri"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    df.select(
      col(idCol),
      best.getField("lang").as("pred_lang"),
      best.getField("r").as("hit_ratio"))
  }

  /** Order-sensitive rolling polynomial fingerprint over token hashes:
    * h ← (h·B + hash31(token)) mod P. Unlike SimHash (a bag-of-words sketch)
    * this distinguishes permuted documents. */
  val RollBase = 1000003L
  val RollPrime: Long = Dedup.MinhashPrime // 2^31−1 keeps products < 2^62
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashes = transform(Dedup.tokens(col(textCol)),
      t => Dedup.stableHash(t) % RollPrime)
    df.select(
      col(idCol),
      aggregate(hashes, lit(0L),
        (acc, h) => (acc * RollBase + h) % RollPrime).as("fingerprint"))
  }

  /** Corpus-level token accounting, grouped by a metadata column (the
    * "how many tokens per source/language" pipeline report). */
  def tokenReport(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(wsTokens(col(textCol)))).as("ws_tokens"),
        sum(size(bpeishTokens(col(textCol)))).as("bpeish_tokens"),
        sum(length(col(textCol))).as("chars"))

  /** Repetition score (the Gopher-rules repetition filter family): the
    * share of a document's tokens claimed by its single most frequent word
    * bigram — boilerplate and degenerate generations repeat short n-grams;
    * clean prose doesn't. `rep_ratio = min(1, 2 · max_bigram_count / n)`:
    * the raw product double-counts tokens shared by self-overlapping
    * occurrences ("a a a a" has 3 occurrences of "a a" over 4 tokens), so
    * the cap keeps the signal a true [0, 1] fraction for threshold
    * filters. Deterministic ratio arithmetic, exactly SQL-replayable.
    *
    * Scale shape: per-doc explode → (doc, bigram) count → per-doc max —
    * all partial-aggregatable; nothing crosses documents. */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), Dedup.tokens(col(textCol)).as("_ts"))
      .filter(size(col("_ts")) >= 2)
    val bigrams = toks.select(col(idCol), size(col("_ts")).as("n_tokens"),
      explode(transform(sequence(lit(0), size(col("_ts")) - 2),
        i => concat_ws(" ", slice(col("_ts"), i + 1, lit(2))))).as("bigram"))
    bigrams
      .groupBy(col(idCol), col("n_tokens"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(max(col("cnt")).as("top_bigram_count"))
      .select(col(idCol), col("n_tokens"), col("top_bigram_count"),
        (round(least(lit(1.0),
          col("top_bigram_count") * lit(2).cast("double") / col("n_tokens")), 6) + lit(0.0))
          .as("rep_ratio"))
  }

  /** Per-group corpus distribution report: document count plus exact
    * interpolated percentiles (p50/p90/p99) of whitespace-token and
    * character counts — the shape of the "what does each source look
    * like" audit that precedes mixture decisions. Exact `percentile`
    * (not approx) so the numbers are engine-reproducible; one shuffle on
    * the group key, per-row projections before it.
    *
    * At 100 TB exact percentiles mean a per-group sort of the (group,
    * count) pairs — two narrow ints per doc, far below the shuffle the
    * text itself would cost; swap in percentile_approx only if the group
    * count histogram itself stops fitting. */
  def corpusReport(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val pcts = Seq("0.5" -> "p50", "0.9" -> "p90", "0.99" -> "p99")
    val aggs =
      pcts.map { case (p, n) => expr(s"percentile(_nt, ${p}D)").as(s"${n}_tokens") } ++
      pcts.map { case (p, n) => expr(s"percentile(_nc, ${p}D)").as(s"${n}_chars") }
    df.select(col(groupCol), size(wsTokens(col(textCol))).as("_nt"),
        length(col(textCol)).as("_nc"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .select(col(groupCol) +: col("n_docs") +:
        pcts.flatMap { case (_, n) => Seq(s"${n}_tokens", s"${n}_chars") }
          .map(c => (round(col(c), 6) + lit(0.0)).as(c)): _*)
  }

  /** The at-scale twin of [[corpusReport]]: same shape, percentile_approx
    * (Greenwald-Khanna sketch, mergeable ⇒ fully partial-aggregating — no
    * per-group sort at any group size). `accuracy` trades memory for error
    * (guarantee: rank error ≤ n/accuracy). The swap the exact report's
    * scaladoc promises when even the (group, count) histogram outgrows a
    * group; accuracy pinned against the exact report in TextAnalysisSpec. */
  def corpusReportApprox(
      df: DataFrame, groupCol: String, textCol: String,
      accuracy: Int = 10000): DataFrame = {
    val pcts = Seq("0.5" -> "p50", "0.9" -> "p90", "0.99" -> "p99")
    val aggs =
      pcts.map { case (p, n) =>
        expr(s"percentile_approx(_nt, ${p}D, $accuracy)").as(s"${n}_tokens") } ++
      pcts.map { case (p, n) =>
        expr(s"percentile_approx(_nc, ${p}D, $accuracy)").as(s"${n}_chars") }
    df.select(col(groupCol), size(wsTokens(col(textCol))).as("_nt"),
        length(col(textCol)).as("_nc"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** Exact-substring duplication signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", 2021: substring dedup at
    * 50-token granularity): per document, the fraction of its L-token
    * windows that occur verbatim in at least one OTHER document. Where
    * MinHash/Jaccard judge whole documents, this localizes duplication to
    * spans — the signal behind cut-the-span dedup of boilerplate headers,
    * license blocks, and templated passages.
    *
    * Cross-document only (`count distinct doc ≥ 2`): within-document
    * repetition is [[repetitionScore]]'s job. Windows are every position
    * (not distinct-per-doc like [[Dedup.shingles]]) so the fraction weighs
    * a repeated span by its length share.
    *
    * Scale shape: the windows shuffle as (hash, id) longs for the
    * document-frequency aggregate, then join back on the hash — the same
    * equi-join skeleton as the shingle store; document text never
    * shuffles. A df skew cap is unnecessary: a boilerplate span inflates
    * its own count, not a join fan-out (the join key is unique per
    * (window, doc) on the left). */
  def duplicatedSpanFraction(
      df: DataFrame, idCol: String, textCol: String,
      windowLen: Int = 10): DataFrame =
    // the window relation feeds both the df aggregate and the join side;
    // like the lm_score tf subtree, the inline form deliberately recomputes
    // it (cache+checkpoint measured slower at sf0.1 for that shape —
    // PERF.md round 5). At corpus scale, materialize [[spanWindows]] as a
    // store and feed [[duplicatedSpanFractionFromWindows]].
    duplicatedSpanFractionFromWindows(
      spanWindows(df, idCol, textCol, windowLen), idCol)

  /** The (id, window-hash) relation over every L-token window position —
    * the store shape [[duplicatedSpanFractionFromWindows]] serves from
    * (an index artifact like the shingle store, but positional: one row
    * per window occurrence, not distinct per doc). */
  def spanWindows(
      df: DataFrame, idCol: String, textCol: String, windowLen: Int): DataFrame =
    df.select(col(idCol), Dedup.tokens(col(textCol)).as("_ts"))
      .filter(size(col("_ts")) >= windowLen)
      .select(col(idCol), explode(
        transform(sequence(lit(0), size(col("_ts")) - windowLen),
          i => concat_ws(" ", slice(col("_ts"), i + 1, lit(windowLen))))).as("_w"))
      .select(col(idCol), Dedup.stableHash(col("_w")).as("_h"))

  /** [[duplicatedSpanFraction]] over a prebuilt (id, _h) window table. */
  def duplicatedSpanFractionFromWindows(w: DataFrame, idCol: String): DataFrame = {
    val docsPerSpan = w.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_docs"))
    w.join(docsPerSpan, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("dup_windows"))
      .withColumn("dup_fraction",
        round(col("dup_windows").cast("double") / col("n_windows"), 6) + lit(0.0))
  }

  /** Exact-substring scrub — the REMOVAL step of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"):
    * rewrite each document's token stream with every token covered by a
    * cross-document duplicated L-token window dropped.
    * [[duplicatedSpanFraction]] is the scoring view of the same window
    * relation; this produces the scrubbed corpus — boilerplate headers,
    * license blocks and syndicated paragraphs survive document-LEVEL
    * dedup verbatim, and sub-document removal is what actually takes
    * them out of the training mix. Output is the canonical token stream
    * (lowercased, delimiter-normalized — what a tokenizer consumes), not
    * the raw bytes; `n_tokens`/`n_dropped` quantify the rewrite.
    *
    * Scale shape: the window relation shuffles (hash, id, start) longs —
    * never text; duplicated starts explode to ≤ L ints each and collapse
    * to ONE covered-position set per touched doc; the rewrite is a
    * stateless position-indexed array filter in the final projection.
    * Document text never shuffles — the only join against the corpus is
    * an id equi-join of the narrow covered-set side. Within-doc repeats
    * are NOT scrubbed (df counts distinct docs), matching the scoring
    * view's cross-doc-only definition. */
  def spanScrub(
      df: DataFrame, idCol: String, textCol: String,
      windowLen: Int = 10, minDocs: Int = 2): DataFrame = {
    require(windowLen >= 1 && minDocs >= 2,
      s"need windowLen >= 1, minDocs >= 2, got ($windowLen, $minDocs)")
    // (id, 0-based window start, window hash) — one row per POSITION,
    // the same relation spanWindows builds minus the slide offset
    val wins = df
      .select(col(idCol), Dedup.tokens(col(textCol)).as("_ts"))
      .filter(size(col("_ts")) >= windowLen)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("_ts")) - (windowLen - 1)),
        s => Dedup.stableHash(
          concat_ws(" ", slice(col("_ts"), s, lit(windowLen)))))))
      .toDF(idCol, "_s", "_h")
    val dupHashes = wins.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_h"))
    // one covered-position set per touched doc (positions are ints
    // bounded by the doc's token count — the set is doc-sized worst case)
    val covered = wins.join(dupHashes, "_h")
      .select(col(idCol),
        explode(sequence(col("_s"), col("_s") + (windowLen - 1))).as("_ci"))
      .groupBy(col(idCol))
      .agg(collect_set(col("_ci")).as("_cov"))
    val ts = Dedup.tokens(col(textCol))
    df.join(covered, Seq(idCol), "left")
      .select(col(idCol), ts.as("_ts"),
        coalesce(col("_cov"), array().cast("array<int>")).as("_cov"))
      .select(col(idCol),
        size(col("_ts")).as("n_tokens"),
        size(col("_cov")).as("n_dropped"),
        concat_ws(" ", filter(col("_ts"),
          (t, i) => !array_contains(col("_cov"), i))).as("clean_text"))
  }

  /** Corpus unigram language-model score: mean per-token log-probability
    * of each document under the corpus's own unigram distribution —
    * `(1/|d|) Σ_t ln(count(t)/N)`. The CCNet-style fluency signal: gibberish
    * and boilerplate land far from the corpus mode. Self-contained (the
    * "model" is one aggregation over the same corpus), deterministic, and
    * exactly re-derivable in SQL.
    *
    * Scale shape: one token explode + one (term) aggregation for the model,
    * one (term) equi-join + one (doc) aggregation for the scores; the two
    * scalar totals broadcast. Vocabulary is the only shuffled key domain —
    * ~1e7 terms at web scale, never documents×vocab. */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Σ_occurrences ln(p) = Σ_terms tf·ln(p), absorbed by the 4-decimal
    // rounding like every sum-ordered score here. The inline tf recomputes
    // per branch (an explicit cache+checkpoint measured SLOWER at sf0.1 —
    // see PERF.md round 5); at corpus scale, feed a materialized tf store
    // through [[lmScoreFromTf]] instead, like the dedup/postings stores.
    lmScoreFromTf(termFrequencies(df, idCol, textCol), idCol)
  }

  /** Unigram-distribution shape per document: Shannon entropy (nats) and
    * type-token ratio — the lexical-diversity quality signals (template
    * text and keyboard-mash sit at low entropy even when no span repeats,
    * complementing [[repetitionScore]]'s bigram view). H computed as
    * ln n − (Σ tf·ln tf)/n over the per-doc term frequencies — one (id,
    * term) aggregate plus a narrow per-id aggregate; the float sum order
    * is absorbed by the 4-decimal rounding like every sum-ordered score
    * here. Token-less docs are absent by construction. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenEntropyFromTf(termFrequencies(df, idCol, textCol), idCol)

  /** [[tokenEntropy]] over a prebuilt (id, term, tf) store. */
  def tokenEntropyFromTf(tf: DataFrame, idCol: String): DataFrame =
    tf.groupBy(col(idCol)).agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("tf").cast("double") * log(col("tf").cast("double"))).as("_stl"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens").cast("double")) - col("_stl") / col("n_tokens"), 4)
          .as("entropy"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))

  /** (id, term, tf) aggregate over the raw (unfiltered) tokens — the store
    * shape [[lmScoreFromTf]]/[[tfidfTopTermsFromTf]] serve from. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))

  /** [[lmScore]] over a prebuilt (id, term, tf) table — ONE narrow store
    * scan per branch instead of re-tokenizing the corpus. */
  def lmScoreFromTf(tf: DataFrame, idCol: String): DataFrame = {
    val model = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("n_total"))
    tf.join(model, "term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * log(col("cnt").cast("double") / col("n_total"))).as("_s"))
      .select(col(idCol), col("n_tokens"),
        (round(col("_s") / col("n_tokens"), 4) + lit(0.0)).as("lm_score"))
  }

  /** Classifier-based quality scoring — the "train a linear classifier on
    * known-good vs known-bad text, keep what scores well" step of modern
    * LLM data pipelines (CCNet/fastText-style), as a multinomial Naive
    * Bayes log-odds model: it IS a linear classifier over token counts,
    * but unlike an iteratively-fit one both training and serving are plain
    * aggregations — exactly reproducible in any engine, no opaque
    * optimizer state.
    *
    * `score(d) = ln(P(pos)/P(neg)) + Σ_t tf_t · [ln p(t|pos) − ln p(t|neg)]`
    * with Laplace smoothing α=1 over the shared vocabulary.
    *
    * Scale shape: training = one (term, class) count aggregation (vocab-
    * sized keys) + two broadcast scalars; serving = one equi-join of doc
    * term frequencies against the per-term log-odds and a per-doc sum —
    * the model "weights" never leave the cluster, and every stage is
    * partial-aggregatable. Train on a labeled sample, serve the corpus. */
  def nbQualityScore(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val toks = df.select(col(idCol), labelCol.cast("boolean").as("_y"),
      explode(Dedup.tokens(col(textCol))).as("term"))
    // tf feeds BOTH the class-count model and the scoring join — without
    // the checkpoint the tokenize→explode→aggregate lineage (the widest
    // pass in the query) executes twice; the materialized frame is the
    // per-doc distinct-term table, far narrower than the token stream
    // (r12, guide §2.4: one exchange shared instead of recomputed).
    // Routed through CheckpointPolicy (r13, VERDICT r12 #4): under Local
    // this is the same eager localCheckpoint as before; cluster callers
    // pass Reliable so the O(corpus) frame is a persisted block WITH a
    // recompute path instead of lineage-free executor state an executor
    // loss would kill the job over.
    val tf = policy.midRound(toks.groupBy(col(idCol), col("_y"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val cls = tf.groupBy(col("term")).agg(
      sum(when(col("_y"), col("tf")).otherwise(0L)).as("cp"),
      sum(when(!col("_y"), col("tf")).otherwise(0L)).as("cn"))
    val totals = cls.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val priors = df.agg(
      sum(when(labelCol.cast("boolean"), 1L).otherwise(0L)).as("dp"),
      sum(when(!labelCol.cast("boolean"), 1L).otherwise(0L)).as("dn"))
    val logOdds =
      log((col("cp") + 1).cast("double") / (col("np") + col("v"))) -
        log((col("cn") + 1).cast("double") / (col("nn") + col("v")))
    tf.join(cls, "term")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(priors))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * logOdds).as("_s"),
        max(log((col("dp") + 1).cast("double") / (col("dn") + 1))).as("_prior"))
      .select(col(idCol), col("n_tokens"),
        (round(col("_prior") + col("_s"), 4) + lit(0.0)).as("nb_score"))
  }

  /** Interpolated bigram language-model score (Jelinek–Mercer: λ on the
    * bigram MLE, the rest on the corpus unigram):
    * `p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N`, score = mean ln p over
    * a document's transitions. The second-order fluency signal — word
    * salad with plausible unigrams but implausible transitions scores low
    * where [[lmScore]] cannot see it. λ defaults to 0.5 (exact in binary,
    * so the oracle's literal folds identically).
    *
    * Scale shape: bigrams FORM via zip_with over shifted slices (no
    * shuffle, no per-position re-tokenization); the bigram and unigram
    * models are (key, count) aggregations — vocab-sized key domains, never
    * documents×vocab; scoring is equi-joins against the models plus one
    * per-doc aggregation, all partial-aggregatable. At corpus scale the
    * models are ingest-time store artifacts like the tf store. */
  def lmScoreBigram(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.5): DataFrame = {
    val toks = df.select(col(idCol), Dedup.tokens(col(textCol)).as("_ts"))
    val bigrams = toks.filter(size(col("_ts")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("_ts"), lit(1), size(col("_ts")) - 1),
        slice(col("_ts"), lit(2), size(col("_ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val biTf = bigrams.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("btf"))
    val biModel = biTf.groupBy(col("w1"), col("w2")).agg(sum(col("btf")).as("bcnt"))
    // unigram model from the SAME token arrays (toks is unfiltered, so
    // 1-token docs still count) — never a second tokenization of the corpus
    val uniModel = toks.select(explode(col("_ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = uniModel.agg(sum(col("cnt")).as("n_total"))
    biTf
      .join(biModel, Seq("w1", "w2"))
      .join(uniModel.select(col("term").as("w1"), col("cnt").as("c1")), "w1")
      .join(uniModel.select(col("term").as("w2"), col("cnt").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("btf")).as("n_transitions"),
        sum(col("btf") * log(
          lit(lambda) * col("bcnt").cast("double") / col("c1") +
            lit(1 - lambda) * col("c2").cast("double") / col("n_total"))).as("_s"))
      .select(col(idCol), col("n_transitions"),
        (round(col("_s") / col("n_transitions"), 4) + lit(0.0)).as("lm2_score"))
  }

  /** Per-document top-k terms by tf·idf (idf = ln(n_docs/df)), ranked on
    * the ROUNDED score with a term tiebreak so the k-boundary is stable
    * cross-engine. The "what is this document about" projection.
    *
    * Scale shape: (doc,term) tf aggregate, (term) df aggregate, (term)
    * equi-join, then a per-doc top-k window — rank-within-partition is
    * WindowGroupLimit-eligible, so each shuffle partition keeps k rows per
    * doc before the exchange. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    tfidfTopTermsFromTf(termFrequencies(df, idCol, textCol),
      df.agg(count(lit(1)).as("n_docs")), idCol, k)

  /** [[tfidfTopTerms]] over a prebuilt (id, term, tf) table + a one-row
    * n_docs frame (both index-store artifacts at corpus scale).
    *
    * NOTE the `policy.midRound` call EAGERLY materializes `tf` at call
    * time under the default Local policy (an immediate Spark job): callers
    * that already checkpointed/cached their tf frame pay a second (cheap,
    * block-to-block) materialization — pass a policy whose midRound is
    * persist-based (Reliable) or hand in the raw lineage (ADVICE r12). */
  def tfidfTopTermsFromTf(
      tf: DataFrame, nDocs: DataFrame, idCol: String, k: Int,
      policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds BOTH the document-frequency model and the scoring join —
    // checkpointed so the (tokenize→)aggregate lineage runs once, not
    // twice (r12, guide §2.4); policy-routed (r13, VERDICT r12 #4) so
    // cluster callers keep a recompute path for the O(corpus) frame
    val tfOnce = policy.midRound(tf)
    val dfreq = tfOnce.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tfOnce.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4) + lit(0.0))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("score"), col("rank"))
  }

  /** Frequency-ranked vocabulary over the corpus: the top `vocabSize`
    * terms by total occurrences, assigned dense ids 1..V in rank order
    * (count desc, term asc — fully deterministic). Id 0 is reserved for
    * OOV. The tokenizer-training step of an LLM data pipeline — a
    * word-level stand-in for a learned BPE merge table with the same
    * output contract (term → id table).
    *
    * Scale shape: the (term) aggregate shuffles with map-side partial
    * combine over the token stream; the global rank then runs over the
    * TOP-V SLICE ONLY (`orderBy.limit` plans as TakeOrdered — a k-row
    * per-partition heap + k-row merge, never a global sort), so the
    * single-partition ranking window touches vocabSize rows, not the
    * term universe. */
  def vocabBuild(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("term").asc).limit(vocabSize)
      .withColumn("token_id", row_number()
        .over(Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
      .select(col("term"), col("token_id"), col("cnt"))
  }

  /** Encode documents to token-id sequences under a [[vocabBuild]]
    * vocabulary (OOV → id 0) — the tokenize-to-ids step feeding sequence
    * packing. Emits (id, n_tokens, token_ids) with ids in token order;
    * zero-token documents drop out (nothing to encode).
    *
    * Scale shape: posexplode is a projection; the vocabulary join is an
    * explicit `broadcast` (a vocab is MBs — never a corpus-sized shuffle
    * side); the only token-stream shuffle is the per-doc reassembly
    * groupBy, which any order-preserving encode fundamentally needs.
    * Position-tagged structs are array_sort'ed per doc, so reassembly is
    * exact regardless of partial-aggregation order. */
  def encodeTokens(
      df: DataFrame, vocab: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "term")))
      .join(broadcast(vocab.select(col("term"), col("token_id"))), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("token_id"), lit(0L)).as("tid")))),
          x => x.getField("tid")).as("token_ids"))

  /** Corpus-level n-gram statistics: the k most frequent word n-grams with
    * document frequency and total occurrences (rank by occurrences desc,
    * n-gram asc — fully deterministic). The corpus-hygiene companion to
    * [[repetitionScore]]: where that flags repetition within a document,
    * this surfaces the boilerplate phrases repeated ACROSS the corpus.
    *
    * Scale shape: per-doc n-grams are a projection; the shuffle carries
    * (ngram, partial count/df) pairs with map-side partial aggregation, and
    * the final top-k is a k-row TakeOrdered — never a global sort of the
    * n-gram universe. */
  def ngramTop(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 20): DataFrame = {
    require(n >= 2, s"use token counting for n=1, got n=$n")
    val toks = Dedup.tokens(col(textCol))
    // zip_with over shifted slices, NOT element_at over positions: each
    // element_at re-evaluates the tokenize subtree, so the positional form
    // costs O(tokens) tokenizer passes per row (measured 5 s → 0.5 s at
    // sf0.1). zip_with pads the shorter slice with nulls; the null-guard
    // marks padded tails, filtered before the explode — short docs fall out
    // as empty arrays, no when() needed.
    val grams = (2 to n).foldLeft(toks) { (acc, m) =>
      zip_with(acc, slice(toks, lit(m), greatest(size(toks) - (m - 1), lit(0))),
        (a, b) => when(a.isNotNull && b.isNotNull, concat(a, lit(" "), b)))
    }
    val exploded = df.select(col(idCol),
      explode(filter(grams, g => g.isNotNull)).as("ngram"))
    import org.apache.spark.sql.expressions.Window
    // TakeOrdered k rows FIRST (per-partition top-k, k-row merge on the
    // driver), then rank within the k-row result — a global row_number
    // window here would funnel the whole n-gram universe to one task
    exploded.groupBy(col("ngram"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("ngram").asc).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("occurrences").desc, col("ngram").asc)))
  }

  /** Per-group n-gram diversity: total word n-grams, distinct n-grams, and
    * the type-token ratio in parts-per-million (integer — exact). The
    * corpus-composition companion to [[ngramTop]]: where that surfaces the
    * boilerplate phrases, this scores each source's overall repetitiveness
    * (a synthetic/spammy source shows a collapsing distinct/total ratio as
    * volume grows). Distinctness is counted over [[Dedup.stableHash]] of
    * the gram, not the gram string — the distinct-aggregation shuffle then
    * carries 8-byte longs instead of n-word strings, and the oracle counts
    * the same hashes so a (cosmically unlikely) collision cannot split the
    * engines. Gram construction is the zip_with shifted-slice form (one
    * tokenizer pass per row, the ngramTop lesson). One projection + one
    * partially-aggregated groupBy on the group key. */
  def ngramDiversity(
      df: DataFrame, groupCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 2, s"use token counting for n=1, got n=$n")
    val toks = Dedup.tokens(col(textCol))
    val grams = (2 to n).foldLeft(toks) { (acc, m) =>
      zip_with(acc, slice(toks, lit(m), greatest(size(toks) - (m - 1), lit(0))),
        (a, b) => when(a.isNotNull && b.isNotNull, concat(a, lit(" "), b)))
    }
    df.select(col(groupCol),
        explode(filter(grams, g => g.isNotNull)).as("ngram"))
      .select(col(groupCol), Dedup.stableHash(col("ngram")).as("gh"))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("gh")).as("n_distinct"))
      .select(col(groupCol), col("n_grams"), col("n_distinct"),
        expr("(n_distinct * 1000000L) div n_grams").as("diversity_ppm"))
  }

  /** PII patterns: (name, regex, replacement token). Kept to RE2-compatible
    * constructs (no backrefs/lookaround) so an external engine replays the
    * same scan; `\b` is the ASCII word boundary in both RE2 and Java for
    * these all-ASCII patterns. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    // ip AFTER email: a bare dotted-quad inside a hostname must not re-match
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}", "<PHONE>"))

  /** PII detection + redaction (per-row projection, no shuffle): emits one
    * `n_<name>` match count per pattern and `redacted` = the text with every
    * match replaced by its token, applied in [[PiiPatterns]] order (earlier
    * patterns consume their spans first — email eats its dotted hostname
    * before the ip pattern can). Counts are measured on the ORIGINAL text.
    * Standard corpus-hygiene pass (the C4/Dolma-style cleanup rules). */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    df.select(col(idCol) +: counts :+ redacted.as("redacted"): _*)
  }

  /** Canonical text normalization (per-row projection, no shuffle): Unicode
    * NFC (native [[graft.functions.NormalizeExpr]] expression) → lowercase →
    * collapse whitespace runs to one space → trim. The idempotent first step
    * of every text pipeline here — digests, shingles and tokens all assume
    * one canonical byte form per logical string. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(graft.functions.NormalizeExpr.nfc(text)), "\\s+", " "))

  /** [[normalizeText]] as a frame op: id, normalized text, and a
    * did-anything-change flag (cheap pre-filter for rewrite-only sinks). */
  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = normalizeText(col(textCol))
    df.select(col(idCol), n.as("norm_text"),
      (n =!= col(textCol)).as("changed"))
  }

  /** Collocation mining: top-k adjacent word pairs by pointwise mutual
    * information, PMI = ln(n_pair·N / (n_w1·n_w2)) — the corpus-phrase
    * discovery step (multi-word expressions, named entities, boilerplate
    * idioms) next to [[ngramTop]]'s raw frequency view. `minCount` floors
    * the pair count: PMI is noise-maximal on hapax pairs.
    *
    * Determinism: counts are exact integers; the single ln runs over an
    * integer-valued double ratio written identically in the oracle; top-k
    * tiebreaks (pmi desc, pair asc) are total.
    *
    * Scale: unigram and bigram counts partially aggregate map-side; the
    * two count-attach joins key on a word each (vocabulary-sized right
    * sides — broadcastable at web scale where vocab ≪ corpus); top-k is
    * TakeOrdered, never a global sort of the pair universe. */
  def collocations(
      df: DataFrame, textCol: String,
      minCount: Int = 5, k: Int = 20): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    // tail = toks[2..]: slice length must be explicit — start+length wraps
    // on Int.MaxValue and silently yields the empty array
    val tail = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val pairs = df.select(posexplode(
        filter(zip_with(toks, tail,
          (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as(Seq("_i", "_p")))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val words = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val nTotal = df.select(coalesce(sum(size(toks)), lit(0L)).as("n_total"))
    val pairCnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairCnt
      .join(words.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(words.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(nTotal))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        (round(log(col("n_pair").cast("double") * col("n_total").cast("double") /
          (col("n_w1").cast("double") * col("n_w2").cast("double"))), 6)
          + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Readability scoring (Flesch reading-ease + Flesch-Kincaid grade) — the
    * classic text-difficulty signal next to [[quality]]'s fluency ratios
    * (a curriculum/mixing facet: readability-bucketed sampling is a common
    * training-data lever). Per-row projection, no shuffle.
    *
    * Counting rules (deterministic, oracle-replayable — no dictionary):
    *  - words = [[Dedup.tokens]] (lower, split on non-alphanumeric runs);
    *  - sentences = runs of `[.!?]+` in the raw text, min 1;
    *  - syllables per word = runs of `[aeiouy]+`, min 1 (the standard
    *    vowel-group heuristic), summed over words.
    * The two score formulas are emitted UNROUNDED: every input is an exact
    * integer, so both engines compute bit-identical doubles (rounding would
    * reintroduce the shortest-decimal boundary divergence — PERF.md).
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // runs(c, re) = number of non-overlapping matches of `re` in `c`:
    // replace each run with one '#' and diff against deleting them.
    def runs(c: Column, re: String): Column =
      length(regexp_replace(c, re, "#")) - length(regexp_replace(c, re, ""))
    val toks = Dedup.tokens(col(textCol))
    val syls = aggregate(toks, lit(0L),
      (acc, w) => acc + greatest(lit(1), runs(w, "[aeiouy]+")).cast("long"))
    val nW = col("n_words")
    val w1 = greatest(nW, lit(1)).cast("double") // div-safe word count
    val sPerW = col("n_syllables").cast("double") / greatest(nW, lit(1)).cast("double")
    val wPerS = w1 / col("n_sentences").cast("double")
    df.select(col(idCol),
        size(toks).as("n_words"),
        greatest(runs(col(textCol), "[.!?]+"), lit(1)).cast("long").as("n_sentences"),
        syls.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206.835) - lit(1.015) * wPerS - lit(84.6) * sPerW + lit(0.0))
          .as("flesch"),
        (lit(0.39) * wPerS + lit(11.8) * sPerW - lit(15.59) + lit(0.0))
          .as("fk_grade"))
  }

  /** Gopher-style heuristic rule battery (Rae et al. 2021 §A1.1 — the
    * standard pre-model web-corpus filter): word-count bounds, mean word
    * length in [3,10], ≥80% words containing a letter, symbol-to-word
    * ratio (#/ellipsis) < 0.1, < 90% bullet-started lines, < 30%
    * ellipsis-ended lines, and ≥2 of the eight English "required words".
    * Emits every signal plus the composite keep — one stateless
    * projection over the text, no shuffle, whole-stage-codegen'd; the
    * rule battery a 100 TB crawl pass applies before anything
    * model-based. Thresholds compare UNROUNDED values (the rounded
    * columns are for reporting), and every count is left-to-right
    * non-overlapping so an oracle can replay it. */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minRequiredWords: Int = 2): DataFrame = {
    val t = col(textCol)
    val words = wsTokens(t)
    val nw = greatest(size(words), lit(1))
    val meanLen =
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nw
    val alphaFrac =
      size(filter(words, w => w.rlike("\\p{L}"))).cast("double") / nw
    // split with limit -1 keeps trailing empties: "a#" must count one '#'
    val symbols = (size(split(t, "#", -1)) - 1) +
      (size(split(t, "\\.\\.\\.", -1)) - 1) + (size(split(t, "…", -1)) - 1)
    val symbolRatio = symbols.cast("double") / nw
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nl = greatest(size(lines), lit(1))
    val bulletFrac =
      size(filter(lines, l => trim(l).rlike("^[-•*]\\s"))).cast("double") / nl
    // \z, not $: Java's $ also matches before a trailing \r (a CRLF line
    // split on \n keeps it), where RE2's $ is end-of-text — \z means
    // end-of-text in both, so the oracle can replay CRLF corpora exactly
    val ellLineFrac =
      size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)\\z")))
        .cast("double") / nl
    val required = size(array_intersect(array_distinct(Dedup.tokens(t)),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(lit): _*)))
    df.select(col(idCol),
      size(words).as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      round(symbolRatio, 6).as("symbol_word_ratio"),
      round(bulletFrac, 6).as("bullet_line_frac"),
      round(ellLineFrac, 6).as("ellipsis_line_frac"),
      required.as("n_required_words"),
      (size(words).between(minWords, maxWords) &&
        meanLen.between(3.0, 10.0) &&
        alphaFrac > 0.8 &&
        symbolRatio < 0.1 &&
        bulletFrac < 0.9 &&
        ellLineFrac < 0.3 &&
        required >= minRequiredWords).as("keep"))
  }

  /** HTML → text extraction (the crawl-ingest step BEFORE every quality/
    * dedup signal here — C4/CCNet/RefinedWeb all start from a tag-stripping
    * pass). Regex-pipeline extraction, deliberately DOM-free: a 100 TB
    * crawl pass wants a stateless codegen projection, not a parser object
    * per row, and the regex chain is replayable by any RE2-compatible
    * engine (no lookaround/backrefs in PATTERNS; `(?is)` inline flags and
    * non-greedy `.*?` are common to Java regex and RE2).
    *
    * Order matters and is part of the contract:
    *  1. drop <script>/<style> ELEMENTS (tag + content — their text is
    *     code, not prose) and <!-- comments -->;
    *  2. block-level boundaries (<br>, </p>, </div>, </li>, </h1..6>,
    *     </tr>) become newlines so line structure survives for
    *     [[lineDedup]]/gopher line rules;
    *  3. every remaining tag becomes a space;
    *  4. the five standard named entities + &#39; unescape via literal
    *     replace, `&amp;` LAST so double-escaped text un-escapes exactly
    *     one level (`&amp;lt;` → `&lt;`, never `<`);
    *  5. horizontal whitespace collapses within lines, blank lines drop.
    *
    * Emits n_tags (tag count BEFORE stripping — a markup-density signal)
    * and the extracted text. Zero shuffle. */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noScript = regexp_replace(
      regexp_replace(col(htmlCol), "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/li|/h[1-6]|/tr)[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&" // &amp; LAST: one unescape level
    ).foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val collapsed = regexp_replace(
      regexp_replace(unescaped, "[ \\t\\r]+", " "), " ?\\n ?", "\n")
    val text = trim(regexp_replace(collapsed, "\\n+", "\n"), "\n ")
    df.select(col(idCol),
      size(regexp_extract_all(col(htmlCol), lit("<[^>]*>"), lit(0))).as("n_tags"),
      text.as("text"))
  }

  /** Cross-document duplicated-LINE removal — the line-wise dedup step of
    * CCNet / RefinedWeb (navigation menus, cookie banners, share buttons
    * repeat verbatim as LINES across a site; document-level and even
    * span-level dedup miss them when the surrounding prose differs). A
    * line whose trimmed content appears in ≥ minDocs distinct documents is
    * dropped from every document; survivors keep their original order and
    * bytes. Complements [[Dedup.spanScrub]] (token windows, within-line):
    * this is the structural-boundary variant the crawl pipelines actually
    * run first.
    *
    * Scale shape — identical skeleton to spanScrub: the line relation
    * shuffles (hash, id, ordinal) longs, never text; duplicated ordinals
    * collapse to ONE removal set per touched doc; the rewrite is a
    * stateless position-indexed array filter in the final projection, so
    * document text never shuffles (the only corpus join is the narrow
    * removal-set side, an id equi-join). Empty/whitespace lines hash
    * equal and so vanish wherever minDocs documents have any blank line —
    * deliberate: the output is the compact kept-line stream. */
  def lineDedup(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame =
    lineDedupFromLines(lineRelation(df, idCol, textCol), df,
      idCol, textCol, minDocs)

  /** The (id, 0-based ordinal, trimmed-line hash) relation [[lineDedup]]
    * aggregates over — an ingest-time store artifact like the span-window
    * relation; posexplode keeps empty lines so ordinals align with the
    * split array in the rewrite. */
  def lineRelation(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "_i", "_l")
      .select(col(idCol), col("_i"), Dedup.stableHash(trim(col("_l"))).as("_h"))

  /** [[lineDedup]] over a prebuilt (id, _i, _h) line relation. */
  def lineDedupFromLines(
      lines: DataFrame, df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"cross-doc dedup needs minDocs >= 2, got $minDocs")
    val lineArr = split(col(textCol), "\n")
    val dupHashes = lines.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_h"))
    val removed = lines.join(dupHashes, "_h")
      .groupBy(col(idCol))
      .agg(collect_set(col("_i")).as("_rm"))
    df.join(removed, Seq(idCol), "left")
      .select(col(idCol), lineArr.as("_ls"),
        coalesce(col("_rm"), array().cast("array<int>")).as("_rm"))
      .select(col(idCol),
        size(col("_ls")).as("n_lines"),
        size(col("_rm")).as("n_removed"),
        concat_ws("\n", filter(col("_ls"),
          (l, i) => !array_contains(col("_rm"), i))).as("clean_text"))
  }

  /** The FULL Gopher repetition battery (Rae et al. 2021 Table A1 — the
    * signals [[repetitionScore]]'s top-bigram share summarizes):
    *
    *  - `dup_line_frac` / `dup_line_char_frac`: share of non-empty
    *    trimmed lines (and of their characters) that are REPEAT
    *    occurrences of a line already present in the same document
    *    (Σ(c−1)/Σc per line group — the NeMo-Curator counting);
    *  - `top_{2,3,4}gram_char_frac`: characters claimed by the single
    *    most frequent word n-gram (count × n-gram chars / total token
    *    chars; ties broken count desc then gram asc — deterministic);
    *  - `dup_{5,10}gram_char_frac`: characters covered by the UNION of
    *    all positions of n-grams occurring ≥2× in the document (overlap
    *    counted once — the spanScrub covered-position machinery turned
    *    within-doc).
    *
    * Character counts are token characters (separators excluded), so the
    * fractions are layout-independent. Scale shape: every aggregation is
    * keyed (doc, hash) — partial-aggregatable, nothing crosses
    * documents; the top-gram argmax is a per-doc WindowGroupLimit (≤1
    * row per doc past the exchange); covered-position unions shuffle
    * (doc, int) pairs. Text beyond the n-gram keys never shuffles. */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    val ts = Dedup.tokens(col(textCol))
    val base = df.select(id, size(ts).as("n_tokens"),
      aggregate(ts, lit(0L), (a, t) => a + length(t)).as("token_chars"))

    // within-doc duplicate lines (trimmed, non-empty)
    val lineRows = df.select(id, explode(filter(
      transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)).as("_l"))
    val lineAgg = lineRows
      .groupBy(id, Dedup.stableHash(col("_l")).as("_h"))
      .agg(count(lit(1)).as("_c"), max(length(col("_l"))).as("_len"))
      .groupBy(id).agg(
        sum(col("_c")).as("_nl"),
        sum(col("_c") - 1).as("_dl"),
        sum(col("_c") * col("_len")).as("_lc"),
        sum((col("_c") - 1) * col("_len")).as("_dlc"))
      .select(id,
        (col("_dl").cast("double") / greatest(col("_nl"), lit(1L))).as("_dlf"),
        (col("_dlc").cast("double") / greatest(col("_lc"), lit(1L))).as("_dlcf"))

    // most-frequent n-gram character shares — ONE exploded (id, n, gram)
    // relation for all three n (a per-n branch would re-scan and
    // re-shuffle the corpus three times; measured 2× slower at sf0.1),
    // one (id, n, gram) count, one per-(id, n) WindowGroupLimit argmax,
    // then a pivot back to columns (id-keyed, 3 cells per doc).
    val topNs = Seq(2, 3, 4)
    val tops = {
      val tagged = topNs.map { n =>
        when(size(ts) >= n, transform(
            sequence(lit(0), size(ts) - n),
            i => struct(lit(n).as("n"),
              concat_ws(" ", slice(ts, i + 1, lit(n))).as("g"))))
          .otherwise(array().cast("array<struct<n:int,g:string>>"))
      }
      val counted = df.select(id, explode(flatten(array(tagged: _*))).as("_x"))
        .select(id, col("_x.n").as("_n"), col("_x.g").as("_g"))
        .groupBy(id, col("_n"), col("_g")).agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(id, col("_n"))
        .orderBy(col("_c").desc, col("_g").asc)
      counted.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .groupBy(id).pivot("_n", topNs).agg(first(
          (col("_c") * length(replace(col("_g"), lit(" "), lit(""))))
            .cast("double")))
        .select(id +: topNs.map(n => col(n.toString).as(s"_top$n")): _*)
    }

    // duplicated n-gram character shares — same consolidation: one
    // (id, n, start, hash) window relation for both n, one dup-hash
    // count, one covered-position union, ONE token-length join, pivot.
    val dupNs = Seq(5, 10)
    val dups = {
      val tagged = dupNs.map { n =>
        when(size(ts) >= n, transform(
            sequence(lit(1), size(ts) - (n - 1)),
            s => struct(lit(n).as("n"), (s - 1).as("s"),
              Dedup.stableHash(concat_ws(" ", slice(ts, s, lit(n)))).as("h"))))
          .otherwise(array().cast("array<struct<n:int,s:int,h:bigint>>"))
      }
      val wins = df.select(id, explode(flatten(array(tagged: _*))).as("_x"))
        .select(id, col("_x.n").as("_n"), col("_x.s").as("_s"), col("_x.h").as("_h"))
      val dupKeys = wins.groupBy(id, col("_n"), col("_h"))
        .agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 2).select(id, col("_n"), col("_h"))
      val covered = wins.join(dupKeys, Seq(idCol, "_n", "_h"))
        .select(id, col("_n"),
          explode(sequence(col("_s"), col("_s") + col("_n") - 1)).as("_p"))
        .distinct()
      val tokLens = df.select(id, posexplode(ts)).toDF(idCol, "_p", "_t")
        .select(id, col("_p"), length(col("_t")).as("_tl"))
      covered.join(tokLens, Seq(idCol, "_p"))
        .groupBy(id).pivot("_n", dupNs).agg(sum(col("_tl")).cast("double"))
        .select(id +: dupNs.map(n => col(n.toString).as(s"_dup$n")): _*)
    }

    def frac(c: Column): Column =
      round(c / greatest(col("token_chars"), lit(1L)), 6) + lit(0.0)
    base
      .join(lineAgg, Seq(idCol), "left")
      .join(tops, Seq(idCol), "left")
      .join(dups, Seq(idCol), "left")
      .select(id, col("n_tokens"), col("token_chars"),
        (round(coalesce(col("_dlf"), lit(0.0)), 6) + lit(0.0)).as("dup_line_frac"),
        (round(coalesce(col("_dlcf"), lit(0.0)), 6) + lit(0.0)).as("dup_line_char_frac"),
        frac(coalesce(col("_top2"), lit(0.0))).as("top_2gram_char_frac"),
        frac(coalesce(col("_top3"), lit(0.0))).as("top_3gram_char_frac"),
        frac(coalesce(col("_top4"), lit(0.0))).as("top_4gram_char_frac"),
        frac(coalesce(col("_dup5"), lit(0.0))).as("dup_5gram_char_frac"),
        frac(coalesce(col("_dup10"), lit(0.0))).as("dup_10gram_char_frac"))
  }

  /** Byte-pair-encoding merge learning (Sennrich et al. 2016 — the
    * tokenizer-TRAINING step; [[vocabBuild]] is the word-level analogue).
    * Each word is a space-delimited symbol string with sentinel spaces
    * (` l o w `); one merge round = count every adjacent symbol position
    * weighted by word frequency, take the single most frequent pair
    * (count desc, pair asc — deterministic), rewrite ` A B ` → ` AB ` in
    * every word (non-overlapping left-to-right, the standard greedy
    * semantics — `replace` behaves identically in Spark and any SQL
    * engine), repeat. Returns the learned merge table (rank, left, right,
    * merged, freq) — THE artifact a BPE tokenizer ships.
    *
    * Scale shape: the corpus collapses to the DISTINCT-WORD table first
    * (one (word) aggregation — vocabulary-sized, ~1e7 rows at web scale,
    * never documents); pair counts are aggregated ONCE up front into a
    * standing (pair, count) table, and each round applies a DELTA: only
    * words containing the merged pair change, so the round recounts pairs
    * for exactly those words (old − new) and folds the delta into the
    * standing table — the full vocabulary gets one narrow contains() scan
    * per round instead of a full explode+aggregate (measured 7.8 s → the
    * delta path at sf0.1's 6 merges; the argmax stays a 1-row driver
    * collect, the inherently-global tiny merge decision distributed BPE
    * trainers share). Word and pair tables are cached per round and
    * unpersisted before returning. */
  def bpeTrain(
      df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    val spark = df.sparkSession
    // " a b c " symbol strings: sentinel spaces make ` A B ` matches
    // symbol-exact (a pattern can never match inside a longer symbol)
    var words: DataFrame = df
      .select(explode(Dedup.tokens(col(textCol))).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_f"))
      .select(concat(lit(" "),
        regexp_replace(col("_w"), "(.)", "$1 ")).as("_s"), col("_f"))
      .cache()
    def pairsOf(s: Column): Column = {
      val syms = filter(split(s, " "), t => length(t) > 0)
      when(size(syms) >= 2, transform(
          sequence(lit(1), size(syms) - 1),
          i => concat_ws(" ", element_at(syms, i), element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
    }
    // standing pair-count table: built once, delta-updated per round.
    // Zero counts are filtered so the table holds live pairs only — the
    // same relation a from-scratch recount would produce.
    var pairCounts = words
      .select(explode(pairsOf(col("_s"))).as("_p"), col("_f").as("_c"))
      .groupBy(col("_p")).agg(sum(col("_c")).as("_cnt"))
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // ONE Spark action per round (the argmax); everything else is lazy and
    // materializes as a side effect of a LATER round's argmax reading
    // through it. Cache/release discipline (r13, VERDICT r12 #5):
    //  - pairCounts (the standing table) re-caches every round; the
    //    round-(r−1) pair cache is released after round r's argmax proves
    //    round r's is materialized — its only future reader.
    //  - words re-caches every `cacheEvery` rounds, NOT every round: the
    //    in-between rounds chain ≤cacheEvery narrow replace()s onto the
    //    last cache, which costs microseconds over a vocabulary-sized
    //    frame, where a per-round cache costs a full block write. A words
    //    cache created at round r is first READ (hence materialized) by
    //    round r+2's argmax (its reader, delta_{r+1}, is only executed by
    //    the pairCounts cache built in round r+1), so the PREVIOUS words
    //    cache must outlive it by two rounds — the r12 shape unpersisted
    //    it one round early, and every words-cache rebuild cascaded
    //    recompute through the dropped chain back to the corpus-wide
    //    distinct-words aggregation. A 3-deep generation queue makes the
    //    release provably safe at any nMerges while keeping ≤3
    //    vocabulary-sized frames in storage.
    val cacheEvery = 3
    val wordCaches = scala.collection.mutable.Queue[DataFrame](words)
    var chain = 0
    var prevPairs: Option[DataFrame] = None
    try {
      for (rank <- 1 to nMerges) {
        val top = pairCounts.orderBy(col("_cnt").desc, col("_p").asc).head(1)
        prevPairs.foreach(_.unpersist()); prevPairs = None
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          val Array(l, r) = pair.split(" ", 2)
          merges += ((rank, l, r, top(0).getLong(1)))
          def rewritten(s: Column): Column =
            replace(s, lit(s" $pair "), lit(s" $l$r "))
          // delta recount: contains() matches exactly the rows replace()
          // would change (same sentinel-delimited pattern), so new-minus-old
          // pair rows over the affected subset is the full count change.
          // ONE scan of the words frame per round: the post-rewrite pairs
          // (+f) and pre-rewrite pairs (−f) explode from the same
          // projection — the r12 union-of-two-pairRows referenced
          // `affected` twice, two map stages over the words cache per round
          val affected = words.filter(col("_s").contains(s" $pair "))
          val delta = affected.select(explode(concat(
              transform(pairsOf(rewritten(col("_s"))),
                p => struct(p.as("_p"), col("_f").as("_c"))),
              transform(pairsOf(col("_s")),
                p => struct(p.as("_p"), (-col("_f")).as("_c")))))
            .as("_pc"))
            .select(col("_pc._p").as("_p"), col("_pc._c").as("_c"))
          val nextCounts = pairCounts.select(col("_p"), col("_cnt").as("_c"))
            .union(delta)
            .groupBy(col("_p")).agg(sum(col("_c")).as("_cnt"))
            .filter(col("_cnt") > 0)
            .cache()
          prevPairs = Some(pairCounts)
          pairCounts = nextCounts
          words = words.select(rewritten(col("_s")).as("_s"), col("_f"))
          chain += 1
          if (chain >= cacheEvery && rank < nMerges) {
            words = words.cache()
            wordCaches.enqueue(words)
            chain = 0
            // oldest-of-4 was superseded ≥2 cache generations ago — its
            // successor is provably materialized, release is recompute-free
            if (wordCaches.length > 3) wordCaches.dequeue().unpersist()
          }
        }
      }
    } finally {
      pairCounts.unpersist(); prevPairs.foreach(_.unpersist())
      wordCaches.foreach(_.unpersist())
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "freq")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("freq"))
      .orderBy("rank")
  }

  /** BPE ENCODE — apply a learned merge table ([[bpeTrain]]'s output, as
    * driver-side (left, right) pairs in rank order) to every document.
    * The whole document symbolizes at once: per-word symbols separated
    * by ONE space, words separated by TWO — a merge pattern ` A B ` has
    * single-space separators, so it can never fire across a word
    * boundary, and the n merge applications are n chained `replace`
    * calls inside one stateless codegen projection (zero shuffle, zero
    * per-row state — the tokenize-with-vocab serving path). Emits the
    * subword stream and its length; [[bpeTrain]] learns, this applies —
    * together they are the tokenizer lifecycle. */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sym = concat(lit(" "), concat_ws("  ",
      transform(Dedup.tokens(col(textCol)),
        w => trim(regexp_replace(w, "(.)", "$1 ")))), lit(" "))
    val encoded = merges.foldLeft(sym) { case (c, (l, r)) =>
      replace(c, lit(s" $l $r "), lit(s" $l$r "))
    }
    val subwords = filter(split(encoded, " "), t => length(t) > 0)
    df.select(col(idCol),
      size(subwords).as("n_subwords"),
      concat_ws(" ", subwords).as("subword_text"))
  }
}
