package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: derives an sfN' corpus from an existing sfN
  * by unioning `copies` transformed replicas of every fact table — the
  * 10× validation corpus the scale-readiness claims get measured against
  * (plan shapes are checked by PlanQualitySpec; THIS checks the constants).
  *
  * The transform is designed so every operator family's workload scales
  * LINEARLY in the copy count — i.e. a replica must never correlate with
  * another replica, or pairwise operators (dedup, fuzzy join, ANN) would
  * super-scale quadratically in ways the original corpus doesn't:
  *
  *  - entity keys (custkey/orderkey/user_id/…) shift by
  *    `copy * KeyStride`, so replicas are disjoint key ranges with intact
  *    referential integrity inside each replica; doc_id/vec_id shift by
  *    the DOCUMENT COUNT instead, keeping replica doc ids contiguous in
  *    [0, copies·n) — the link-graph operators contract on that (see
  *    [[docKeyCols]]). Dimension FKs (nationkey/regionkey) are NOT
  *    shifted — region/nation are copied verbatim, like TPC-H dims at
  *    any sf.
  *  - document text gets a per-replica 3-letter code on every letter/digit
  *    run (`word` → `wordabb` for copy 1) — a BIJECTION on tokens, so
  *    cross-replica shingle/minhash/token overlap is exactly zero while
  *    within-replica token counts and df distributions mirror the
  *    original exactly (see the inline note for why a `_c` separator
  *    suffix would instead skew the token stream, and [[replicaCode]]
  *    for why the code needs pairwise hamming ≥2).
  *  - name columns get `~` + the code doubled so cross-replica names sit
  *    ≥4 edits apart — outside every fuzzy-join radius in the suite.
  *  - embeddings are sign-flipped per (copy, dimension) — an orthogonal
  *    transform, so within-replica distances/cosines are EXACTLY preserved
  *    while cross-replica vectors decorrelate (expected cosine ≈ 0).
  *  - timestamps are untouched: the time range stays, the population
  *    grows — the "more users, same weeks" growth axis.
  *
  * Copy 0 is always the identity, so sfN ⊂ sfN'.
  */
object GenScale {

  /** Disjoint key ranges per replica; far above any sf0.1 key. */
  val KeyStride = 100000000L

  /** Entity-key columns to shift (dimension FKs deliberately absent). */
  private val keyCols = Set(
    "c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "event_id", "user_id")

  /** doc_id / vec_id shift by the DOCUMENT count instead of [[KeyStride]]:
    * the link-graph operators' synthetic edge formula (and its oracle SQL)
    * contract on doc ids being CONTIGUOUS in [0, n) — `(17·d + j) mod n`
    * must land on a real doc id. A sparse 1e8 stride broke that (measured:
    * the replica sweep's pagerank/hits oracles diverged because Spark's
    * src ∪ dst node universe gained ~n phantom ids the oracle's
    * documents-anchored rank vector never saw). Doc-count striding keeps
    * replica doc ids exactly [0, copies·n) and preserves doc↔vec id
    * alignment by using the SAME stride for both. */
  private val docKeyCols = Set("doc_id", "vec_id")

  private val nameCols = Set("c_name", "s_name", "p_name")

  /** Per-replica 3-letter code with PAIRWISE HAMMING ≥ 2: (x, y, (x+y) mod
    * 26) for c = 26x + y — a parity check digit, so two distinct codes can
    * never differ in just one position (x differs ⇒ z differs; y differs ⇒
    * z differs; both ⇒ ≥2 already). Supports 676 replicas (sf10 = 100).
    *
    * Why ≥2 matters: the fuzzy joins run levenshtein ≤ 3 on 24-char text
    * prefixes. The corpus's words are ≤8 chars, so a window always holds
    * ≥2 complete suffixed tokens — with pairwise-≥2 codes the same
    * original doc in two replicas sits ≥4 edits apart, outside every
    * radius in the suite. (A naive base-26 pair can differ in ONE letter —
    * e.g. "ab" vs "ac" — putting same-doc replicas 2 edits apart and
    * making cross-replica fuzzy pairs grow with the copy count.) */
  def replicaCode(c: Int): String = {
    require(c >= 1 && c < 15000, s"replica code supports 1..14999, got $c")
    if (c < 676) { // the original 3-letter form, byte-identical — sf1/sf10
      // corpora regenerate exactly as before the 4-letter extension
      val (x, y) = (c / 26, c % 26)
      "" + ('a' + x).toChar + ('a' + y).toChar + ('a' + (x + y) % 26).toChar
    } else {
      // 4-letter band for the sf100 decade (1000 copies of sf0.1):
      // (x, y, z, (x+y+z+7) mod 26) with x,y,z ≠ 19 and z ≠ (x+y) mod 26.
      // Within the band a single-digit change flips the check digit too
      // (hamming ≥ 2, same parity argument as the 3-letter form). ACROSS
      // bands the exclusions matter: deleting position i of a 4-code
      // yields a valid 3-code (r = p+q) only when x, y, or z ≡ 19 ≡ −7
      // (positions 1–3) or z ≡ (x+y) (position 4) — all excluded — so no
      // 4-code sits one edit from any 3-code, and same-origin tokens stay
      // ≥ 2 edits apart across EVERY replica pair, outside the fuzzy
      // radius once a window holds two suffixed tokens. (A naive base-26
      // extension fails this: its parity makes (y, z, w) always a valid
      // 3-code, putting e.g. copy 676 one deletion from copy 26.)
      val triples = for {
        x <- (0 until 26).iterator if x != 19
        y <- (0 until 26).iterator if y != 19
        z <- (0 until 26).iterator if z != 19 && z != (x + y) % 26
      } yield (x, y, z)
      val (x, y, z) = triples.drop(c - 676).next()
      "" + ('a' + x).toChar + ('a' + y).toChar + ('a' + z).toChar +
        ('a' + (x + y + z + 7) % 26).toChar
    }
  }

  /** Per-(copy, dim) deterministic sign flip — orthogonal (a diagonal ±1
    * matrix), so distances and cosines within a replica are exactly those
    * of the original, while cross-replica vectors decorrelate (expected
    * cosine ≈ 0, variance 1/dim).
    *
    * The flip bit is the low bit of murmur3(c, i) — a real mix of BOTH
    * inputs. The previous linear form pmod(i·K1 + c·K2, 2) had two ODD
    * multipliers, so mod 2 it collapsed to parity(i + c): all odd copies
    * shared one flip pattern and all even copies another, making
    * corresponding vectors in same-parity replicas bit-identical
    * (cross-replica cosine 1, not ≈0) — exactly the correlation this
    * transform exists to forbid. */
  def signFlip(emb: Column, c: Int): Column =
    if (c == 0) emb
    else transform(emb, (x, i) =>
      when(pmod(hash(lit(c), i), lit(2)) === 1, -x).otherwise(x))

  /** One replica of `df` with all decorrelation transforms applied.
    * `docStride` = the source corpus's document count (see [[docKeyCols]]). */
  def replica(df: DataFrame, table: String, c: Int, docStride: Long): DataFrame = {
    val keyed = df.schema.fields.foldLeft(df) { (acc, f) =>
      val stride =
        if (keyCols(f.name)) Some(KeyStride)
        else if (docKeyCols(f.name)) Some(docStride)
        else None
      stride match {
        case Some(st) =>
          acc.withColumn(f.name,
            (col(f.name).cast("long") + lit(c.toLong * st)).cast(f.dataType))
        case None if nameCols(f.name) && c != 0 =>
          // code doubled: pairwise-≥2 × 2 occurrences = names ≥4 edits
          // apart across replicas, outside every fuzzy-join radius
          acc.withColumn(f.name,
            concat(col(f.name), lit("~" + replicaCode(c) * 2)))
        case None => acc
      }
    }
    if (table == "documents" && c != 0)
      keyed
        // suffix every LETTER/DIGIT RUN (the tokenizer's token unit) with
        // the per-replica 3-letter code — "word" → "wordabb" for copy 1.
        // A separator like "_" is not \p{L}\p{N}, so "word_3" would
        // TOKENIZE as two tokens with every second one a constant digit:
        // measured 136× within-replica shingle df inflation and a 2300×
        // containment-join blowup at 10×. The fixed-length letter suffix
        // keeps the original→replica token map a BIJECTION (token counts,
        // shingle counts and df distributions mirror the original exactly)
        // with replica-DISJOINT codomains (equal suffixed tokens ⇒ equal
        // codes ⇒ same replica); see [[replicaCode]] for why the code's
        // pairwise hamming ≥2 is load-bearing for the fuzzy joins.
        .withColumn("text", regexp_replace(col("text"),
          "([\\p{L}\\p{N}]+)", "$1" + replicaCode(c)))
        .withColumn("n_chars", length(col("text")).cast("long"))
    else if (table == "embeddings")
      keyed.withColumn("embedding", signFlip(col("embedding"), c))
    else keyed
  }

  def scaled(df: DataFrame, table: String, copies: Int, docStride: Long): DataFrame =
    (0 until copies).map(c => replica(df, table, c, docStride)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/testdata-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dims = Set("region", "nation")
    val docStride = spark.read.parquet(s"$src/documents.parquet").count()
    Tables.names.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val res = if (dims(t)) df else scaled(df, t, copies, docStride)
      // 32 output files per fact table (more at sf10): per-file task
      // parallelism for the bench scans (the sf0.1 fixtures are single
      // files; at 10× a single file would serialize every scan's first
      // stage). Optional 4th arg overrides.
      val parts =
        if (dims(t)) 1
        else args.lift(3).map(_.toInt).getOrElse(math.max(32, copies))
      res.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[genscale] $t: ${df.count()} -> " +
        spark.read.parquet(s"$out/$t.parquet").count())
    }
    spark.stop()
  }
}
