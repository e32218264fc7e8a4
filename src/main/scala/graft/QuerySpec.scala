package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query, declared once in [[SparkEntry.registry]]:
  * the Spark plan it builds over a fixture directory, how Verify checks
  * its result, and the tags that put it in a gate's or bench's selection.
  * Every gate and bench selects by tag or oracle form, so adding a query
  * touches one declaration. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: QuerySpec.Oracle,
    tags: Set[QuerySpec.Tag])

object QuerySpec {

  /** How Verify checks a query's dumped result. */
  sealed trait Oracle

  /** DuckDB SQL over the fixture tables, the same for every fixture. */
  final case class Static(sql: String) extends Oracle

  /** DuckDB SQL authored at dump time from the fixture's non-null
    * embeddings count: parameters the query selects from that count
    * (`autoNbits`, √n cells) are pure functions of it, so the chosen
    * values are inlined as constants. */
  final case class PerFixture(sql: Long => String) extends Oracle

  /** No SQL replay exists (float k-means TRAINING is iterative,
    * data-dependent float state): Verify scores the dumped result against
    * Spark-computed exact baselines instead, each score with a floor.
    * `scores(embeddings, n, dumped)` → metric → score; see
    * [[VerifyAgreement]]. */
  final case class AgreementGated(
      scores: (DataFrame, Long, DataFrame) => Map[String, VerifyAgreement.Score])
      extends Oracle

  sealed trait Tag

  /** Backed by a build-once materialized index store
    * ([[graft.sources.IndexStorage.materializeCached]]). Benches warm these
    * before timing, so probe cost is measured, not build cost. */
  case object IndexBacked extends Tag

  /** Bench's sf1 (10×) scale-validation section: one query per operator
    * family, biased toward the shuffle/join-heavy. BenchCluster times the
    * same set, and ProfileBuild builds its index-backed members. */
  case object Sf1Bench extends Tag

  /** BenchScale's default decade sweep: the shuffle-heaviest families
    * (iterative graph, candidate-explosion joins, signature stores, global
    * merges — VERDICT r8 item 1). Since round 10 the `_auto`
    * occupancy-constant forms are the API defaults; the pinned
    * `knn_join_lsh` / `dedup_embedding_lsh` / `semantic_dedup` members time
    * the deterministic oracle variants, kept as the recorded cost of the
    * quadratic fixed-parameter shape. */
  case object ScaleSweep extends Tag

  /** `Verify @sf10` (100×): one query per high-traffic family whose
    * ORACLE replay stays linear at 60M lineitems / 500k docs. Families
    * whose DuckDB replay is super-linear (LSH bucket cross joins, BPE
    * merge chains) keep their 10× verification from `@sf1`. Membership is
    * measured (PERF.md round 9). */
  case object Sf10Spot extends Tag

  /** `Verify @sf100` (1000×): the sf10 spot set minus the members whose
    * linear but constant-heavy replay (5-iteration graph, the
    * all-shingles decontamination explode, full-df BM25 stats) blows the
    * 900 s per-query budget at 600M lineitems / 5M docs. Measured, like
    * the sf10 set. */
  case object Sf100Spot extends Tag

  /** Left out of `Verify @sf1` (10×): the oracle is a deliberately
    * brute-force second implementation DuckDB cannot run at 6M lineitems /
    * 50k docs in bounded time. The Spark side still scales (the sf1 bench
    * times it); the query keeps its sf0.01 verification. Measured, not
    * assumed: r9 probes showed mmr_rerank and dedup_embedding fit the
    * budget, so only the quadratic-in-STRINGS oracle stays out. */
  case object NoSf1Oracle extends Tag

  /** Explain's default plan dump when no names are given. */
  case object ExplainDefault extends Tag
}
