package graft

import graft.QuerySpec._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's own invariants — declarations only, no Spark job:
  * every gate and bench selects from it, so a query added without an
  * oracle, or a tag naming nothing registered, fails here first. */
class QueryRegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.registry
  private val names = registry.map(_.name)

  test("182 registered names, no duplicates") {
    val n = names.length
    assert(n == 182)
    assert(names.distinct.length == names.length,
      names.diff(names.distinct).mkString(", "))
  }

  test("every query has an oracle; exactly 2 are agreement-gated") {
    val blank = registry.collect {
      case QuerySpec(n, _, null, _) => n
      case QuerySpec(n, _, Static(sql), _) if sql == null || sql.trim.isEmpty => n
    }
    assert(blank.isEmpty, blank.mkString(", "))
    assert(SparkEntry.agreementGated == Set("knn_join_ivf_auto", "semantic_dedup_auto"))
    assert(SparkEntry.oracleSql.size + SparkEntry.perFixtureOracles.size +
      SparkEntry.agreementGated.size == names.length)
  }

  test("every tag selects only registered names") {
    val tags = Seq(IndexBacked, Sf1Bench, ScaleSweep, Sf10Spot, Sf100Spot,
      NoSf1Oracle, ExplainDefault)
    assert(registry.flatMap(_.tags).toSet.subsetOf(tags.toSet))
    tags.foreach { tag =>
      val sel = SparkEntry.tagged(tag)
      assert(sel.nonEmpty, s"$tag selects nothing")
      assert(sel.toSet.subsetOf(names.toSet), s"$tag")
    }
    assert(SparkEntry.tagged(Sf100Spot).toSet.subsetOf(SparkEntry.tagged(Sf10Spot).toSet))
  }

  test("oracleSql is exactly the static-oracle names") {
    val static = registry.collect { case QuerySpec(n, _, Static(_), _) => n }.toSet
    assert(SparkEntry.oracleSql.keySet == static)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
