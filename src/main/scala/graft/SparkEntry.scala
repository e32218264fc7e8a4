package graft

import graft.QuerySpec._
import graft.functions.VectorFunctions._
import graft.operators.Ann.AnnRequest
import graft.operators.{Ann, ApproxAnn, Bm25, Catalog, CheckpointPolicy,
  Curation, Dedup, Engine, Graph, Layout, Lww, Multimodal, QualityMetrics,
  Restriction, RestrictionCompiler, ResultFormat, Sessionize, Sketches,
  Temporal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Each [[registry]] entry is an operator from SURVEY.md §2 exercised on the
  * driver-provided parquet fixtures, declared once with its oracle (the
  * equivalent ANSI SQL the driver runs in DuckDB over the same tables) and
  * its selection tags. [[queries]], [[oracleSql]] and [[oracleSqlFor]] are
  * the driver's views of it.
  *
  * Float-parity conventions (so Spark and DuckDB hash-match):
  *  - distance arithmetic is double-precision, accumulated in array order on
  *    both sides; outputs rounded to 6 decimals;
  *  - money aggregates go through DECIMAL(18,2) (exact, order-independent)
  *    then round+cast to double;
  *  - every top-k has a deterministic tiebreak on the key column.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Build-once store of synthetic media payloads — the at-scale shape:
    * payloads are INGESTED bytes read from storage, not synthesized per
    * query, so a media query's benchmarked cost is the decode kernel, not
    * the fixture's PNG/WAV/GIF ENCODE (which a real pipeline never runs). */
  private def mediaStore(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    graft.sources.IndexStorage.materializeCached(
      s, s"$dir/documents.parquet", indexDir(dir, name), Nil)(build)

  /** The deterministic vec_id<16 selection centroids shared by the
    * IVF-family oracle queries (k-means' float iterations are not
    * SQL-replayable; the TRAINED path is pinned in ApproxAnnSpec). */
  private def selectionCentroids(emb: DataFrame): Seq[(Int, Seq[Float])] =
    selectionCentroidsK(emb, 16)

  /** The first `k` vectors as pinned centroids — the deterministic,
    * SQL-replayable centroid source (no float training). With
    * k = [[sqrtCells]] this gives the SCALE SHAPE (cells O(√n)) a full
    * hash oracle; only k-means TRAINING remains rows-only. */
  private def selectionCentroidsK(emb: DataFrame, k: Int): Seq[(Int, Seq[Float])] =
    emb.filter(col("vec_id") < k && col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
      .sortBy(_._1).toSeq

  /** k ≈ √n cell count from the corpus (pure function of the count —
    * Verify inlines the same value into the oracle SQL, oracleSqlFor;
    * the rule itself lives in ONE place, ApproxAnn.sqrtCells). */
  private def sqrtCells(emb: DataFrame): Int =
    ApproxAnn.sqrtCells(emb.filter(col("embedding").isNotNull).count())

  /** Scratch location for materialized index stores (per scale factor, so
    * sf0.01 and sf0.1 runs never read each other's indexes). */
  private def indexDir(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-indexes/${new java.io.File(dir).getName}/$name"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ann_euclidean")(spark, "/root/testdata/sf0.001")

  /** Names carrying `tag`, in registry order. */
  def tagged(tag: Tag): Seq[String] = registry.filter(_.tags(tag)).map(_.name)

  /** Names whose oracle is the agreement-gated form. */
  def agreementGated: Set[String] =
    registry.collect { case QuerySpec(n, _, AgreementGated(_), _) => n }.toSet

  /** Names whose oracle SQL is authored per fixture ([[oracleSqlFor]]). */
  def perFixtureOracles: Set[String] =
    registry.collect { case QuerySpec(n, _, PerFixture(_), _) => n }.toSet

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** The fixture-independent oracles: every [[QuerySpec.Static]] form. */
  def oracleSql: Map[String, String] =
    registry.collect { case QuerySpec(n, _, Static(sql), _) => n -> sql }.toMap

  /** The dump-time oracle map: [[oracleSql]] plus every
    * [[QuerySpec.PerFixture]] oracle, authored from THIS fixture's
    * non-null embeddings count. The auto-selected parameters (`autoNbits`,
    * √n cells) are pure functions of that count, so the chosen values are
    * inlined into static SQL — the deterministic-replay trick the pinned
    * forms use (VERDICT r9 #2). */
  def oracleSqlFor(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Map[String, String] = {
    val n = t(spark, sfDir, "embeddings")
      .filter(col("embedding").isNotNull).count()
    oracleSql ++
      registry.collect { case QuerySpec(name, _, PerFixture(sql), _) => name -> sql(n) }
  }

  // ---- ANN helpers ---------------------------------------------------------

  /** Single-query exact ANN on the embeddings table; query vector = row
    * vec_id=0, k=10, deterministic vec_id tiebreak, rounded distance. */
  private def ann(space: Space, restrictions: Seq[Restriction] = Nil)(
      s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    Ann.plan(emb, "embedding", Seq("vec_id"), space,
        AnnRequest(qv, limit = 10, restrictions = restrictions, allowFiltering = true))
      // `+ 0.0` normalizes IEEE -0.0 (cosine self-distance) to 0.0, matching
      // the oracle expression.
      .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
  }

  /** DuckDB equivalents of the distance expressions (element order preserved,
    * double accumulation — mirrors VectorFunctions). */
  /** Centroid↔query / centroid↔row L2² strings shared by the IVF-family
    * oracles (ann_ivf, ann_ivf_filtered, ann_ivfpq) — one definition so the
    * replays cannot desynchronize. */
  private val duckDistCQ =
    "list_sum(list_transform(list_zip(c.cv, q.qv), x -> " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
  private val duckDistCE =
    "list_sum(list_transform(list_zip(c.cv, e.embedding), x -> " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"

  private val duckL2 =
    "list_sum(list_transform(list_zip(e.embedding, q.qv), x -> " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
  private val duckDot =
    "list_sum(list_transform(list_zip(e.embedding, q.qv), x -> " +
      "CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private val duckNormE =
    "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private val duckNormQ =
    "sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private val duckHamming =
    "CAST(list_sum(list_transform(list_zip(e.embedding, q.qv), x -> " +
      "CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS DOUBLE)"

  private def duckAnn(distExpr: String, where: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT e.vec_id, $distExpr AS dist FROM embeddings e, q $where)
       |SELECT vec_id, round(dist, 6) + 0.0 AS distance
       |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
  private val duckCosDist = s"1.0 - $duckDot / ($duckNormE * $duckNormQ)"

  // ---- queries -------------------------------------------------------------

  /** Declares one query: name and tags, its Spark build, then its oracle. */
  private def q(name: String, tags: Tag*)(
      build: (SparkSession, String) => DataFrame)(oracle: Oracle): QuerySpec =
    QuerySpec(name, build, oracle, tags.toSet)

  /** Every driver-contract query, in declaration order. Lazy: the oracle
    * SQL reads helper vals declared further down this object. */
  lazy val registry: Seq[QuerySpec] = Seq(
    // A1-ish: the classic pushdown-friendly aggregation.
    q("q1_agg", Sf1Bench, Sf10Spot, Sf100Spot, ExplainDefault)((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
    })(
      Static("SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_returnflag")),

    // Semi-join shape (TPC-H Q4 essence): orders with at least one
    // returned lineitem, counted per priority — LeftSemi ships no payload
    // from the probe side and short-circuits on first match.
    q("q_semi_join")((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    })(
      Static("""SELECT o_orderpriority, count(*) AS order_count FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin)),

    // Anti-join twin: orders with NO returned lineitem, per status.
    q("q_anti_join")((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("order_count"))
    })(
      Static("""SELECT o_orderstatus, count(*) AS order_count FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderstatus""".stripMargin)),

    // Rollup (grouping-sets) aggregate with explicit ALL markers so the
    // subtotal rows hash identically cross-engine.
    q("q_rollup")((s, dir) =>
      t(s, dir, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n")))(
      Static("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // Join + exact decimal money aggregation; dims broadcast.
    q("q_join_agg", Sf10Spot, Sf100Spot, ExplainDefault)((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"))
    })(
      Static("""SELECT n_name, count(*) AS n_orders,
        |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // Timestamp-typed predicate pushdown + exact decimal aggregation.
    q("q_date_agg", Sf10Spot, Sf100Spot)((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-07-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 4).cast("double").as("revenue")))(
      Static("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-07-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3 shape: filters pushed to all three scans, dimension side
    // broadcast, partial agg before the shuffle, top-10 by rounded revenue.
    q("q3_shipping")((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")), 4).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    })(
      Static("""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: 6-way join — the three dimension tables broadcast,
    // the fact-side joins shuffle on their keys, revenue decimal-exact.
    q("q5_region_revenue", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // region→nation→supplier reduces to the ASIA suppliers FIRST and
      // broadcasts onto lineitem, so the expensive l⋈o shuffle carries only
      // ASIA-supplier line items (~1/|regions| of the table) — the join
      // order that survives a 100× lineitem scale-up
      val asiaSup = su
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      l.join(broadcast(asiaSup), l("l_suppkey") === asiaSup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")), 4).cast("double").as("revenue"))
    })(
      Static("""SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)),

    // T1-style global top-k with deterministic tiebreak.
    q("q_topk", Sf10Spot, Sf100Spot)((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice"))(
      Static("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10")),

    // P1: scalar restriction forms In + Gt compiled to one pushed predicate.
    q("restr_forms")((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(RestrictionCompiler.compileAll(c.schema, Seq(
          Restriction.In("c_nationkey", Seq(1, 5, 9)),
          Restriction.Gt("c_acctbal", 1000.0))))
        .select("c_custkey")
    })(
      Static("SELECT c_custkey FROM customer WHERE c_nationkey IN (1, 5, 9) AND c_acctbal > 1000.0")),

    // P2/P3: typed comparisons across the native-type fixture (itemsTyped,
    // table/column.rs:30-50) — tinyint/boolean/text/varint/timestamp/time
    // restrictions compiled through the same strict-cast path; the timestamp
    // literal goes through the JSON boundary (F7 space-separated form).
    q("restr_typed")((s, dir) => {
      val t4 = Fixtures.itemsTyped(s, dir)
      val cutoff = graft.api.JsonValues.fromJson(
        "2024-01-01 00:10:00.000Z", graft.api.JsonValues.TimestampT)
      t4.filter(RestrictionCompiler.compileAll(t4.schema, Seq(
          Restriction.Gt("c_tinyint", 25),
          Restriction.Eq("c_boolean", true),
          Restriction.Lt("c_text", "m"),
          Restriction.Lte("c_varint", BigDecimal(100000)),
          Restriction.Gte("c_timestamp", cutoff),
          Restriction.Gt("c_time", 900L * 1000000000L))))
        .select(col("pk"), col("c_text"), col("c_tinyint").cast("int").as("c_tinyint"),
          col("c_smallint").cast("int").as("c_smallint"), col("c_bigint"),
          col("c_varint").cast("long").as("c_varint"), col("c_boolean"),
          col("c_inet"), col("c_time"), col("c_timestamp"))
    })(
      Static("""WITH t AS (SELECT p_partkey AS pk,
        |  CAST(p_name AS VARCHAR) AS c_text,
        |  CAST(p_size AS INT) AS c_tinyint,
        |  CAST(p_size * 100 AS INT) AS c_smallint,
        |  CAST(p_partkey AS BIGINT) AS c_bigint,
        |  CAST(p_partkey AS BIGINT) AS c_varint,
        |  (p_partkey % 2 = 0) AS c_boolean,
        |  '10.0.' || CAST(p_partkey % 256 AS VARCHAR) || '.1' AS c_inet,
        |  (p_partkey % 86400) * 1000000000 AS c_time,
        |  TIMESTAMP '2024-01-01 00:00:00' + p_partkey * INTERVAL 1 SECOND AS c_timestamp
        |  FROM part)
        |SELECT pk, c_text, c_tinyint, c_smallint, c_bigint, c_varint, c_boolean,
        |       c_inet, c_time, c_timestamp
        |FROM t
        |WHERE c_tinyint > 25 AND c_boolean AND c_text < 'm' AND c_varint <= 100000
        |  AND c_timestamp >= TIMESTAMP '2024-01-01 00:10:00'
        |  AND c_time > CAST(900 AS BIGINT) * 1000000000""".stripMargin)),

    // P2/F7 part two: the remaining native types end-to-end — blob (0x hex),
    // date, decimal (semantic compare across scales), inet, uuid — every
    // literal routed through the JSON boundary conversion
    // (httproutes.rs:1327-1477 try_from_json).
    q("restr_typed2")((s, dir) => {
      import graft.api.JsonValues
      val t4 = Fixtures.itemsTyped(s, dir)
      val dateLit = JsonValues.fromJson("2024-03-01", JsonValues.DateT)
      val blobLit = JsonValues.fromJson("0x6d", JsonValues.BlobT) // "m"
      val decLit = JsonValues.fromJson("950.0", JsonValues.DecimalT)
      val inetLits = (0 until 8).map(i => s"10.0.${i * 30 + 7}.1")
        .map(JsonValues.fromJson(_, JsonValues.InetT))
      t4.filter(RestrictionCompiler.compileAll(t4.schema, Seq(
          Restriction.Gte("c_date", dateLit),
          Restriction.Lt("c_blob", blobLit),
          Restriction.Gt("c_decimal", decLit),
          Restriction.In("c_inet", inetLits))))
        .select(col("pk"), col("c_int"),
          date_format(col("c_date"), "yyyy-MM-dd").as("c_date_s"),
          hex(col("c_blob")).as("c_blob_hex"),
          col("c_decimal").cast("double").as("c_decimal_d"),
          col("c_inet"), col("c_uuidish"))
    })(
      Static("""WITH t AS (SELECT p_partkey AS pk,
        |  CAST(p_size AS INT) AS c_int,
        |  DATE '2024-01-01' + CAST(p_partkey % 365 AS INT) AS c_date,
        |  CAST(p_name AS BLOB) AS c_blob,
        |  CASE WHEN p_partkey % 2 = 0
        |       THEN CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DECIMAL(38,18))
        |       ELSE CAST(p_retailprice AS DECIMAL(38,18)) END AS c_decimal,
        |  '10.0.' || CAST(p_partkey % 256 AS VARCHAR) || '.1' AS c_inet,
        |  lower(md5(CAST(p_partkey AS VARCHAR))) AS h
        |  FROM part)
        |SELECT pk, c_int, strftime(c_date, '%Y-%m-%d') AS c_date_s,
        |  hex(c_blob) AS c_blob_hex,
        |  CAST(c_decimal AS DOUBLE) AS c_decimal_d,
        |  c_inet,
        |  substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
        |    substr(h,17,4) || '-' || substr(h,21,12) AS c_uuidish
        |FROM t
        |WHERE c_date >= DATE '2024-03-01' AND c_blob < encode('m')
        |  AND c_decimal > 950.0
        |  AND c_inet IN ('10.0.7.1', '10.0.37.1', '10.0.67.1', '10.0.97.1', '10.0.127.1', '10.0.157.1', '10.0.187.1', '10.0.217.1')""".stripMargin)),

    // F7 uuid conversion end-to-end: the dashed literal goes through
    // java.util.UUID parsing (canonical form) and selects exactly the rows
    // whose derived uuid matches — uuid equality is representation-exact.
    q("restr_uuid")((s, dir) => {
      import graft.api.JsonValues
      val t4 = Fixtures.itemsTyped(s, dir)
      def dashed(seed: String): String = {
        val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(seed)
        s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
          s"${h.substring(16, 20)}-${h.substring(20, 32)}"
      }
      val uuids = Seq("1", "7", "42").map(seedHex =>
        JsonValues.fromJson(dashed(seedHex), JsonValues.UuidT))
      t4.filter(RestrictionCompiler.compileAll(t4.schema, Seq(
          Restriction.In("c_uuidish", uuids))))
        .select("pk", "c_uuidish")
    })(
      Static("""WITH t AS (SELECT p_partkey AS pk,
        |  lower(md5(CAST(p_partkey AS VARCHAR))) AS h FROM part),
        |u AS (SELECT pk,
        |  substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
        |    substr(h,17,4) || '-' || substr(h,21,12) AS c_uuidish FROM t),
        |lits AS (SELECT lower(md5(s)) AS h FROM (VALUES ('1'), ('7'), ('42')) v(s))
        |SELECT pk, c_uuidish FROM u
        |WHERE c_uuidish IN (SELECT
        |  substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
        |    substr(h,17,4) || '-' || substr(h,21,12) FROM lits)""".stripMargin)),

    // P1/P4: tuple (lexicographic) restriction forms via struct comparison.
    q("restr_tuple")((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(RestrictionCompiler.compileAll(c.schema, Seq(
          Restriction.GtTuple(Seq("c_nationkey", "c_custkey"), Seq(12, 100L)),
          Restriction.LteTuple(Seq("c_nationkey", "c_custkey"), Seq(20, 5000L)))))
        .select("c_custkey", "c_nationkey")
    })(
      Static("""SELECT c_custkey, c_nationkey FROM customer
        |WHERE (c_nationkey > 12 OR (c_nationkey = 12 AND c_custkey > 100))
        |AND (c_nationkey < 20 OR (c_nationkey = 20 AND c_custkey <= 5000))""".stripMargin)),

    // P1: Eq + bounded range on one column.
    q("restr_eq_range")((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(RestrictionCompiler.compileAll(c.schema, Seq(
          Restriction.Eq("c_mktsegment", "BUILDING"),
          Restriction.Gte("c_acctbal", 0.0),
          Restriction.Lte("c_acctbal", 5000.0))))
        .select("c_custkey", "c_acctbal")
    })(
      Static("""SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 0.0 AND c_acctbal <= 5000.0""".stripMargin)),

    // P1: InTuple (disjunction of tuple equalities, mixed types).
    q("restr_in_tuple")((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(RestrictionCompiler.compileAll(c.schema, Seq(
          Restriction.InTuple(Seq("c_nationkey", "c_mktsegment"),
            Seq(Seq(1, "BUILDING"), Seq(5, "AUTOMOBILE"), Seq(9, "MACHINERY"))))))
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    })(
      Static("""SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
        |WHERE (c_nationkey = 1 AND c_mktsegment = 'BUILDING')
        |   OR (c_nationkey = 5 AND c_mktsegment = 'AUTOMOBILE')
        |   OR (c_nationkey = 9 AND c_mktsegment = 'MACHINERY')""".stripMargin)),

    // T1: ANN top-k, one query vector, all four spaces (F1-F4).
    q("ann_euclidean", Sf10Spot, Sf100Spot, ExplainDefault)(ann(Euclidean) _)(
      Static(duckAnn(duckL2))),
    q("ann_cosine", Sf1Bench, Sf10Spot, Sf100Spot)(ann(Cosine) _)(
      Static(duckAnn(duckCosDist))),
    q("ann_dot")(ann(DotProduct) _)(
      Static(duckAnn(s"-$duckDot"))),
    q("ann_hamming")(ann(Hamming) _)(
      Static(duckAnn(duckHamming))),

    // T1 at the limit extremes: k=1 (request default) and k=100.
    q("ann_k1")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 7).select("embedding")
        .head.getSeq[Float](0)
      Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean, AnnRequest(qv))
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
         |d AS (SELECT e.vec_id, $duckL2 AS dist FROM embeddings e, q)
         |SELECT vec_id, round(dist, 6) + 0.0 AS distance
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 1""".stripMargin)),
    q("ann_k100")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean, AnnRequest(qv, limit = 100))
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, $duckL2 AS dist FROM embeddings e, q)
         |SELECT vec_id, round(dist, 6) + 0.0 AS distance
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 100""".stripMargin)),

    // F5: similarity score mapping surfaced alongside the distance.
    q("ann_similarity")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      Ann.plan(emb, "embedding", Seq("vec_id"), Cosine, AnnRequest(qv, limit = 10))
        .select(col("vec_id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"),
          (round(col("similarity"), 6) + lit(0.0)).as("similarity"))
    })(
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, $duckCosDist AS dist FROM embeddings e, q)
         |SELECT vec_id, round(dist, 6) + 0.0 AS distance,
         |       round((2.0 - dist) / 2.0, 6) + 0.0 AS similarity
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)),

    // T2: filtered ANN — restriction evaluated before ranking (O1).
    q("ann_filtered", ExplainDefault)(ann(Euclidean, Seq(Restriction.In("label", Seq(3, 7)))) _)(
      Static(duckAnn(duckL2, "WHERE e.label IN (3, 7)"))),

    // J1: batched multi-query ANN (broadcast query side, window top-k).
    q("ann_batch")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Ann.searchBatch(qs, emb, "embedding", Seq("vec_id"), Euclidean, k = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("distance"), 6).as("distance"), col("rank"))
    })(
      Static(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, $duckL2 AS dist FROM embeddings e, q),
         |r AS (SELECT query_id, vec_id, dist,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
         |  FROM d)
         |SELECT query_id, vec_id, round(dist, 6) AS distance, rank
         |FROM r WHERE rank <= 3""".stripMargin)),
    // ST2/ST3: batch LWW compaction of a change stream (error ⇒ tombstone);
    // ts is long nanos, event_id is the arrival sequence for tie-breaks.
    q("lww_state", Sf10Spot, Sf100Spot)((s, dir) => {
      // ts_us: DuckDB 1.0 reads TIMESTAMP(NANOS) parquet at µs precision, so
      // the oracle comparison happens on µs-truncated writetimes.
      // Project BEFORE compacting: the max_by payload struct is opaque to
      // Catalyst column pruning, so an unused fat column (props) would ride
      // through every comparison (measured: the whole-bench GC churn that
      // inflated this query 10-20×).
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          expr("ts div 1000").as("ts_us"),
          when(col("event_type") === "error", "DELETE").otherwise("UPSERT").as("op"))
      Lww.compactState(ev, pkCols = Seq("user_id"), tsCol = "ts_us",
          opCol = Some("op"), seqCol = Some("event_id"))
        .select("user_id", "event_type", "value", Lww.TombstoneCol, Lww.TsCol)
    })(
      Static("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type, value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsn DESC, event_id ASC) rn FROM e)
        |SELECT user_id, event_type, value, (event_type = 'error') AS _tombstone, tsn AS _lww_ts
        |FROM r WHERE rn = 1""".stripMargin)),

    // Live view after compaction (what the index serves).
    q("lww_live")((s, dir) => {
      // projected before compaction — see lww_state's note
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          expr("ts div 1000").as("ts_us"),
          when(col("event_type") === "error", "DELETE").otherwise("UPSERT").as("op"))
      Lww.compactLive(ev, pkCols = Seq("user_id"), tsCol = "ts_us",
          opCol = Some("op"), seqCol = Some("event_id"))
        .select("user_id", "event_type", "value", Lww.TsCol)
    })(
      Static("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type, value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsn DESC, event_id ASC) rn FROM e)
        |SELECT user_id, event_type, value, tsn AS _lww_ts
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // A1: live (indexable) row count per group — the index count surface.
    q("index_count")((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n")))(
      Static("SELECT label, count(*) AS n FROM embeddings WHERE embedding IS NOT NULL GROUP BY label")),

    // A3: per-partition sizes of the live compacted state (empty partitions
    // disappear — partition removal).
    q("partition_sizes", Sf10Spot, Sf100Spot)((s, dir) => {
      // projected before compaction — see lww_state's note
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"),
          when(col("event_type") === "error", "DELETE").otherwise("UPSERT").as("op"))
      val live = Lww.compactLive(ev, pkCols = Seq("user_id"), tsCol = "ts_us",
        opCol = Some("op"), seqCol = Some("event_id"))
      Lww.partitionSizes(live, Seq("event_type"))
    })(
      Static("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsn DESC, event_id ASC) rn FROM e)
        |SELECT event_type, count(*) AS size
        |FROM r WHERE rn = 1 AND event_type <> 'error' GROUP BY event_type""".stripMargin)),

    // Sessionization: gaps-and-islands per user with a 1-hour gap.
    q("event_sessions", Sf10Spot, Sf100Spot)((s, dir) =>
      Sessionize.sessions(
        t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
        keyCol = "user_id", tsCol = "ts_us", gapMicros = 3600L * 1000000L,
        seqCol = "event_id", valueCol = Some("value")))(
      Static("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS st
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |i AS (SELECT *, CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, min(ts_us) AS session_start, max(ts_us) AS session_end,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM i GROUP BY user_id, session_id""".stripMargin)),

    // Tumbling-window aggregation on the event stream (pure integer hour
    // bucketing on nanos ⇒ exact cross-engine parity; decimal-exact sum).
    q("event_window_agg")((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          (expr("ts div 3600000000000") * 3600).as("hour_epoch_s"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
    })(
      Static("""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch_s, event_type,
        |count(*) AS n,
        |CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY hour_epoch_s, event_type""".stripMargin)),
    // Spark-native session_window (the streaming sessionization path) run
    // in batch mode over the same events — must agree with the
    // gaps-and-islands oracle down to the exact-boundary rule (the +1 µs
    // gap alignment in Sessionize.sessionsStream).
    q("event_sessions_window", Sf1Bench)((s, dir) =>
      Sessionize.sessionsStream(
        t(s, dir, "events")
          .select(col("user_id"), col("value"),
            timestamp_micros(expr("ts div 1000")).as("ts_t")),
        keyCol = "user_id", tsCol = "ts_t", gapMicros = 3600L * 1000000L,
        valueCol = Some("value")))(
      // the gaps-and-islands replay of Spark's session_window merge (same
      // construction as event_sessions, session index dropped from output)
      Static("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS st
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |i AS (SELECT *, sum(st) OVER (PARTITION BY user_id ORDER BY ts_us
        |                              ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
        |SELECT user_id, min(ts_us) AS session_start, max(ts_us) AS session_end,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM i GROUP BY user_id, session_id""".stripMargin)),

    // Per-user rolling window over the last 20 events (moving avg/sum/max
    // baselines): one shuffle on the key, bounded rows-frame, no global
    // sort. Deterministic (ts, event_id) frame order.
    q("rolling_stats", Sf1Bench)((s, dir) =>
      Temporal.rollingStats(t(s, dir, "events"), "user_id", "event_id", "ts",
        "value", window = 20))(
      // Same frame, DuckDB WINDOW clause; ns timestamps order identically
      // on both sides (Spark orders the raw nanos long).
      Static("""SELECT user_id, event_id,
        |  count(*) OVER w AS w_n,
        |  round(sum(value) OVER w, 6) + 0.0 AS w_sum,
        |  round(avg(value) OVER w, 6) + 0.0 AS w_avg,
        |  max(value) OVER w AS w_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Interval-overlap join: each user's sessions × that user's ±1 h
    // purchase windows — pairs emitted exactly once via the
    // later-start-bucket rule, candidate space bounded by bucket fanout.
    q("interval_join")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val sessions = Sessionize.sessions(ev, "user_id", "ts_us",
          gapMicros = 3600L * 1000000L, seqCol = "event_id")
        .select(col("user_id"), col("session_id"),
          col("session_start").as("s"), col("session_end").as("e"))
      val hour = 3600L * 1000000L
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          (col("ts_us") - hour).as("s"), (col("ts_us") + hour).as("e"))
      Temporal.intervalJoin(sessions, windows, Seq("user_id"), "s", "e",
        Seq("session_id"), Seq("event_id"), bucketMicros = 2 * hour)
    })(
      // The oracle is the PLAIN inequality join — an independent algorithm:
      // the bucketed equi-join + later-start-bucket dedup must produce
      // exactly the naive overlap pair set. Sessions replay via the same
      // gaps-and-islands SQL as event_sessions.
      Static {
        val hour = 3600L * 1000000L
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, event_type
           |  FROM events),
           |marked AS (SELECT user_id, event_id, tu,
           |  CASE WHEN lag(tu) OVER w IS NULL
           |            OR tu - lag(tu) OVER w > ${3600L * 1000000L} THEN 1
           |       ELSE 0 END AS is_start
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
           |sess AS (SELECT user_id,
           |  CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY tu, event_id
           |    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id, tu
           |  FROM marked),
           |sg AS (SELECT user_id, session_id, min(tu) AS s, max(tu) AS e
           |  FROM sess GROUP BY 1, 2),
           |pw AS (SELECT user_id, event_id, tu - $hour AS s, tu + $hour AS e
           |  FROM e WHERE event_type = 'purchase')
           |SELECT sg.user_id, sg.session_id AS l_session_id,
           |  sg.s AS l_s, sg.e AS l_e,
           |  pw.event_id AS r_event_id, pw.s AS r_s, pw.e AS r_e,
           |  least(sg.e, pw.e) - greatest(sg.s, pw.s) AS overlap_us
           |FROM sg JOIN pw ON sg.user_id = pw.user_id
           |  AND sg.s <= pw.e AND pw.s <= sg.e""".stripMargin
      }),

    // ORC source round trip (Spark-native columnar alternative): written
    // once, read back under the explicit schema; oracle = the parquet.
    q("orc_roundtrip")((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = indexDir(dir, "docs_orc")
      graft.sources.IndexStorage.buildOnce(s"$dir/documents.parquet", path)(
        docs.write.mode("overwrite").orc(path))
      s.read.schema(docs.schema).orc(path)
    })(
      Static("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // Ordered funnel view → click → purchase: stage times must advance
    // strictly, keys fall out where they stall; chained key equi-joins,
    // one row per surviving key per stage.
    q("event_funnel", Sf10Spot, Sf100Spot)((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Sessionize.funnel(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
    })(
      // Replays the funnel as chained per-stage min aggregates with the
      // strict t > t_prev advance; LEFT JOINs keep stalled keys.
      Static("""WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
        |s1 AS (SELECT user_id, min(tu) AS t_1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tu) AS t_2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND tu > t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tu) AS t_3 FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND tu > t_2 GROUP BY 1)
        |SELECT s1.user_id, t_1, t_2, t_3,
        |  (t_3 IS NOT NULL) AS completed,
        |  CASE WHEN t_3 IS NOT NULL THEN t_3 - t_1 END AS funnel_micros
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""
        .stripMargin)),

    // Weekly cohort retention triangle over the event stream.
    q("cohort_retention")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Sessionize.cohortRetention(ev, "user_id", "ts_us",
        periodMicros = 7L * 86400 * 1000000)
    })(
      Static {
        val period = 7L * 86400 * 1000000
        s"""WITH ev AS (SELECT user_id, epoch_us(ts) // $period AS p FROM events),
           |f AS (SELECT user_id, min(p) AS c FROM ev GROUP BY 1)
           |SELECT c AS cohort_period, p - c AS period_offset,
           |  count(DISTINCT ev.user_id) AS n_active
           |FROM ev JOIN f USING (user_id)
           |GROUP BY 1, 2""".stripMargin
      }),

    // Rolling z-score anomaly flags: each event vs the preceding 20
    // events' power-sum moments (current excluded from its baseline).
    q("rolling_zscore")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Temporal.rollingZscore(ev, "user_id", "event_id", "ts_us", "value",
        window = 20)
    })(
      // Exact-integer (cent-scaled) power-sum moments over the same
      // PRECEDING-20 frame — frame sums are exact, so the divisions and
      // 4-rounding are bit-identical regardless of either engine's window
      // accumulation order.
      Static("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, value,
        |  round(value * 100) AS c FROM events),
        |s AS (SELECT user_id, event_id, value, c,
        |  CAST(count(c) OVER w AS DOUBLE) AS n,
        |  sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT user_id, event_id, value, c, n,
        |  s1 / n AS mu, sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd
        |  FROM s)
        |SELECT user_id, event_id, value,
        |  CASE WHEN n >= 5 THEN round(mu, 2) / 100 + 0.0 END AS baseline_mean,
        |  CASE WHEN n >= 5 AND sd > 0
        |    THEN round((c - mu) / sd, 4) + 0.0 END AS zscore,
        |  coalesce(CASE WHEN n >= 5 AND sd > 0
        |    THEN abs(round((c - mu) / sd, 4) + 0.0) > 3.0 END, false)
        |    AS is_anomaly
        |FROM z""".stripMargin)),

    // Regular-grid resample + forward fill (6 h buckets over the 30-day
    // event stream): last event per (user, bucket), grid densified
    // between each user's first and last bucket, LOCF across gaps.
    q("event_resample")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Temporal.resampleFfill(ev, "user_id", "ts_us", "value",
        stepMicros = 6L * 3600 * 1000000)
    })(
      // Replays resampleFfill: bucket = micros // step, last-event-per-
      // bucket via the same (ts, value) struct max, generate_series grid,
      // IGNORE NULLS last_value fill — both engines share inclusive-bounds
      // grid semantics and struct comparison order.
      Static {
        val step = 6L * 3600 * 1000000
        s"""WITH e AS (SELECT user_id, epoch_us(ts) // $step AS b,
           |  epoch_us(ts) AS tu, value FROM events),
           |pb AS (SELECT user_id, b,
           |  (max(struct_pack(t := tu, v := value))).v AS v
           |  FROM e GROUP BY 1, 2),
           |bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi
           |  FROM pb GROUP BY 1),
           |g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b
           |  FROM bounds),
           |j AS (SELECT g.user_id, g.b, pb.v
           |  FROM g LEFT JOIN pb USING (user_id, b))
           |SELECT user_id, b * $step AS bucket_start_us,
           |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
           |    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |    6) + 0.0 AS value,
           |  (v IS NULL) AS is_gap
           |FROM j""".stripMargin
      }),

    // Bucketed-table co-located join: both sides written bucketed on the
    // join key (shuffle paid ONCE at ingest), so the recurring join plans
    // Exchange-free — PlanQualitySpec pins that; this oracle pins the
    // answer (identical to the plain join, bucketing is pure layout).
    q("bucketed_join_agg")((s, dir) => {
      // dots AND hyphens: "sf0.01" and "testdata-sf1" must both yield a
      // legal unquoted table identifier
      val safe = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val li = Layout.bucketedOnce(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        s"li_bkt_$safe", indexDir(dir, "li_bkt"), "l_orderkey", 8)
      val ord = Layout.bucketedOnce(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        s"ord_bkt_$safe", indexDir(dir, "ord_bkt"), "o_orderkey", 8)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    })(
      // layout is invisible to semantics: the bucketed join must equal the
      // plain join+agg (DECIMAL sum for order independence)
      Static("""SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // Backward as-of join (union+window formulation, ONE shuffle on the
    // key, no join operator): each error event matched to the same user's
    // most recent click at-or-before it. The oracle replays it through
    // DuckDB's NATIVE ASOF JOIN — an independent algorithm agreeing on
    // every row is the strongest semantics check available.
    q("asof_join", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_us")
      // dedupe the right side per (key, ts): every native ASOF impl assumes
      // it, and the µs truncation could collide two ns-distinct clicks —
      // Spark's max-struct tiebreak and DuckDB's arbitrary pick would then
      // diverge. max_by keeps the newest click per microsecond.
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"),
          expr("max_by(value, event_id)").as("click_value"))
      Temporal.asofJoin(errors, clicks, Seq("user_id"), "ts_us",
        Seq("click_id", "click_value"))
    })(
      // DuckDB's NATIVE ASOF JOIN — an independent as-of implementation
      // agreeing row-for-row with the union+window formulation.
      Static("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'),
        |c AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS click_id,
        |             max_by(value, event_id) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts))
        |SELECT e.event_id, e.user_id, e.ts_us,
        |       c.ts_us AS asof_ts_us, c.click_id AS asof_click_id, c.click_value AS asof_click_value
        |FROM e ASOF JOIN c ON e.user_id = c.user_id AND e.ts_us >= c.ts_us""".stripMargin)),

    // FORWARD as-of: each click matched to the same user's NEAREST error
    // at-or-after it (the time-to-failure / next-event query) — the same
    // union+window merge with the scan direction flipped; the oracle is
    // DuckDB's native forward ASOF (l.ts <= r.ts), an independent
    // implementation again.
    q("asof_join_forward")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      // (key, ts)-unique right side — see asof_join's note
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("error_id"))
      Temporal.asofJoin(clicks, errors, Seq("user_id"), "ts_us",
        Seq("error_id"), forward = true)
    })(
      Static("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS error_id
        |      FROM events WHERE event_type = 'error' GROUP BY user_id, epoch_us(ts))
        |SELECT c.event_id, c.user_id, c.ts_us,
        |       e.ts_us AS asof_ts_us, e.error_id AS asof_error_id
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.ts_us <= e.ts_us""".stripMargin)),

    // LEFT OUTER as-of: signups keep their row even before the user's
    // first purchase (null right columns) — DuckDB's ASOF LEFT JOIN twin.
    q("asof_join_left")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts_us")
      // (key, ts)-unique right side — see asof_join's note
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("purchase_id"))
      Temporal.asofJoin(signups, purchases, Seq("user_id"), "ts_us",
        Seq("purchase_id"), leftOuter = true)
    })(
      Static("""WITH s AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS purchase_id
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_us(ts))
        |SELECT s.event_id, s.user_id, s.ts_us,
        |       p.ts_us AS asof_ts_us, p.purchase_id AS asof_purchase_id
        |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts_us >= p.ts_us""".stripMargin)),

    // Banded interval join on (user, time-bucket): every error within 6 h
    // AFTER each click. The bucketed equi-join bounds candidate volume per
    // (key, bucket); the oracle is the plain inequality join.
    q("range_join")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Temporal.rangeJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "error"),
        Seq("user_id"), "ts_us",
        lowMicros = 0L, highMicros = 6L * 3600L * 1000000L,
        leftValCols = Seq("event_id"), rightValCols = Seq("event_id"))
    })(
      Static("""WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error')
        |SELECT c.user_id, c.event_id AS l_event_id, e.event_id AS r_event_id,
        |       e.ts_us - c.ts_us AS delta_us
        |FROM c JOIN e ON c.user_id = e.user_id
        |  AND e.ts_us - c.ts_us > 0 AND e.ts_us - c.ts_us <= 21600000000""".stripMargin)),

    // PII detection + redaction over deterministically seeded text (the
    // corpus itself carries no PII, so each doc gets a derived email / IP /
    // phone appended — same fixture-derivation pattern as
    // writetime_projection); counts on the original, replacement in
    // PiiPatterns order.
    q("pii_scrub")((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or 10."),
          col("doc_id") % 200, lit(".0.7 tel +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text2"))
      TextAnalysis.piiScrub(seeded, "doc_id", "text2")
    })(
      Static {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        val phone = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}"
        s"""WITH d AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 10.' ||
           |  CAST(doc_id % 200 AS VARCHAR) || '.0.7 tel +1-555-' ||
           |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2 FROM documents)
           |SELECT doc_id,
           |  len(regexp_extract_all(text2, '$email')) AS n_email,
           |  len(regexp_extract_all(text2, '$ip')) AS n_ip,
           |  len(regexp_extract_all(text2, '$phone')) AS n_phone,
           |  regexp_replace(regexp_replace(regexp_replace(text2,
           |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
           |FROM d""".stripMargin
      }),

    // Canonical normalization: NFC (native UnicodeNormalize expression) →
    // lower → collapse whitespace → trim, over text seeded with decomposed
    // accents / mixed case / tab runs; the oracle replays via DuckDB's
    // nfc_normalize — again an independent Unicode implementation.
    q("text_normalize")((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("  Café ÉSTA\t"), col("text"),
          lit("  MiXeD  CASE ")).as("messy"))
      TextAnalysis.normalized(seeded, "doc_id", "messy")
    })(
      // nfc_normalize = DuckDB's independent (utf8proc) NFC — both engines
      // implement the same Unicode canonical composition, so norm_text must
      // agree byte-for-byte; chr(769) is the combining acute the Spark side
      // embeds as a ́ literal.
      Static("""WITH d AS (SELECT doc_id,
        |  '  Cafe' || chr(769) || ' E' || chr(769) || 'STA' || chr(9) || text || '  MiXeD  CASE ' AS messy
        |  FROM documents),
        |n AS (SELECT doc_id, messy,
        |  trim(regexp_replace(lower(nfc_normalize(messy)), '\s+', ' ', 'g')) AS norm_text FROM d)
        |SELECT doc_id, norm_text, (norm_text <> messy) AS changed FROM n""".stripMargin)),

    // O2/O4: local (partitioned) index — routed through the Engine; the
    // partition-key Eq is consumed by pruning, no ALLOW FILTERING needed.
    q("ann_local")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val eng = new Engine
      eng.addIndex(Catalog.IndexMetadata(
        "vs", "ann_local", "embeddings", "embedding",
        primaryKeyColumns = Seq("vec_id"),
        partitioning = Catalog.Local(Seq("label")),
        kind = Catalog.Vs(Catalog.IndexOptionsVs(qv.length, Euclidean))), emb)
      eng.ann("vs", "ann_local", AnnRequest(qv, limit = 10,
          restrictions = Seq(Restriction.Eq("label", 3)), allowFiltering = false))
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      Static(duckAnn(duckL2, "WHERE e.label = 3"))),

    // S2: per-column writetime projection over the canonical items fixture —
    // the reference scans SELECT pk, ck, target, WRITETIME(target),
    // WRITETIME(filter_col) at bootstrap (db_index.rs:439-490). Writetimes
    // are md5-derived, so DuckDB replays them exactly.
    q("writetime_projection", Sf10Spot, Sf100Spot)((s, dir) =>
      Fixtures.items(s, dir)
        .select("pk", "ck", "_wt_embedding", "_wt_c1")
        .filter(col("_wt_embedding") > col("_wt_c1")))(
      Static(s"""WITH i AS (SELECT CAST(c_custkey % 97 AS INT) AS pk, c_custkey AS ck,
         |  1700000000000000 + (${duckHash("CAST(c_custkey AS VARCHAR) || ':e'")} % 1000000000) AS _wt_embedding,
         |  1700000000000000 + (${duckHash("CAST(c_custkey AS VARCHAR) || ':c'")} % 1000000000) AS _wt_c1
         |  FROM customer)
         |SELECT pk, ck, _wt_embedding, _wt_c1 FROM i
         |WHERE _wt_embedding > _wt_c1""".stripMargin)),

    // S10 metrics-lite: per-index gauges (live/total rows, status, progress)
    // as one DataFrame — the volatile gauges (est_size_bytes, queries_total)
    // are part of the surface but excluded here so the oracle stays exact.
    q("index_metrics")((s, dir) => {
      val eng = new Engine
      eng.addIndex(Catalog.IndexMetadata(
        "vs", "emb_idx", "embeddings", "embedding",
        primaryKeyColumns = Seq("vec_id"),
        // dims is not consulted by the metrics scrape
        kind = Catalog.Vs(Catalog.IndexOptionsVs(0, Euclidean))), t(s, dir, "embeddings"))
      eng.addIndex(Catalog.IndexMetadata(
        "fts", "doc_idx", "documents", "text",
        primaryKeyColumns = Seq("doc_id"),
        kind = Catalog.Fts(Catalog.IndexOptionsFts())), t(s, dir, "documents"))
      eng.metrics().select("keyspace", "index_name", "kind", "status",
        "progress_pct", "live_rows", "total_rows")
    })(
      Static("""SELECT 'fts' AS keyspace, 'doc_idx' AS index_name, 'fulltext' AS kind,
        |       'Serving' AS status, CAST(100.0 AS DOUBLE) AS progress_pct,
        |       count(text) AS live_rows, count(*) AS total_rows FROM documents
        |UNION ALL
        |SELECT 'vs', 'emb_idx', 'vector', 'Serving', CAST(100.0 AS DOUBLE),
        |       count(embedding), count(*) FROM embeddings""".stripMargin)),

    // JSONL source/sink round trip: the documents table exported once to
    // newline-delimited JSON (the LLM-pipeline interchange format) and read
    // back under the explicit schema contract — no inference, corrupt lines
    // quarantined not job-failed. The oracle is the original parquet, so a
    // hash match proves value-exact round-trip fidelity.
    q("jsonl_roundtrip", IndexBacked)((s, dir) => {
      import graft.sources.Jsonl
      val docs = t(s, dir, "documents")
      Jsonl.materializeCached(s, s"$dir/documents.parquet",
          indexDir(dir, "docs_jsonl"), docs.schema)(docs)
        .filter(col(Jsonl.CorruptCol).isNull)
        .drop(Jsonl.CorruptCol)
    })(
      // round-trip fidelity: the JSONL re-read must hash-match the parquet
      Static("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // CSV source/sink round trip (the third interchange format): QUOTE_ALL
    // + backslash escaping + empty-vs-null disambiguation, read back under
    // the explicit schema with multiLine. Oracle = the original parquet.
    q("csv_roundtrip", IndexBacked)((s, dir) => {
      import graft.sources.Csv
      val docs = t(s, dir, "documents")
      Csv.materializeCached(s, s"$dir/documents.parquet",
          indexDir(dir, "docs_csv"), docs.schema)(docs)
        .filter(col(Csv.CorruptCol).isNull)
        .drop(Csv.CorruptCol)
    })(
      // round-trip fidelity: the CSV re-read must hash-match the parquet
      Static("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // MMR diversified re-ranking over the exact-ANN top-50 candidate set:
    // greedy λ·rel − (1−λ)·max-sim selection, k=10 — retrieval-time
    // near-dup suppression. The oracle replays all ten greedy steps as
    // chained argmax CTEs (score rounded 6, id tiebreak).
    q("mmr_rerank")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val cands = Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 50, allowFiltering = true),
          carryCols = Seq("embedding"))
        .select(col("vec_id"),
          (round(lit(1.0) / (lit(1.0) + col("distance")), 6) + lit(0.0)).as("rel"),
          col("embedding"))
      QualityMetrics.mmrRerank(cands, "vec_id", "rel", "embedding",
        k = 10, lambda = 0.7)
    })(
      // Replays the ten MMR greedy steps as chained argmax CTEs over the
      // exact-ANN top-50 candidates: score = 0.7·rel − (1.0−0.7)·max cosine
      // to the already-selected set ((1.0-0.7), not 0.3 — both engines must
      // fold the SAME double), rounded 6, id tiebreak.
      Static {
        val k = 10
        def cosCC2 =
          "(list_sum(list_transform(list_zip(c.v, c2.v), x -> " +
            "CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
            "(sqrt(list_sum(list_transform(c.v, t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))) * " +
            "sqrt(list_sum(list_transform(c2.v, t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE))))))"
        // every step CTE MATERIALIZED: sel_i references sel_{i-1} twice and
        // m_i three times — inlined, the 10-step chain expands exponentially
        val steps = (2 to k).map { i =>
          s"""m$i AS MATERIALIZED (SELECT c.id, c.rel, round(0.7 * c.rel - (1.0 - 0.7) * (
             |    SELECT max($cosCC2) FROM c c2
             |    WHERE c2.id IN (SELECT id FROM sel${i - 1})), 6) AS sc
             |  FROM c WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
             |  ORDER BY sc DESC, c.id ASC LIMIT 1),
             |sel$i AS MATERIALIZED (SELECT id FROM sel${i - 1} UNION ALL SELECT id FROM m$i)"""
            .stripMargin
        }
        val rows = (1 to k).map { i =>
          s"SELECT $i AS mmr_rank, id AS vec_id, rel, sc AS mmr_score FROM m$i"
        }.mkString("\nUNION ALL\n")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |c AS MATERIALIZED (SELECT e.vec_id AS id,
           |    round(1.0 / (1.0 + $duckL2), 6) + 0.0 AS rel, e.embedding AS v
           |  FROM embeddings e, q WHERE e.embedding IS NOT NULL
           |  ORDER BY $duckL2 ASC, e.vec_id ASC LIMIT 50),
           |m1 AS MATERIALIZED (SELECT id, rel, round(0.7 * rel, 6) AS sc FROM c
           |  ORDER BY sc DESC, id ASC LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT id FROM m1),
           |${steps.mkString(",\n")}
           |$rows
           |ORDER BY mmr_rank""".stripMargin
      }),

    // Per-user daily time-weighted average of the event value (left-step
    // hold until the next event in the window; exact integer products, so
    // the one division needs no rounding at all).
    q("time_weighted_avg")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Temporal.timeWeightedAvg(ev, "user_id", "event_id", "ts_us", "value",
        windowMicros = 86400L * 1000000)
    })(
      // Replays the TWA: cent values × ms hold durations (exact integers),
      // one unrounded division — identical operands ⇒ identical double.
      Static {
        val win = 86400L * 1000000
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
           |  round(value * 100) AS c, epoch_us(ts) // $win AS w FROM events),
           |d AS (SELECT user_id, w, c,
           |  (lead(tu) OVER (PARTITION BY user_id, w ORDER BY tu, event_id)
           |    - tu) // 1000 AS dms
           |  FROM e),
           |a AS (SELECT user_id, w, CAST(sum(c * dms) AS BIGINT) AS s1,
           |  CAST(sum(dms) AS BIGINT) AS s2, count(*) AS n_spans
           |  FROM d WHERE dms IS NOT NULL GROUP BY 1, 2)
           |SELECT user_id, w * $win AS window_start_us, n_spans,
           |  s2 AS held_ms,
           |  CAST(s1 AS DOUBLE) / s2 / 100 + 0.0 AS twa
           |FROM a WHERE s2 > 0""".stripMargin
      }),

    // One-pass column profiler over the orders table (the new-source
    // audit: counts, nulls, distincts, typed min/max per column).
    q("table_profile")((s, dir) =>
      Curation.tableProfile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")))(
      // One UNION ALL branch per profiled column, same aggregates.
      Static {
        def branch(c: String, num: Boolean, str: Boolean) =
          s"""SELECT '$c' AS column, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  ${if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS min_num,
             |  ${if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS max_num,
             |  ${if (str) s"min($c)" else "CAST(NULL AS VARCHAR)"} AS min_str,
             |  ${if (str) s"max($c)" else "CAST(NULL AS VARCHAR)"} AS max_str
             |FROM orders""".stripMargin
        Seq(
          branch("o_orderkey", num = true, str = false),
          branch("o_custkey", num = true, str = false),
          branch("o_orderstatus", num = false, str = true),
          branch("o_totalprice", num = true, str = false),
          branch("o_orderpriority", num = false, str = true)
        ).mkString("\nUNION ALL\n")
      }),

    // Per-source exact moment profile of document length: power-sum
    // arithmetic (engine-identical; sums of an integer signal are exact
    // in double, so no accumulation-order sensitivity).
    q("moments_profile")((s, dir) =>
      Curation.momentsProfile(t(s, dir, "documents"), "source", "n_chars"))(
      // Replays momentsProfile with the SAME expression tree (power sums of
      // an integer signal are exact in double; all downstream arithmetic is
      // then bit-identical across engines).
      Static("""WITH a AS (SELECT source, count(*) AS n,
        |  sum(CAST(n_chars AS DOUBLE)) AS s1,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS s2,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE) *
        |      CAST(n_chars AS DOUBLE)) AS s3,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE) *
        |      CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS s4
        |  FROM documents GROUP BY 1),
        |b AS (SELECT source, n,
        |  s1 / n AS m,
        |  s2 / n - (s1 / n) * (s1 / n) AS m2,
        |  s3 / n - 3 * (s1 / n) * s2 / n +
        |    2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |  s4 / n - 4 * (s1 / n) * s3 / n +
        |    6 * (s1 / n) * (s1 / n) * s2 / n -
        |    3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM a)
        |SELECT source, n,
        |  round(m, 6) + 0.0 AS mean,
        |  round(sqrt(m2), 6) + 0.0 AS stddev,
        |  CASE WHEN m2 > 0 THEN round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 6) + 0.0 END
        |    AS skewness,
        |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3, 6) + 0.0 END
        |    AS excess_kurtosis
        |FROM b""".stripMargin)),

    // S7/F14 end-to-end: the embeddings table re-encoded into Alternator's
    // `:attrs` map<text,blob> shape (even ids tag-5 big-endian binary, odd
    // ids tag-4 DynamoDB JSON — db_index_backend.rs:22-62, vector.rs:62-129),
    // decoded by the scan projection and routed through the Engine. Both
    // encodings round-trip f32 exactly, so the oracle is the plain L2 ANN
    // over the original embeddings.
    q("ann_alternator")((s, dir) => {
      import graft.sources.Alternator
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val encodeBin = udf((v: Seq[Float]) => Alternator.encodeBinary(v))
      val encodeJson = udf((v: Seq[Float]) => Alternator.encodeJson(v))
      val attrsTable = emb.select(col("vec_id"),
        map(lit("embedding"),
          when(col("vec_id") % 2 === 0, encodeBin(col("embedding")))
            .otherwise(encodeJson(col("embedding")))).as(":attrs"))
      val decoded = attrsTable.select(col("vec_id"),
        Alternator.scanProjection(col(":attrs"), "embedding").as("embedding"))
      val eng = new Engine
      eng.addIndex(Catalog.IndexMetadata(
        "alternator_ks", "ann_alt", "tbl", "embedding",
        primaryKeyColumns = Seq("vec_id"),
        kind = Catalog.Vs(Catalog.IndexOptionsVs(qv.length, Euclidean))), decoded)
      eng.ann("alternator_ks", "ann_alt", AnnRequest(qv, limit = 10))
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // encode→decode through the :attrs map is lossless on f32, so the
      // alternator-routed query must equal the plain L2 ANN
      Static(duckAnn(duckL2))),

    // S8: columnar response transpose, exploded back to one scalar row per
    // array position so the oracle can hash-compare (the array columns
    // themselves are covered by EngineSpec; `pos` proves element order).
    q("ann_transposed")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      ResultFormat.transpose(
          Ann.plan(emb, "embedding", Seq("vec_id"), Euclidean, AnnRequest(qv, limit = 5)),
          Seq("vec_id"))
        .select(posexplode(arrays_zip(
          col("pk_vec_id"), col("distances"), col("similarity_scores"))))
        .select(col("pos").cast("long").as("pos"),
          col("col.pk_vec_id").as("vec_id"),
          (round(col("col.distances"), 6) + lit(0.0)).as("distance"),
          (round(col("col.similarity_scores"), 6) + lit(0.0)).as("similarity"))
    })(
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, $duckL2 AS dist FROM embeddings e, q),
         |r AS (SELECT vec_id, dist,
         |        row_number() OVER (ORDER BY dist ASC, vec_id ASC) - 1 AS pos
         |      FROM d ORDER BY dist ASC, vec_id ASC LIMIT 5)
         |SELECT pos, vec_id, round(dist, 6) + 0.0 AS distance,
         |       round(1.0 / (1.0 + dist), 6) + 0.0 AS similarity FROM r""".stripMargin)),

    // O12: quantized two-stage rescoring over a MATERIALIZED (vec_id, _q)
    // store — the i8 column is an index artifact built once at write time;
    // stage 1 scans only the narrow quantized columns, stage 2 joins the
    // candidate pks back to the base table for exact rescoring.
    // Matryoshka two-stage: rank on the 16-dim embedding prefix (4× fewer
    // stage-1 bytes), exact full-dim rescore of the 5× oversampled
    // candidates — deterministic, so the oracle replays both stages.
    q("ann_matryoshka")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      ApproxAnn.searchMatryoshka(emb, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10), prefixDims = 16, oversample = 5.0)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // stage-1 prefix ranking over embedding[1:16] replayed raw (identical
      // double chains on both engines), then the exact full-dim rescore
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s1 AS (SELECT e.vec_id,
         |    list_sum(list_transform(list_zip(e.embedding[1:16], q.qv[1:16]), x ->
         |      (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) *
         |      (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dp
         |  FROM embeddings e, q ORDER BY dp ASC, e.vec_id ASC LIMIT 50)
         |SELECT e.vec_id, round($duckL2, 6) + 0.0 AS distance
         |FROM embeddings e JOIN s1 USING (vec_id), q
         |ORDER BY $duckL2 ASC, e.vec_id ASC LIMIT 10""".stripMargin)),

    q("ann_rescored", IndexBacked, Sf1Bench)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val qidx = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "q8"), Nil) {
        ApproxAnn.quantizedProjection(emb, "embedding", Seq("vec_id"))
      }
      ApproxAnn.searchRescoredIndexed(qidx, emb, "embedding", Seq("vec_id"),
          Euclidean, AnnRequest(qv, limit = 10), oversample = 5.0)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      Static {
        // mirror Quantization.i8 -> dequant -> stage1 top-50 on quantized
        // distance -> stage2 exact top-10, all arithmetic double as in Spark
        val scaled =
          "CASE WHEN list_max(list_transform(e.embedding, x -> abs(x))) = 0 THEN 1.0 " +
            "ELSE CAST(list_max(list_transform(e.embedding, x -> abs(x))) AS DOUBLE) / 127.0 END"
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |vq AS (SELECT e.vec_id, q.qv,
           |  list_transform(e.embedding,
           |    x -> CAST(round(CAST(x AS DOUBLE) / ($scaled)) * ($scaled) AS FLOAT)) AS emb_q
           |  FROM embeddings e, q),
           |s1 AS (SELECT vec_id, qv,
           |  list_sum(list_transform(list_zip(emb_q, qv), x ->
           |    (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) *
           |    (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dq
           |  FROM vq ORDER BY dq ASC, vec_id ASC LIMIT 50),
           |s2 AS (SELECT s1.vec_id, $duckL2 AS dist
           |  FROM s1 JOIN embeddings e ON e.vec_id = s1.vec_id, q)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM s2 ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // Oracle-checked even though approximate: the hyperplanes are
    // deterministic literals and multi-probe(radius) ≡ hamming(bucket,
    // query_bucket) ≤ radius, so DuckDB can replay the bucketing exactly.
    // The index is MATERIALIZED partitionBy(_bucket): the probe is a
    // partition-pruned scan of the probed bucket directories only.
    q("ann_lsh", IndexBacked, Sf1Bench)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val idx = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "lsh8"), Seq("_bucket")) {
        ApproxAnn.buildLshIndex(emb, "embedding", nbits = 8, dims = qv.length)
      }
      ApproxAnn.searchLsh(idx, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10), nbits = 8, radius = 2)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      Static(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qb AS (SELECT ${duckLshBucket("qv", 8)} AS qbucket FROM q),
         |d AS (SELECT e.vec_id, $duckL2 AS dist, ${duckLshBucket("e.embedding", 8)} AS bucket
         |      FROM embeddings e, q)
         |SELECT vec_id, round(dist, 6) + 0.0 AS distance
         |FROM d, qb WHERE bit_count(xor(bucket, qbucket)) <= 2
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)),

    // T2 at scale: adaptive filtered LSH — the filtered-serving path. One
    // narrow decision scan picks the smallest probe radius with enough
    // matching candidates AND enough coverage of the matching rows; the
    // ranking scan is partition-pruned at that radius, and when no radius
    // qualifies (the selective-filter regime) the plan falls back to the
    // exact scan (the reference keeps recall under selective predicates by
    // filtering in-traversal, usearch.rs:224-248). The escalation decision
    // is a deterministic function of the data, so the oracle replays it:
    // per-radius match counts → same radius choice → same result set.
    q("ann_lsh_filtered", IndexBacked)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val idx = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "lsh8"), Seq("_bucket")) {
        ApproxAnn.buildLshIndex(emb, "embedding", nbits = 8, dims = qv.length)
      }
      ApproxAnn.searchLshAdaptive(idx, emb, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10,
            restrictions = Seq(Restriction.In("label", Seq(3, 7))),
            allowFiltering = true),
          nbits = 8)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // Replays searchLshAdaptive's escalation: per-radius matching counts
      // within the Hamming neighborhood of the query bucket; the first radius
      // with ≥ 20 (= k·oversample) matches AND ≥ 0.9 coverage of all matching
      // rows wins, else radius 8 ≡ the exact-scan fallback (max Hamming
      // distance on 8 bits).
      Static {
        val cnts = (1 to 4).map(r =>
          s"sum(CASE WHEN bit_count(xor(bucket, qbucket)) <= $r THEN 1 ELSE 0 END) AS c$r")
          .mkString(",\n|        ")
        val pick = (1 to 4).map(r =>
          s"WHEN c$r >= 20 AND CAST(c$r AS DOUBLE) >= 0.9 * total THEN $r")
          .mkString(" ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |qb AS (SELECT ${duckLshBucket("qv", 8)} AS qbucket FROM q),
           |d AS (SELECT e.vec_id, $duckL2 AS dist, ${duckLshBucket("e.embedding", 8)} AS bucket
           |      FROM embeddings e, q
           |      WHERE e.label IN (3, 7) AND e.embedding IS NOT NULL),
           |c AS (SELECT
           |        $cnts,
           |        count(*) AS total
           |      FROM d, qb),
           |sel AS (SELECT CASE $pick ELSE 8 END AS r FROM c)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM d, qb, sel WHERE bit_count(xor(bucket, qbucket)) <= sel.r
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // B1 quantization as a SERVING store (usearch.rs:450-464: B1 forces the
    // Hamming metric): the index artifact holds pk + packed sign bits
    // (8 bytes/vector instead of 256 float bytes — the at-rest win), the
    // query packs driver-side, distance = popcount over XOR of the packed
    // bytes. Bit-for-bit equal to sign-mismatch Hamming on the raw floats,
    // so the oracle is the plain Hamming ANN.
    q("ann_b1", IndexBacked)((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val b1 = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "b1"), Nil) {
        emb.filter(col("embedding").isNotNull)
          .select(col("vec_id"), VectorFunctions.b1Pack(col("embedding")).as("_b1"))
      }
      val qPacked: Seq[Byte] = qv.grouped(8).map { grp =>
        grp.zipWithIndex.foldLeft(0) { case (acc, (v, i)) =>
          if (v > 0f) acc | (1 << i) else acc
        }.toByte
      }.toSeq
      b1.withColumn("distance",
          VectorFunctions.hammingPacked(col("_b1"), typedlit(qPacked)).cast("double"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // packed-popcount Hamming == sign-mismatch Hamming on the raw floats
      Static(duckAnn(duckHamming))),

    // IVF probe path, oracle-checked end-to-end: assignment (nearest of k
    // centroids, (distance, cid) tiebreak) + nprobe pruning + exact ranking
    // inside the probed cells. Centroids here are a deterministic SELECTION
    // (vec_id < 16) rather than MLlib k-means, because k-means' float
    // iterations are not replayable in ANSI SQL — the TRAINED path runs the
    // same assignToCentroids/searchIvf operators and is pinned separately
    // (ApproxAnnSpec: fixed-seed determinism + recall).
    q("ann_ivf")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val centroids = selectionCentroids(emb)
      val assigned = ApproxAnn.assignToCentroids(emb, "embedding", centroids)
      ApproxAnn.searchIvf(assigned, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10), centroids, nprobe = 4)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // Replays IVF assignment + probe: same (distance, cid) argmin per row,
      // same 4 nearest probe cells, exact ranking within them.
      Static {
        val distCQ = duckDistCQ
        val distCE = duckDistCE
        val distSQ = "list_sum(list_transform(list_zip(s.embedding, q.qv), x -> " +
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           |      WHERE vec_id < 16 AND embedding IS NOT NULL),
           |probes AS (SELECT cid FROM c, q ORDER BY $distCQ ASC, cid ASC LIMIT 4),
           |ad0 AS (SELECT e.vec_id, e.embedding, c.cid, $distCE AS d
           |        FROM embeddings e, c WHERE e.embedding IS NOT NULL),
           |ad AS (SELECT *, row_number() OVER
           |         (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM ad0),
           |sel AS (SELECT a.vec_id, a.embedding FROM ad a
           |        JOIN probes p ON a.cid = p.cid WHERE a.rn = 1),
           |dd AS (SELECT s.vec_id, $distSQ AS dist FROM sel s, q)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM dd ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // PQ/ADC serving path (Jégou et al. 2011, the IVFADC building block):
    // stage 1 ranks on asymmetric distance over the MATERIALIZED code store
    // — the scan reads (vec_id, _pq), 8 int codes instead of 64 floats, and
    // distance is 8 lookups into a per-query LUT — stage 2 re-scores the
    // 40-candidate broadcast exactly. Codebooks here are a deterministic
    // SELECTION (first 16 non-null vectors renumbered 0..15) so DuckDB
    // replays encode + LUT + ADC bit-for-bit; the TRAINED path
    // (per-subspace MLlib k-means) runs the same encode/search operators
    // and is pinned separately in ApproxAnnSpec (determinism + recall).
    q("ann_pq", IndexBacked)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val cb = ApproxAnn.selectPqCodebooks(emb, "embedding", "vec_id", m = 8, k = 16)
      val codes = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "pq8x16"), Nil) {
        ApproxAnn.pqEncode(emb, "embedding", cb).select(col("vec_id"), col("_pq"))
      }
      ApproxAnn.searchPq(codes, emb, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10), cb, oversample = 4.0)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // Replays PQ end-to-end: selection codebooks (first 16 non-null vectors
      // renumbered, 8 slices of 8 dims), encode = per-(vector, subspace)
      // argmin by (d, code), per-query LUT, ADC = subspace-ordered sum of LUT
      // entries, top-40 by (adc, vec_id), exact re-score, top-10. list_sum
      // over list(... ORDER BY j) pins the double accumulation order to
      // Spark's left fold.
      Static {
        val sliceE = "list_slice(e.embedding, cb.j*8+1, cb.j*8+8)"
        val sliceQ = "list_slice(q.qv, cb.j*8+1, cb.j*8+8)"
        def l2(a: String) =
          s"list_sum(list_transform(list_zip($a, cb.cw), x -> " +
            "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
            "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |cbrows AS (SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code
           |           FROM embeddings WHERE embedding IS NOT NULL
           |           ORDER BY vec_id LIMIT 16),
           |js AS (SELECT unnest(range(8)) AS j),
           |cb AS (SELECT r.code, js.j, list_slice(r.embedding, js.j*8+1, js.j*8+8) AS cw
           |       FROM cbrows r, js),
           |enc0 AS (SELECT e.vec_id, cb.j, cb.code, ${l2(sliceE)} AS d
           |         FROM embeddings e, cb WHERE e.embedding IS NOT NULL),
           |enc AS (SELECT vec_id, j, code FROM
           |          (SELECT *, row_number() OVER
           |             (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn
           |           FROM enc0) WHERE rn = 1),
           |lut AS (SELECT cb.j, cb.code, ${l2(sliceQ)} AS d FROM cb, q),
           |adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY lut.j)) AS adc
           |        FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
           |        GROUP BY enc.vec_id),
           |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 40),
           |dd AS (SELECT e.vec_id, $duckL2 AS dist
           |       FROM embeddings e JOIN cand USING (vec_id), q)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM dd ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // Adaptive filtered IVF, oracle-checked end-to-end: the escalation
    // decision (first nprobe whose nearest cells hold limit·oversample
    // matching rows AND 0.9 coverage, else exact fallback) is a
    // deterministic function of the data, so DuckDB replays the per-nprobe
    // counts, the same choice, and the same result set — the IVF twin of
    // ann_lsh_filtered.
    q("ann_ivf_filtered")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val centroids = selectionCentroids(emb)
      val assigned = ApproxAnn.assignToCentroids(emb, "embedding", centroids)
      ApproxAnn.searchIvfAdaptive(assigned, emb, "embedding", Seq("vec_id"),
          Euclidean,
          AnnRequest(qv, limit = 10,
            restrictions = Seq(Restriction.In("label", Seq(3, 7))),
            allowFiltering = true),
          centroids)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // Replays searchIvfAdaptive: cells ranked by query distance, rows
      // assigned by the (d, cid) argmin; for each candidate nprobe, the
      // count of matching rows within the top-np cells; the first np with
      // ≥ 20 (= limit·oversample) matches AND ≥ 0.9 coverage wins, else
      // np = 99 ≡ the exact-scan fallback (every matching row eligible).
      Static {
        val distCQ = duckDistCQ
        val distCE = duckDistCE
        val cnts = Seq(1, 2, 4, 8).map(np =>
          s"sum(CASE WHEN pos <= $np THEN 1 ELSE 0 END) AS c$np").mkString(",\n|        ")
        val pick = Seq(1, 2, 4, 8).map(np =>
          s"WHEN c$np >= 20 AND CAST(c$np AS DOUBLE) >= 0.9 * total THEN $np")
          .mkString(" ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           |      WHERE vec_id < 16 AND embedding IS NOT NULL),
           |crank AS (SELECT cid, row_number() OVER (ORDER BY d ASC, cid ASC) AS pos
           |          FROM (SELECT c.cid, $distCQ AS d FROM c, q)),
           |ad0 AS (SELECT e.vec_id, c.cid, $distCE AS d
           |        FROM embeddings e, c WHERE e.embedding IS NOT NULL),
           |asn AS (SELECT vec_id, cid FROM
           |          (SELECT *, row_number() OVER
           |             (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
           |           FROM ad0) WHERE rn = 1),
           |mt AS (SELECT a.vec_id, cr.pos FROM asn a
           |       JOIN crank cr ON a.cid = cr.cid
           |       JOIN embeddings e ON e.vec_id = a.vec_id
           |       WHERE e.label IN (3, 7)),
           |cn AS (SELECT
           |        $cnts,
           |        count(*) AS total
           |      FROM mt),
           |sel AS (SELECT CASE $pick ELSE 99 END AS np FROM cn),
           |el AS (SELECT m.vec_id FROM mt m, sel
           |       WHERE sel.np = 99 OR m.pos <= sel.np),
           |dd AS (SELECT e.vec_id,
           |         list_sum(list_transform(list_zip(e.embedding, q.qv), x ->
           |           (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) *
           |           (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dist
           |       FROM embeddings e JOIN el USING (vec_id), q)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM dd ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // IVFADC (the FAISS IndexIVFPQ shape): IVF cells prune the scan, PQ
    // codes bound the bytes (partition-pruned (vec_id, _pq) read), exact
    // rescore bounds the error. Selection centroids + selection codebooks
    // so DuckDB replays cell assignment, probe choice, encode, LUT, ADC
    // and rescore exactly.
    q("ann_ivfpq", IndexBacked, Sf1Bench)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      val centroids = selectionCentroids(emb)
      val cb = ApproxAnn.selectPqCodebooks(emb, "embedding", "vec_id", m = 8, k = 16)
      val codes = graft.sources.IndexStorage.materializeCached(
          s, s"$dir/embeddings.parquet", indexDir(dir, "ivfpq"), Seq("_centroid")) {
        ApproxAnn.pqEncode(
            ApproxAnn.assignToCentroids(emb, "embedding", centroids),
            "embedding", cb)
          .select(col("vec_id"), col("_centroid"), col("_pq"))
      }
      ApproxAnn.searchIvfPq(codes, emb, "embedding", Seq("vec_id"), Euclidean,
          AnnRequest(qv, limit = 10), centroids, cb, nprobe = 4, oversample = 4.0)
        .select(col("vec_id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
    })(
      // IVFADC = ann_ivf's assignment/probe CTEs ∘ ann_pq's encode/LUT/ADC
      // CTEs, with the ADC ranking restricted to rows assigned to the 4
      // probed cells.
      Static {
        val distCQ = duckDistCQ
        val distCE = duckDistCE
        val sliceE = "list_slice(e.embedding, cb.j*8+1, cb.j*8+8)"
        val sliceQ = "list_slice(q.qv, cb.j*8+1, cb.j*8+8)"
        def l2(a: String) =
          s"list_sum(list_transform(list_zip($a, cb.cw), x -> " +
            "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
            "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           |      WHERE vec_id < 16 AND embedding IS NOT NULL),
           |probes AS (SELECT cid FROM c, q ORDER BY $distCQ ASC, cid ASC LIMIT 4),
           |ad0 AS (SELECT e.vec_id, c.cid, $distCE AS d
           |        FROM embeddings e, c WHERE e.embedding IS NOT NULL),
           |asn AS (SELECT vec_id, cid FROM
           |          (SELECT *, row_number() OVER
           |             (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
           |           FROM ad0) WHERE rn = 1),
           |sel AS (SELECT a.vec_id FROM asn a JOIN probes p ON a.cid = p.cid),
           |cbrows AS (SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code
           |           FROM embeddings WHERE embedding IS NOT NULL
           |           ORDER BY vec_id LIMIT 16),
           |js AS (SELECT unnest(range(8)) AS j),
           |cb AS (SELECT r.code, js.j, list_slice(r.embedding, js.j*8+1, js.j*8+8) AS cw
           |       FROM cbrows r, js),
           |enc0 AS (SELECT e.vec_id, cb.j, cb.code, ${l2(sliceE)} AS d
           |         FROM embeddings e JOIN sel USING (vec_id), cb),
           |enc AS (SELECT vec_id, j, code FROM
           |          (SELECT *, row_number() OVER
           |             (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn
           |           FROM enc0) WHERE rn = 1),
           |lut AS (SELECT cb.j, cb.code, ${l2(sliceQ)} AS d FROM cb, q),
           |adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY lut.j)) AS adc
           |        FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
           |        GROUP BY enc.vec_id),
           |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 40),
           |dd AS (SELECT e.vec_id, $duckL2 AS dist
           |       FROM embeddings e JOIN cand USING (vec_id), q)
           |SELECT vec_id, round(dist, 6) + 0.0 AS distance
           |FROM dd ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // Search-quality metrics oracle-checked end-to-end (the reference's
    // harness measurements: recall@k / precision@k / MRR / nDCG@k,
    // benchmark/src/main.rs:608-634 + latte FTS README): retrieved = the
    // LSH radius-2 kNN of queries 0..4 (self excluded, exact-ranked within
    // candidates), relevant = the exact kNN — both replayed in SQL, then
    // the metric arithmetic itself is replayed term-for-term.
    q("search_quality")((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      def ranked(df: DataFrame, outCol: String, k: Int) =
        df.groupBy("query_id")
          .agg(slice(transform(
            sort_array(collect_list(struct(col("rank"), col("vec_id")))),
            x => x.getField("vec_id")), 1, k).as(outCol))
      val ret = ranked(
        ApproxAnn.knnJoinLshFixed(emb, "embedding", "vec_id", Euclidean,
          k = 10, nbits = 8, radius = 2, queryFilter = col("vec_id") < 5),
        "retrieved", 10)
      val rel = ranked(
        Ann.searchBatch(queries, emb, "embedding", Seq("vec_id"), Euclidean, 11)
          .filter(col("vec_id") =!= col("query_id")),
        "relevant", 10)
      QualityMetrics.evaluate(ret.join(rel, "query_id"), "retrieved", "relevant", 10)
        .select(col("query_id"),
          (round(col("recall_at_10"), 6) + lit(0.0)).as("recall10"),
          (round(col("precision_at_10"), 6) + lit(0.0)).as("precision10"),
          (round(col("mrr"), 6) + lit(0.0)).as("mrr"),
          (round(col("ndcg_at_10"), 6) + lit(0.0)).as("ndcg10"))
    })(
      // Replays the retrieved/relevant construction AND the metric
      // arithmetic: recall/precision via list_intersect, MRR via the first
      // contained position, nDCG via the ascending 1/log2(rank+1) sums
      // (generate_series → list_sum keeps Spark's fold order).
      Static {
        val l2AB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
          "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
        s"""WITH d AS (SELECT vec_id, embedding, ${duckLshBucket("embedding", 8)} AS bkt
           |           FROM embeddings WHERE embedding IS NOT NULL),
           |p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $l2AB AS dist
           |      FROM d a, d b
           |      WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
           |        AND bit_count(xor(a.bkt, b.bkt)) <= 2),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM p),
           |ret AS (SELECT query_id, list(vec_id ORDER BY rn) AS retrieved
           |        FROM r WHERE rn <= 10 GROUP BY query_id),
           |e0 AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $l2AB AS dist
           |       FROM d a, d b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id),
           |er AS (SELECT *, row_number() OVER
           |         (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM e0),
           |rel AS (SELECT query_id, list(vec_id ORDER BY rn) AS relevant
           |        FROM er WHERE rn <= 10 GROUP BY query_id),
           |j AS (SELECT ret.query_id, retrieved, relevant
           |      FROM ret JOIN rel USING (query_id)),
           |m AS (SELECT query_id, retrieved, relevant,
           |        CAST(len(list_intersect(retrieved, relevant)) AS DOUBLE) AS hits,
           |        list_position(list_transform(retrieved,
           |          x -> list_contains(relevant, x)), true) AS firsthit,
           |        list_sum(list_transform(generate_series(1, len(retrieved)),
           |          i -> CASE WHEN list_contains(relevant, retrieved[i])
           |               THEN 1.0 / log2(i + 1.0) ELSE 0.0 END)) AS dcg,
           |        list_sum(list_transform(generate_series(1, least(len(relevant), 10)),
           |          i -> 1.0 / log2(i + 1.0))) AS ideal
           |      FROM j)
           |SELECT query_id,
           |  round(hits / greatest(len(relevant), 1), 6) + 0.0 AS recall10,
           |  round(hits / 10.0, 6) + 0.0 AS precision10,
           |  round(CASE WHEN firsthit IS NULL OR firsthit = 0 THEN 0.0
           |        ELSE 1.0 / firsthit END, 6) + 0.0 AS mrr,
           |  round(CASE WHEN ideal > 0 THEN dcg / ideal ELSE 0.0 END, 6) + 0.0 AS ndcg10
           |FROM m""".stripMargin
      }),

    // Multimodal plumbing: deterministic stub decode (no media libs in this
    // container) over a synthesized media table — features exploded to
    // scalars for exact oracle comparison.
    q("multimodal_features")((s, dir) => {
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"), "doc_id", "text")
      media.select(col("media_id"),
          posexplode(Multimodal.pseudoFeatures(col("payload"), 4)))
        .select(col("media_id"), col("pos").as("idx"),
          round(col("col"), 6).as("feature"))
    })(
      Static(s"""SELECT doc_id AS media_id, i.idx,
         |round(CAST(${duckHash("text || ':' || i.idx")} % ${Dedup.MinhashPrime} AS DOUBLE)
         |      / ${Dedup.MinhashPrime}.0, 6) AS feature
         |FROM documents, (SELECT unnest(range(4)) AS idx) i""".stripMargin)),

    q("frame_sample")((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(t(s, dir, "documents"), "doc_id", "text"),
        everyMs = 50))(
      Static("""SELECT doc_id AS media_id,
        |unnest(range(0, greatest(length(text) * 10 - 1, 0) + 1, 50)) AS t_ms,
        |CAST(unnest(range(0, greatest(length(text) * 10 - 1, 0) + 1, 50)) / 50 AS INT) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin)),

    // Dedup suite over the documents corpus (LLM-pipeline operators).
    q("dedup_exact", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text")))(
      Static("SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)")),

    // maxShingleDf = None: the oracle replays the UNcapped semantics; the
    // serving default caps boilerplate shingles (Dedup.DefaultMaxShingleDf).
    // Both near-dup queries serve from the materialized 5-gram shingle
    // store (built once at "ingest", like the ANN/FTS index artifacts);
    // the query plans scan two narrow long columns.
    q("dedup_jaccard", IndexBacked)((s, dir) =>
      Dedup.jaccardPairsFromShingles(shingleStore(s, dir), "doc_id",
          threshold = 0.5, maxShingleDf = None)
        .withColumn("jaccard", round(col("jaccard"), 6)))(
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckJaccardTail
         |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin)),

    // Signatures are an index artifact like the shingles (built once at
    // "ingest"); the probe is banding over the narrow signature store + the
    // composite-key intersection join — no per-query 16-aggregate pass.
    q("dedup_minhash", IndexBacked, Sf1Bench, ScaleSweep)((s, dir) =>
      Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
          minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
          maxShingleDf = None)
        .withColumn("jaccard", round(col("jaccard"), 6)))(
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail
         |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |FROM cand JOIN inter USING (id_a, id_b)
         |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin)),

    q("dedup_simhash", Sf10Spot, Sf100Spot)((s, dir) =>
      Dedup.simhashFingerprints(t(s, dir, "documents"), "doc_id", "text"))(
      // one GROUP BY with 60 per-bit aggregates instead of a 60-way row
      // explode: the old `FROM th, range(60)` shape multiplied the term
      // table 60× and spilled DuckDB past the box's 55 GB scratch at the
      // sf100 decade (5M docs) — this form's intermediate is the term table
      // itself, so the fourth-decade spot row is certifiable again
      // (VERDICT r11 #5). Bit-identical semantics: per bit b, the signed tf
      // sum's sign sets bit b of the fingerprint.
      Static(s"""WITH $duckToks,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM (
         |  SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY doc_id, term),
         |th AS (SELECT doc_id, tf, ${duckHash("term")} AS h FROM tf)
         |SELECT doc_id, CAST(${(0 until 60).map(b =>
             s"(CASE WHEN sum(CASE WHEN (h >> $b) % 2 = 1 THEN tf ELSE -tf END) > 0 " +
               s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)").mkString(" + ")}
         |  AS BIGINT) AS fingerprint
         |FROM th GROUP BY doc_id""".stripMargin)),

    // Train/test LEAKAGE check: the minhash near-dup pairs that CROSS the
    // deterministic dataset split — the eval-integrity scan every split
    // pipeline needs (a test doc with a train near-dup is contamination).
    // The split is a FUNCTION of the id (hash-coin), so the assignment
    // attaches as a stateless column on each pair end — no join against
    // an assignment table, nothing broadcast.
    q("split_leakage")((s, dir) => {
      val splits = Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05)
      Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
          minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
          maxShingleDf = None)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .withColumn("split_a", Curation.splitAssign(col("id_a"), splits))
        .withColumn("split_b", Curation.splitAssign(col("id_b"), splits))
        .filter(col("split_a") =!= col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    })(
      // dedup_minhash's pair replay + dataset_split's hash-coin CASE on
      // each pair end, equal-split pairs dropped.
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail,
         |pairs AS (SELECT id_a, id_b,
         |    round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |  FROM cand JOIN inter USING (id_a, id_b)
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         |spl AS (SELECT doc_id,
         |  CASE WHEN u < ${0.9} THEN 'train'
         |       WHEN u < ${0.9 + 0.05} THEN 'validation'
         |       ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |      / ${Curation.HashUnitDivisor} AS u FROM documents))
         |SELECT id_a, id_b, a.split AS split_a, b.split AS split_b, jaccard
         |FROM pairs JOIN spl a ON a.doc_id = id_a JOIN spl b ON b.doc_id = id_b
         |WHERE a.split <> b.split""".stripMargin)),

    // Containment near-dup pairs (|A∩B| / min(|A|,|B|)): the quoted-inside
    // / partial-crawl case Jaccard structurally misses; same shingle-store
    // equi-join shape. Uncapped for the oracle replay, like dedup_jaccard.
    q("dedup_containment", IndexBacked)((s, dir) =>
      Dedup.containmentPairsFromShingles(shingleStore(s, dir), "doc_id",
          threshold = 0.8, maxShingleDf = None)
        .withColumn("containment", round(col("containment"), 6)))(
      // same (sz, inter) tail as dedup_jaccard, containment denominator
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckJaccardTail
         |SELECT id_a, id_b,
         |  round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / least(sa.sz, sb.sz) >= 0.8""".stripMargin)),

    // Prefix-novelty contribution score: fraction of each doc's shingles
    // unseen in any earlier (smaller-id) doc — the "does this doc add
    // anything" curation signal, served from the same shingle store.
    q("doc_novelty", IndexBacked)((s, dir) =>
      Dedup.docNovelty(shingleStore(s, dir), "doc_id"))(
      // first-seen id per shingle, then the per-doc unseen fraction — the
      // novelty arithmetic replayed term-for-term over the same shingle set
      Static(s"""WITH $duckToks, ${duckShingles(5)},
         |fs AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN first_doc < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
         |  round(1.0 - CAST(sum(CASE WHEN first_doc < s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS novelty
         |FROM sh s JOIN fs USING (h) GROUP BY s.doc_id""".stripMargin)),

    // Cross-source duplication matrix: the minhash near-dup pairs
    // cross-tabbed by endpoint source — the corpus-composition diagnostic
    // behind mixture weights (how much of source A is already in B).
    q("source_overlap", IndexBacked)((s, dir) => {
      val pairs = Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
        minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
        maxShingleDf = None)
      Curation.crossSourceOverlap(pairs, t(s, dir, "documents"),
        "doc_id", "source")
    })(
      // dedup_minhash's pair replay joined to each endpoint's source,
      // folded into the canonical (least, greatest) cell
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail,
         |pairs AS (SELECT id_a, id_b FROM cand JOIN inter USING (id_a, id_b)
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_x,
         |  greatest(a.source, b.source) AS source_y, count(*) AS n_pairs
         |FROM pairs JOIN s a ON a.doc_id = pairs.id_a
         |  JOIN s b ON b.doc_id = pairs.id_b
         |GROUP BY 1, 2""".stripMargin)),

    // exact all-pairs form — the oracle baseline for the LSH default below
    q("dedup_embedding")((s, dir) =>
      Dedup.embeddingNearDupsExact(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .withColumn("cos_sim", round(col("cos_sim"), 6)))(
      Static {
        val dotAB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
          "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        def nrm(t: String) =
          s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        s"""WITH p AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    $dotAB / (${nrm("a")} * ${nrm("b")}) AS cs
           |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p WHERE cs >= 0.4""".stripMargin
      }),

    // serving default: LSH-bucketed candidates (equi-join on bucket ^ mask),
    // exact cosine verification; the oracle replays the deterministic
    // bucketing so the approximate result is still hash-checked exactly.
    q("dedup_embedding_lsh", Sf1Bench, ScaleSweep)((s, dir) =>
      Dedup.embeddingNearDupsFixed(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, nbits = 8, radius = 2)
        .withColumn("cos_sim", round(col("cos_sim"), 6)))(
      Static(s"""WITH ${duckEmbLshPairs(8)}
         |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p WHERE cs >= 0.4""".stripMargin)),

    // THE DEFAULT (scale) form: occupancy-constant plane count picked
    // from a corpus count (fixed nbits is quadratic in n — BENCH_sf10
    // measured the decade). autoNbits(n) is a pure function of the corpus
    // count, so Verify computes it at dump time and inlines the chosen
    // planes into static oracle SQL (oracleSqlFor) — the auto twin is
    // hash-checked exactly like the pinned form.
    q("dedup_embedding_lsh_auto", ScaleSweep)((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .withColumn("cos_sim", round(col("cos_sim"), 6)))(
      PerFixture(n => s"""WITH ${duckEmbLshPairs(ApproxAnn.autoNbits(n))}
           |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p WHERE cs >= 0.4""".stripMargin)),

    // Cross-modal duplicate-cluster resolution: the same
    // Curation.connectedComponents over the embedding near-dup pairs —
    // one clustering operator for either pair source (text minhash or
    // embedding LSH).
    q("embedding_clusters")((s, dir) => {
      val pairs = Dedup.embeddingNearDupsFixed(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, nbits = 8, radius = 2)
      Curation.dedupClusters(pairs.select("id_a", "id_b"),
        t(s, dir, "embeddings"), "vec_id")
    })(
      // the SAME LSH near-dup pair set, closed into components — the
      // cross-modal twin of dedup_clusters (one Curation.connectedComponents
      // over either pair source)
      Static(s"""WITH RECURSIVE ${duckEmbLshPairs(8)},
         |pairs AS (SELECT id_a, id_b FROM p WHERE cs >= 0.4),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS component_id,
         |  (min(b) = a) AS keep
         |FROM reach GROUP BY a""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): IVF-cell assignment over the selection
    // centroids, in-cell cosine near-dup prune keeping each group's
    // centroid-nearest member. The oracle replays assignment (argmin by
    // (l2², cid), the ann_ivf rule) and the lexicographic removal rule.
    q("semantic_dedup", Sf1Bench, ScaleSweep)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedupPinned(emb, "vec_id", "embedding",
        selectionCentroids(emb), eps = 0.4)
    })(
      // Replays SemDeDup end-to-end: IVF assignment (argmin by (l2², cid) —
      // the ann_ivf rule over the same selection centroids), in-cell cosine
      // pairs, lexicographic (dc, id) removal, survivors.
      Static(semanticDedupOracle(cells = 16))),

    // SemDeDup at its own prescribed scale (THE DEFAULT form): k ≈ √n
    // trained centroids (fixed cell count makes the in-cell pass quadratic
    // — BENCH_sf10). Unlike the LSH autos, float k-means TRAINING has no
    // SQL replay (iterative float argmin over data-dependent states), so
    // this one stays a rows-only check; auto==pinned equality over the
    // trained centroids is spec-pinned (DedupSpec).
    q("semantic_dedup_auto", ScaleSweep)((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        eps = 0.4))(
      AgreementGated(VerifyAgreement.semanticDedupScores)),

    // √n SELECTION cells with a full hash oracle — the replayable scale
    // shape (see knn_join_ivf_sqrt); only k-means TRAINING stays
    // rows-only.
    q("semantic_dedup_sqrt", ScaleSweep)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedupPinned(emb, "vec_id", "embedding",
        selectionCentroidsK(emb, sqrtCells(emb)), eps = 0.4)
    })(
      PerFixture(n => semanticDedupOracle(ApproxAnn.sqrtCells(n)))),

    // THE 100 TB SemDeDup shape (VERDICT r11 #1): √n selection cells +
    // the constant occupancy cap — cells over 128 rows split into
    // first-s-member sub-cells and the pair pass runs within (cell, sub),
    // bounding pair work at O(n·cap) where the published rule keeps a
    // bare O(n^1.5) term (measured 9.9×/decade at sf100). Every rule is
    // row_number-replayable, so this is the capped twin WITH a full hash
    // oracle (authored at dump time — cells derive from the corpus
    // count); above Dedup.SemanticDedupCapThreshold the trained-centroid
    // default (semantic_dedup_auto) routes to this same pass.
    q("semantic_dedup_capped", Sf1Bench, ScaleSweep)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedupPinnedCapped(emb, "vec_id", "embedding",
        selectionCentroidsK(emb, sqrtCells(emb)), eps = 0.4)
    })(
      PerFixture(n => semanticDedupCappedOracle(
        ApproxAnn.sqrtCells(n), ApproxAnn.DefaultCellOccupancyCap))),

    // The SPLIT PATH pinned at driver scale: 16 cells + cap 16 forces
    // sub-cell splits at the sf0.01 fixture (~31 rows/cell), so the
    // driver's own gate hash-checks first-s selection, nearest-sub
    // assignment and the within-(cell, sub) removal rule every round —
    // not only when the √n form's splits engage at sf1+.
    q("semantic_dedup_capped_split")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedupPinnedCapped(emb, "vec_id", "embedding",
        selectionCentroids(emb), eps = 0.4, occupancyCap = 16)
    })(
      // cap 16 < the fixture's ~31 rows/cell forces the sub-cell split path
      // at driver scale (see the query comment)
      Static(semanticDedupCappedOracle(cells = 16, cap = 16))),

    // Per-label centroid summary: mean vector per label — class prototypes
    // / per-domain drift report; the supervised twin of IVF training.
    // Flattened to (label, dim, m) for the compare (the driver's hash sorts
    // scalar columns; the operator's API returns the assembled arrays).
    q("label_centroids")((s, dir) =>
      ApproxAnn.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "m")),
          col("n_vectors"))
        .select(col("label"), col("dim"), col("m"), col("n_vectors")))(
      // Per-(label, dim) mean reassembled dim-ordered; DuckDB's zipped
      // unnest(embedding)/unnest(range(len)) mirrors posexplode.
      Static("""WITH ex AS (SELECT label, unnest(embedding) AS x,
        |            unnest(range(len(embedding))) AS dim
        |            FROM embeddings WHERE embedding IS NOT NULL),
        |pd AS (SELECT label, dim, avg(CAST(x AS DOUBLE)) AS m, count(*) AS n
        |       FROM ex GROUP BY 1, 2)
        |SELECT label, CAST(dim AS INT) AS dim, round(m, 6) + 0.0 AS m,
        |       max(n) OVER (PARTITION BY label) AS n_vectors
        |FROM pd""".stripMargin)),

    // Bulk kNN self-join over LSH buckets (every vector's k nearest within
    // hamming radius 2 of its bucket) — deterministic hyperplanes, so the
    // oracle replays the bucketing exactly like ann_lsh does.
    q("knn_join_lsh", Sf1Bench, ScaleSweep)((s, dir) =>
      ApproxAnn.knnJoinLshFixed(t(s, dir, "embeddings"), "embedding",
          "vec_id", Euclidean, k = 3, nbits = 8, radius = 2)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0)))(
      Static(knnJoinLshOracle(nbits = 8))),

    // THE DEFAULT (scale) form — see knnJoinLsh's scaladoc for the
    // scaling law; oracle inlined at dump time via oracleSqlFor.
    q("knn_join_lsh_auto", ScaleSweep)((s, dir) =>
      ApproxAnn.knnJoinLsh(t(s, dir, "embeddings"), "embedding",
          "vec_id", Euclidean, k = 3)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0)))(
      PerFixture(n => knnJoinLshOracle(ApproxAnn.autoNbits(n)))),

    // IVF-routed bulk kNN join — the structureless-regime middle path
    // where LSH's Hamming coverage floors (RECALL_scale: 0.11-0.17 at auto
    // code lengths; centroid routing concentrates true neighbors by
    // construction, nprobe the recall dial). Selection centroids (vec_id
    // < 16) pin the routing, so the oracle replays assignment (argmin by
    // (l2², cid) — the ann_ivf rule), the nprobe-nearest probe cells and
    // the ranking window exactly; the trained-√n-cell default
    // (knnJoinIvf) is the serving form.
    q("knn_join_ivf", ScaleSweep)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ApproxAnn.knnJoinIvfPinned(emb, "embedding", "vec_id", Euclidean,
          k = 3, selectionCentroids(emb), nprobe = 2)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0))
    })(
      // Replays knnJoinIvfPinned end-to-end over the selection centroids:
      // IVF assignment (argmin by (l2², cid)), the 2-nearest probe cells per
      // query (same (d, cid) lexicographic order as the array_sort), the
      // cell equi-join and the (distance, vec_id) ranking window.
      Static(knnJoinIvfOracle(cells = 16))),

    // THE DEFAULT IVF join form: k ≈ √n trained centroids keep cells
    // O(√n) (the pinned 16-cell twin above is quadratic at scale for the
    // same reason fixed-cell semantic_dedup is). k-means training is not
    // SQL-replayable → rows-only check, like semantic_dedup_auto;
    // auto==pinned equality over trained centroids is spec-pinned
    // (ApproxAnnSpec).
    q("knn_join_ivf_auto", ScaleSweep)((s, dir) =>
      ApproxAnn.knnJoinIvf(t(s, dir, "embeddings"), "embedding", "vec_id",
          Euclidean, k = 3, nprobe = 2)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0)))(
      AgreementGated(VerifyAgreement.ivfScores)),

    // The SCALE SHAPE with a full hash oracle (VERDICT r9 #2's suggested
    // replayable auto variant): k ≈ √n SELECTION centroids — cell count
    // scales like the trained default (O(√n) cells ⇒ O(n^1.5) join), but
    // the centroid source is the deterministic first-√n rule, so Verify
    // inlines the count-derived k into static SQL (oracleSqlFor) and the
    // driver hash-checks the scale shape end-to-end. OCCUPANCY-CAPPED
    // (r11): at k ≈ √n cells the MEAN occupancy is √n, so per-probe
    // candidates grow √n per corpus — the uncapped form measured 11.4×
    // at the sf1→sf10 decade (bar ≤10×; skew is mild, max/mean 1.3, so
    // a relative cap would never engage). Cells above the constant
    // 128-row cap split into first-s-members sub-cells, bounding
    // candidates per probe; every rule stays a row_number-replayable
    // pure function of the data.
    q("knn_join_ivf_sqrt", ScaleSweep)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ApproxAnn.knnJoinIvfPinnedCapped(emb, "embedding", "vec_id", Euclidean,
          k = 3, selectionCentroidsK(emb, sqrtCells(emb)), nprobe = 2)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0))
    })(
      PerFixture(n => knnJoinIvfCappedOracle(
        ApproxAnn.sqrtCells(n), ApproxAnn.DefaultCellOccupancyCap))),

    // Hard-negative mining: each anchor's 3 nearest DIFFERENT-label
    // neighbors over the same LSH-bucket candidate space (label inequality
    // prunes pairs before the per-anchor ranking window).
    q("hard_negatives")((s, dir) =>
      ApproxAnn.hardNegatives(t(s, dir, "embeddings"), "embedding", "vec_id",
          "label", Euclidean, k = 3, nbits = Some(8), radius = 2)
        .withColumn("distance", round(col("distance"), 6) + lit(0.0)))(
      // knn_join_lsh's replay plus the label-inequality pair prune.
      Static {
        val l2AB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
          "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
        s"""WITH d AS (SELECT vec_id, label, embedding, ${duckLshBucket("embedding", 8)} AS bkt
           |           FROM embeddings),
           |p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           |        a.label AS query_label, b.label AS cand_label, $l2AB AS dist
           |      FROM d a, d b
           |      WHERE a.vec_id <> b.vec_id AND a.label <> b.label
           |        AND bit_count(xor(a.bkt, b.bkt)) <= 2),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM p)
           |SELECT query_id, vec_id, round(dist, 6) + 0.0 AS distance,
           |  CAST(rn AS INT) AS rank, query_label, cand_label
           |FROM r WHERE rn <= 3""".stripMargin
      }),

    // Duplicate-cluster RESOLUTION: the minhash near-dup pairs (the same
    // banding + verification the dedup_minhash oracle replays) closed into
    // connected components, one canonical doc per cluster. Iterative
    // min-label propagation — shuffles ids only, lineage truncated per
    // round; singletons keep themselves.
    q("dedup_clusters", IndexBacked, Sf1Bench, ScaleSweep)((s, dir) => {
      val pairs = Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
        minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
        maxShingleDf = None)
      Curation.dedupClusters(pairs.select("id_a", "id_b"),
        t(s, dir, "documents"), "doc_id")
    })(
      // the SAME minhash pair set as dedup_minhash, closed transitively:
      // symmetric edges + recursive reachability, components labeled by min
      // reachable id (what Curation.connectedComponents converges to)
      Static(s"""WITH RECURSIVE $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail,
         |pairs AS (SELECT id_a, id_b FROM cand JOIN inter USING (id_a, id_b)
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component_id,
         |  (min(b) = a) AS keep
         |FROM reach GROUP BY a""".stripMargin)),

    // Quality-keyed cluster resolution: keep the highest-quality member
    // per near-dup cluster (longest doc by n_chars, id-tiebroken) — the
    // rule production dedup actually applies; min-id keep (above) is the
    // cheap deterministic variant. Same components, one narrow score
    // join, a per-component argmax.
    q("dedup_clusters_best", IndexBacked, ScaleSweep)((s, dir) => {
      val pairs = Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
        minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
        maxShingleDf = None)
      Curation.dedupClustersBest(pairs.select("id_a", "id_b"),
          t(s, dir, "documents"), "doc_id", "n_chars")
        .withColumn("score", round(col("score"), 6) + lit(0.0))
    })(
      // the dedup_clusters replay + per-component argmax by (score desc,
      // id asc) — the n_chars quality key attaches by one join
      Static(s"""WITH RECURSIVE $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail,
         |pairs AS (SELECT id_a, id_b FROM cand JOIN inter USING (id_a, id_b)
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component_id
         |         FROM reach GROUP BY a),
         |scored AS (SELECT c.doc_id, c.component_id,
         |             CAST(d.n_chars AS DOUBLE) AS score
         |           FROM comp c JOIN documents d USING (doc_id)),
         |win AS (SELECT component_id, doc_id AS keep_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY component_id
         |            ORDER BY score DESC, doc_id ASC) AS rn FROM scored)
         |        WHERE rn = 1)
         |SELECT s.doc_id, s.component_id, round(s.score, 6) + 0.0 AS score,
         |  (s.doc_id = w.keep_id) AS keep
         |FROM scored s JOIN win w USING (component_id)""".stripMargin)),

    // Duplicate-cluster size distribution: how much of the corpus sits in
    // clusters of each size — the dedup monitoring report (a power-law
    // tail here is boilerplate/SEO farms; `dup_docs` = rows a
    // keep-one-per-cluster pass would remove). Low-cardinality aggregate
    // over the resolved components.
    q("cluster_size_report", IndexBacked)((s, dir) => {
      val pairs = Dedup.minhashNearDupsFromStores(shingleStore(s, dir),
        minhashSigStore(s, dir), "doc_id", bands = 4, threshold = 0.5,
        maxShingleDf = None)
      Curation.dedupClusters(pairs.select("id_a", "id_b"),
          t(s, dir, "documents"), "doc_id")
        .groupBy(col("component_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("dup_docs"))
    })(
      // the dedup_clusters replay folded into the size histogram
      Static(s"""WITH RECURSIVE $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail,
         |pairs AS (SELECT id_a, id_b FROM cand JOIN inter USING (id_a, id_b)
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |comp AS (SELECT a AS doc_id, min(b) AS cid FROM reach GROUP BY a),
         |cz AS (SELECT cid, count(*) AS cluster_size FROM comp GROUP BY cid)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS dup_docs
         |FROM cz GROUP BY cluster_size""".stripMargin)),

    // Fuzzy string similarity join (edit distance ≤ 3 over 24-char name
    // prefixes): q-gram candidate equi-join + levenshtein verify, SERVING
    // DEFAULT stop-gram cap on (df > 200 grams are boilerplate, not match
    // signal — uncapped, natural-language prefixes generate 8× the
    // candidates for zero extra recall at sf0.1). The oracle replays the
    // whole pipeline — grams, short bucket, cap, length filter, verify —
    // the way dedup_minhash's oracle replays banding.
    q("fuzzy_join", Sf1Bench, ScaleSweep)((s, dir) => {
      val names = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
      Dedup.editDistancePairs(names, "doc_id", "name", maxDist = 3, q = 4)
    })(
      // full pipeline replay: distinct 4-grams (+ chr(1) short-bucket token
      // for len ≤ q(k+1)+k−1 = 18), stop-gram cap at df > 200, length-delta
      // prefilter, distinct candidates, levenshtein verify — levenshtein()
      // agrees cross-engine
      Static("""WITH d AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents),
        |g0 AS (
        |  SELECT doc_id, name, unnest(list_distinct(list_transform(
        |    range(1, len(name) - 2), i -> substr(name, i, 4)))) AS g
        |  FROM d WHERE len(name) >= 4
        |  UNION ALL
        |  SELECT doc_id, name, chr(1) AS g FROM d WHERE len(name) <= 18),
        |ok AS (SELECT g FROM g0 GROUP BY g HAVING count(DISTINCT doc_id) <= 200),
        |gg AS (SELECT g0.doc_id, g0.name, g0.g FROM g0 JOIN ok USING (g)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |                a.name AS na, b.name AS nb
        |         FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id
        |           AND abs(len(a.name) - len(b.name)) <= 3)
        |SELECT id_a, id_b, levenshtein(na, nb) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 3""".stripMargin)),

    // EXACT edit-distance join (PassJoin segment partitioning): complete
    // candidate generation, no stop-gram semantics — so the oracle is an
    // INDEPENDENT brute-force formulation (cross join + levenshtein), not
    // a replay of the candidate pipeline: two different algorithms must
    // produce the same pair set. candidateBudget = None: this query IS the
    // documented bounded-subset escalation the guard points callers at —
    // the bench times it at every decade so the cost stays a recorded
    // number, not a surprise (the GUARDED default fails fast past 10⁸
    // candidates; DedupSpec pins the trip on a shared-vocab corpus).
    q("fuzzy_join_exact", Sf1Bench, ScaleSweep, NoSf1Oracle)((s, dir) => {
      val names = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
      Dedup.editDistancePairsExact(names, "doc_id", "name", maxDist = 3,
        candidateBudget = None)
    })(
      // deliberately NOT a replay of the Spark-side PassJoin pipeline: the
      // exact operator's contract is the bare edit-distance predicate, so
      // brute force is the strongest possible oracle (independent algorithm)
      Static("""WITH d AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       levenshtein(a.name, b.name) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  AND abs(len(a.name) - len(b.name)) <= 3
        |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin)),

    // Per-source winsorization: clip n_chars into the source's [p5, p95]
    // band (narrow percentile pass, thresholds broadcast back, stateless
    // clip — the outlier-taming step before mean-sensitive statistics).
    q("winsorize")((s, dir) =>
      Curation.winsorize(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", lo = 0.05, hi = 0.95))(
      // quantile_cont == Spark percentile: the parity corpus_report pins
      // quantile_cont == Spark percentile (pinned); least/greatest clip.
      Static("""WITH t AS (SELECT source, quantile_cont(n_chars, 0.05) AS plo,
        |                  quantile_cont(n_chars, 0.95) AS phi
        |           FROM documents GROUP BY source)
        |SELECT d.source, d.doc_id, d.n_chars,
        |  round(least(greatest(CAST(d.n_chars AS DOUBLE), t.plo), t.phi), 6) + 0.0 AS clipped,
        |  round(t.plo, 6) + 0.0 AS p_lo, round(t.phi, 6) + 0.0 AS p_hi
        |FROM documents d JOIN t USING (source)""".stripMargin)),

    // Per-source ADAPTIVE quality gate: keep docs at or above their own
    // source's p25 token count (two-pass: narrow per-group percentile,
    // thresholds broadcast back — no global sort).
    q("quality_quantile_filter")((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("double").as("n_tokens"))
      Curation.quantileFilter(scored, "source", "n_tokens", q = 0.25)
    })(
      Static("""WITH d AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, quantile_cont(n_tokens, 0.25) AS thr FROM d GROUP BY source)
        |SELECT d.source, d.doc_id, d.n_tokens, round(t.thr, 6) + 0.0 AS threshold
        |FROM d JOIN t USING (source) WHERE d.n_tokens >= t.thr""".stripMargin)),

    // Corpus-level boilerplate phrases: top-20 bigrams by total occurrences
    // (tokenizer = the same lower + \p{L}\p{N} split every text operator
    // uses; TakeOrdered top-k, never a global n-gram sort).
    q("ngram_top")((s, dir) =>
      TextAnalysis.ngramTop(t(s, dir, "documents"), "doc_id", "text", n = 2, k = 20))(
      Static("""WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS ngram
        |      FROM t WHERE len(toks) >= 2),
        |a AS (SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS occurrences FROM g GROUP BY ngram),
        |r AS (SELECT *, row_number() OVER (ORDER BY occurrences DESC, ngram ASC) AS rank FROM a)
        |SELECT ngram, n_docs, occurrences, rank FROM r WHERE rank <= 20""".stripMargin)),

    // Word-level vocabulary build (the tokenizer-training step): top-1000
    // terms by total occurrences, dense rank ids 1..V (count desc, term
    // asc). The rank window runs over the TakeOrdered top slice only,
    // never the term universe.
    q("vocab_build")((s, dir) =>
      TextAnalysis.vocabBuild(t(s, dir, "documents"), "text", 1000))(
      Static(s"""WITH $duckToks,
         |t AS (SELECT unnest(ts) AS term FROM toks),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |v AS (SELECT term, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, term ASC) AS rn FROM c)
         |SELECT term, CAST(rn AS BIGINT) AS token_id, cnt
         |FROM v WHERE rn <= 1000""".stripMargin)),

    // Tokens → ids under that vocabulary (OOV → 0), reassembled in token
    // order via position-tagged structs; the vocab side is an explicit
    // broadcast. Ids emitted space-joined for the exact cross-engine
    // compare.
    q("token_ids", Sf1Bench)((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextAnalysis.vocabBuild(docs, "text", 1000)
      TextAnalysis.encodeTokens(docs, vocab, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("token_ids").cast("array<string>"), " ").as("ids"))
    })(
      Static(s"""WITH $duckToks,
         |t AS (SELECT doc_id, unnest(ts) AS term,
         |  unnest(range(len(ts))) AS pos FROM toks),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |v AS (SELECT term,
         |  row_number() OVER (ORDER BY cnt DESC, term ASC) AS token_id
         |  FROM c QUALIFY token_id <= 1000),
         |j AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid
         |  FROM t LEFT JOIN v USING (term))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos), ' ') AS ids
         |FROM j GROUP BY doc_id""".stripMargin)),

    // Deterministic stratified sampling / domain mixing: md5-derived
    // per-row uniform against per-lang keep rates — stateless, no shuffle,
    // identical survivors every run and in the oracle's replay.
    q("stratified_sample", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) =>
      Curation.stratifiedSample(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        fractions = Map("en" -> 0.25, "de" -> 0.8, "fr" -> 0.8,
          "es" -> 0.8, "zh" -> 1.0),
        defaultFraction = 0.5))(
      Static(s"""WITH u AS (SELECT doc_id, lang,
         |  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |    / ${Curation.HashUnitDivisor} AS u
         |  FROM documents),
         |f AS (SELECT doc_id, lang, u,
         |  CASE lang WHEN 'de' THEN 0.8 WHEN 'en' THEN 0.25 WHEN 'es' THEN 0.8
         |            WHEN 'fr' THEN 0.8 WHEN 'zh' THEN 1.0 ELSE 0.5 END AS frac
         |  FROM u)
         |SELECT doc_id, lang, round(u, 6) + 0.0 AS u FROM f WHERE u < frac""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis): per
    // language, the 20 docs maximizing u^(1/n_chars) — length-weighted
    // deterministic selection, rank ≤ k ⇒ WindowGroupLimit partial top-k.
    q("weighted_sample")((s, dir) =>
      Curation.weightedSample(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars", k = 20))(
      // A-ES keys replayed: same hash-uniform, same rounded ln(u)/w rank
      Static(s"""WITH u AS (SELECT doc_id, lang, n_chars,
         |  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |    / ${Curation.HashUnitDivisor} AS u
         |  FROM documents),
         |kk AS (SELECT doc_id, lang, n_chars,
         |  round(ln(u) / CAST(n_chars AS DOUBLE), 6) + 0.0 AS es_key FROM u),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY es_key DESC, doc_id ASC) AS rank FROM kk)
         |SELECT doc_id, lang, n_chars, es_key, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 20""".stripMargin)),

    // Deterministic train/validation/test split: per-row hash coin against
    // cumulative fraction bounds — stateless, reproducible across runs and
    // incremental ingest (new docs never reassign old ones).
    q("dataset_split")((s, dir) =>
      Curation.datasetSplit(t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05)))(
      // the CASE bounds are Spark's CUMULATIVE sums interpolated at full
      // double precision (0.9 + 0.05 is 0.9500000000000001, not 0.95) — a
      // hand-written 0.95 literal would be a different double and could
      // disagree on a coin landing in the one-ulp gap
      Static(s"""WITH u AS (SELECT doc_id, lang,
         |  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |    / ${Curation.HashUnitDivisor} AS u
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN u < ${0.9} THEN 'train'
         |       WHEN u < ${0.9 + 0.05} THEN 'validation'
         |       ELSE 'test' END AS split,
         |  round(u, 6) + 0.0 AS u
         |FROM u""".stripMargin)),

    // Curriculum ordering: GLOBAL rank over (n_chars, doc_id) without an
    // Exchange SinglePartition (range shuffle + per-partition row_number +
    // broadcast prefix offsets — plan-gated).
    q("curriculum_order")((s, dir) =>
      Curation.globalRank(t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", Seq("n_chars")))(
      Static("""SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS rank
        |FROM documents""".stripMargin)),

    // Curriculum stages: the global order quantile-binned into 10 stages
    // via exact integer arithmetic (floor((rank-1)·10 / n) — never ntile,
    // whose remainder rule is engine-specific).
    q("curriculum_stages")((s, dir) =>
      Curation.curriculumBins(t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", Seq("n_chars"), bins = 10))(
      // Same rank; DuckDB's BIGINT // floor-div mirrors the Spark side's
      // exact decimal division of the pmod-divisible numerator.
      Static("""WITH r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS rank FROM documents),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, n_chars, rank,
        |  CAST(((rank - 1) * 10) // n AS INT) AS stage
        |FROM r, n""".stripMargin)),

    // REAL image codec round trip (JDK ImageIO end to end): synthesize one
    // deterministic solid PNG per doc, decode with the real kernel, emit
    // geometry + channel means. Oracle-checked: the payload is a pure
    // function of the id, so DuckDB recomputes the expected features from
    // the generation parameters while Spark round-trips actual bytes.
    q("image_features", IndexBacked, Sf1Bench)((s, dir) => {
      val media = mediaStore(s, dir, "media_img")(Multimodal.syntheticImages(
        t(s, dir, "documents").select("doc_id"), "doc_id"))
      Multimodal.mapPartitionsDecode(media, dims = 8,
          decodeBatch = Multimodal.imageDecodeBatch)
        // try_element_at, not element_at: a degraded (undecodable) payload
        // yields an EMPTY features array, and ANSI-mode element_at would
        // fail the job on it — nulls uphold the degrade-don't-fail contract
        .select(col("media_id"),
          try_element_at(col("features"), lit(1)).cast("int").as("width"),
          try_element_at(col("features"), lit(2)).cast("int").as("height"),
          round(try_element_at(col("features"), lit(4)), 4).as("mean_r"),
          round(try_element_at(col("features"), lit(5)), 4).as("mean_g"),
          round(try_element_at(col("features"), lit(6)), 4).as("mean_b"))
    })(
      // The real-codec round trips ARE oracle-checkable: the synthetic
      // payloads are deterministic functions of the id (solid PNG / palette
      // GIF frames / 16-bit PCM sine burst), every decode step is lossless,
      // and the features the queries emit are therefore pure id arithmetic —
      // the oracle recomputes them from the generation parameters while the
      // Spark side actually encodes and decodes bytes through the JDK codecs.
      // A codec regression on either side breaks the hash match.
      Static("""WITH f AS (SELECT doc_id, CAST(doc_id % 13 + 2 AS INT) AS w,
        |  CAST(doc_id % 7 + 2 AS INT) AS h,
        |  (doc_id * 2654435761) & 16777215 AS rgb FROM documents)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  round(CAST((rgb >> 16) & 255 AS DOUBLE), 4) AS mean_r,
        |  round(CAST((rgb >> 8) & 255 AS DOUBLE), 4) AS mean_g,
        |  round(CAST(rgb & 255 AS DOUBLE), 4) AS mean_b
        |FROM f""".stripMargin)),

    // REAL image resize round trip (decode → bilinear Graphics2D scale →
    // PNG re-encode → decode again): geometry comes back as the target,
    // and a solid-color source keeps its exact channel means through the
    // bilinear scale. Chains BOTH image kernels end-to-end on the driver
    // surface; oracle-checked against the id-derived expected geometry
    // and color (kernel exactness also pinned in MultimodalSpec).
    q("image_resize", IndexBacked)((s, dir) => {
      val media = mediaStore(s, dir, "media_img")(Multimodal.syntheticImages(
        t(s, dir, "documents").select("doc_id"), "doc_id"))
      Multimodal.mapPartitionsDecode(
          Multimodal.resizeImages(media, 5, 3), dims = 8,
          decodeBatch = Multimodal.imageDecodeBatch)
        .select(col("media_id"),
          try_element_at(col("features"), lit(1)).cast("int").as("width"),
          try_element_at(col("features"), lit(2)).cast("int").as("height"),
          round(try_element_at(col("features"), lit(4)), 4).as("mean_r"),
          round(try_element_at(col("features"), lit(6)), 4).as("mean_b"))
    })(
      // bilinear scale of a solid image is that color at every target pixel,
      // and the PNG re-encode round-trips it losslessly
      Static("""WITH f AS (SELECT doc_id, (doc_id * 2654435761) & 16777215 AS rgb
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(5 AS INT) AS width,
        |  CAST(3 AS INT) AS height,
        |  round(CAST((rgb >> 16) & 255 AS DOUBLE), 4) AS mean_r,
        |  round(CAST(rgb & 255 AS DOUBLE), 4) AS mean_b
        |FROM f""".stripMargin)),

    // REAL audio codec round trip (JDK javax.sound WAV/PCM end to end):
    // synthesize one deterministic sine-burst WAV per doc, decode with the
    // real kernel, emit container + signal stats. Oracle-checked: PCM16
    // round-trips bit-for-bit, so DuckDB regenerates the sample stream
    // from the id and replays the signal arithmetic term-for-term.
    q("audio_features", IndexBacked)((s, dir) => {
      val media = mediaStore(s, dir, "media_wav")(Multimodal.syntheticAudio(
        t(s, dir, "documents").select("doc_id"), "doc_id"))
      Multimodal.mapPartitionsDecode(media, dims = 8,
          decodeBatch = Multimodal.audioDecodeBatch)
        // try_element_at: same degrade-don't-fail contract as image_features
        .select(col("media_id"),
          try_element_at(col("features"), lit(1)).cast("int").as("sample_rate"),
          try_element_at(col("features"), lit(3)).cast("int").as("n_frames"),
          try_element_at(col("features"), lit(4)).cast("long").as("duration_ms"),
          round(try_element_at(col("features"), lit(6)), 4).as("rms"),
          try_element_at(col("features"), lit(8)).cast("int").as("zero_crossings"))
    })(
      // the PCM16 sample stream round-trips bit-for-bit, so the oracle
      // regenerates it sample-by-sample: floor(x + 0.5) replays Java's
      // Math.round (half-up, not DuckDB round()'s half-away-from-zero),
      // and the expression mirrors synthWavBytes' evaluation order so both
      // engines run the same IEEE double chain into sin()
      Static("""WITH p AS (SELECT doc_id,
        |    200.0 + (doc_id % 23) * 50.0 AS freq,
        |    0.2 + (doc_id % 5) * 0.15 AS amp,
        |    160 + (doc_id % 11) * 40 AS nf
        |  FROM documents),
        |s AS (SELECT doc_id, nf, unnest(range(nf)) AS i, freq, amp FROM p),
        |v AS (SELECT doc_id, nf, i,
        |    CAST(floor(amp * 32767.0 * sin(2.0 * pi() * freq * i / 8000.0) + 0.5)
        |         AS BIGINT) AS v
        |  FROM s),
        |z AS (SELECT doc_id, nf, v,
        |    CASE WHEN i > 0 AND ((v >= 0) <>
        |      (lag(v) OVER (PARTITION BY doc_id ORDER BY i) >= 0))
        |    THEN 1 ELSE 0 END AS zc
        |  FROM v)
        |SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(floor(nf * 1000.0 / 8000.0 + 0.5) AS BIGINT) AS duration_ms,
        |  round(sqrt(sum(v * v) / nf), 4) AS rms,
        |  CAST(sum(zc) AS INT) AS zero_crossings
        |FROM z GROUP BY doc_id, nf""".stripMargin)),

    // REAL video-container round trip (JDK ImageIO animated-GIF demux):
    // synthesize one deterministic multi-frame GIF per doc, extract every
    // frame with the real kernel, emit per-frame geometry + exact palette
    // colors (IndexColorModel round-trips bit-for-bit). Oracle-checked:
    // DuckDB replays the frame explosion + palette hash from the id.
    q("video_frames", IndexBacked)((s, dir) =>
      Multimodal.extractFrames(mediaStore(s, dir, "media_gif")(
          Multimodal.syntheticVideos(
            t(s, dir, "documents").select("doc_id"), "doc_id")))
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"),
          col("mean_r").cast("int").as("r"),
          col("mean_g").cast("int").as("g"),
          col("mean_b").cast("int").as("b")))(
      // IndexColorModel palette colors round-trip exactly through the GIF
      // sequence writer/reader, so per-frame means are the palette entries
      Static("""WITH f AS (SELECT doc_id, CAST(doc_id % 6 + 2 AS INT) AS w,
        |    CAST(doc_id % 4 + 2 AS INT) AS h,
        |    CAST(doc_id % 5 + 2 AS INT) AS nf FROM documents),
        |e AS (SELECT doc_id, w, h, nf, unnest(range(nf)) AS fi FROM f),
        |c AS (SELECT doc_id, w, h, nf, fi,
        |    ((doc_id * 31 + fi) * 2654435761) & 16777215 AS rgb FROM e)
        |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  nf AS n_frames, w AS width, h AS height,
        |  CAST((rgb >> 16) & 255 AS INT) AS r,
        |  CAST((rgb >> 8) & 255 AS INT) AS g,
        |  CAST(rgb & 255 AS INT) AS b
        |FROM c""".stripMargin)),

    // Temperature-flattened language mix (mC4/PaLM rule): per-lang rates
    // derived from corpus counts with tau=0.5, expected sample 30% —
    // narrow count agg + broadcast rates + stateless coin.
    q("temperature_mix")((s, dir) =>
      Curation.temperatureMix(t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", tau = 0.5, sampleFraction = 0.3))(
      Static(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |t AS (SELECT sum(pow(n, 0.5)) AS w, sum(n) AS nn FROM c),
         |r AS (SELECT lang, least(1.0, 0.3 * t.nn * pow(c.n, 0.5) / t.w / c.n) AS rate FROM c, t),
         |u AS (SELECT doc_id, lang,
         |  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |    / ${Curation.HashUnitDivisor} AS u
         |  FROM documents)
         |SELECT u.lang, u.doc_id, round(r.rate, 6) + 0.0 AS rate
         |FROM u JOIN r USING (lang) WHERE u.u < r.rate""".stripMargin)),

    // Weighted epoch repetition: upsample high-value languages k.x times
    // (floor + deterministic fractional coin), 1-based epoch index.
    q("mixture_epochs")((s, dir) => {
      val weighted = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        when(col("lang") === "de", 2.5).when(col("lang") === "en", 0.3)
          .when(col("lang") === "fr", 2.0).when(col("lang") === "zh", 1.5)
          .otherwise(1.0).as("w"))
      Curation.repeatByWeight(weighted, "doc_id", "w")
    })(
      Static(s"""WITH w AS (SELECT doc_id, lang,
         |  CASE lang WHEN 'de' THEN 2.5 WHEN 'en' THEN 0.3 WHEN 'fr' THEN 2.0
         |            WHEN 'zh' THEN 1.5 ELSE 1.0 END AS w
         |  FROM documents),
         |n AS (SELECT doc_id, lang, w,
         |  CAST(floor(w) AS INT) +
         |  CASE WHEN CAST(${duckHash("CAST(doc_id AS VARCHAR) || ':' || CAST(w AS VARCHAR)")} AS DOUBLE)
         |              / ${Curation.HashUnitDivisor} < w - floor(w)
         |       THEN 1 ELSE 0 END AS nrep
         |  FROM w)
         |SELECT doc_id, lang, w, unnest(range(1, nrep + 1)) AS epoch
         |FROM n WHERE nrep >= 1""".stripMargin)),

    // FineWeb-style per-source cap: at most 10 docs per source, selected in
    // deterministic hash order (the md5 coin), so no source floods the
    // mixture; row_number ≤ cap plans as WindowGroupLimit.
    q("source_cap_sample")((s, dir) =>
      Curation.perKeyCap(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", cap = 10))(
      Static(s"""WITH r AS (SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |      / ${Curation.HashUnitDivisor} ASC, doc_id ASC) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin)),

    // Token-budget mixture assembly: per-language token budgets filled in
    // deterministic hash order (boundary doc kept — budgets are lower
    // bounds).
    q("token_budget_sample")((s, dir) =>
      Curation.tokenBudgetSample(t(s, dir, "documents"), "doc_id", "text",
        "lang", budgets = Map("en" -> 5000L, "zh" -> 2000L),
        defaultBudget = 1500L))(
      Static(s"""WITH $duckToks,
         |t AS (SELECT d.lang, doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  round(CAST(${duckHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |    / ${Curation.HashUnitDivisor}, 6) + 0.0 AS u
         |  FROM toks JOIN documents d USING (doc_id)),
         |o AS (SELECT lang, doc_id, n_tokens, u,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS taken_before
         |  FROM t)
         |SELECT lang, doc_id, n_tokens, u, taken_before FROM o
         |WHERE taken_before < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
         |                               ELSE 1500 END""".stripMargin)),

    // Quality-ordered budget selection: per-source token budgets filled in
    // descending NB-classifier-score order (the "best docs under a budget"
    // selection step) — same per-stratum running-sum shape as the sampler,
    // ordered by quality instead of the hash coin.
    q("quality_budget_select")((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.nbQualityScore(docs, "doc_id", "text",
          col("lang") === "en")
        .join(docs.select("doc_id", "source"), "doc_id")
      Curation.scoredBudgetSelect(scored, "doc_id", "source",
          "nb_score", "n_tokens",
          budgets = Map("src0" -> 4000L), defaultBudget = 1500L)
        .select("source", "doc_id", "n_tokens", "nb_score", "taken_before")
    })(
      // the classifier-score replay + per-source budget window ordered by
      // the ROUNDED score (the Spark side orders the same rounded column,
      // so the boundary cannot flip on float ulps)
      Static(s"""WITH $duckToks, $duckNbScored,
         |ntk AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
         |j AS (SELECT s.doc_id, d.source, ntk.n_tokens, s.nb_score
         |  FROM scored s JOIN ntk USING (doc_id) JOIN documents d USING (doc_id)),
         |o AS (SELECT source, doc_id, n_tokens, nb_score,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY nb_score DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS taken_before
         |  FROM j)
         |SELECT source, doc_id, n_tokens, nb_score, taken_before FROM o
         |WHERE taken_before < CASE WHEN source = 'src0' THEN 4000 ELSE 1500 END""".stripMargin)),

    // Sequence packing: concatenate-and-chunk into 512-token windows, one
    // pack stream per source shard (parallel by construction — a global
    // order would serialize the corpus through one partition).
    q("pack_sequences", Sf1Bench)((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "doc_id", "text",
        "source", windowTokens = 512))(
      Static(s"""WITH $duckToks,
         |n AS (SELECT doc_id, d.source, CAST(len(ts) AS BIGINT) AS n_tokens
         |  FROM toks JOIN documents d USING (doc_id) WHERE len(ts) > 0),
         |o AS (SELECT source, doc_id, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM n)
         |SELECT source, doc_id, n_tokens, "offset",
         |  "offset" // 512 AS chunk_start,
         |  ("offset" + n_tokens - 1) // 512 AS chunk_end
         |FROM o""".stripMargin)),

    // Benchmark decontamination: 5-gram containment of a held-out
    // benchmark set (doc_id % 5 == 0 — a deterministic stand-in for an
    // eval suite) inside every corpus doc, from the same shingle store the
    // dedup suite serves from.
    // maxShingleDf = None: the oracle replays the uncapped semantics; the
    // serving default caps boilerplate shingles (same convention as
    // dedup_jaccard).
    q("decontamination", IndexBacked, Sf10Spot)((s, dir) =>
      Curation.decontaminate(shingleStore(s, dir), "doc_id",
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("bench_id")),
        minContainment = 0.2, maxShingleDf = None))(
      Static(duckDecontaminationSqlFor("doc_id % 5 = 0"))),

    // Bloom-prefiltered decontamination: the at-scale serving twin — a
    // broadcast Bloom filter over the bench shingles gates the corpus scan,
    // the exact join removes false positives, false negatives are
    // impossible (probe reuses the build's column expressions) — so the
    // oracle is IDENTICAL to decontamination's: two pipelines, one answer.
    q("decontamination_bloom", IndexBacked, Sf1Bench, ScaleSweep)((s, dir) =>
      Curation.decontaminateBloom(shingleStore(s, dir), "doc_id",
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("bench_id")),
        minContainment = 0.2, maxShingleDf = None,
        prebuilt = Some(deconBloomStore(s, dir))))(
      // The bloom prefilter is lossless (exact verify after; membership is
      // per shingle value) — the serving twin answers the SAME query.
      Static(duckDecontaminationSqlFor("doc_id % 5 = 0"))),

    // The CORPUS-INDEPENDENT-benchmark twin (r11): the suite's other two
    // decontamination rows draw the bench set as doc_id % 5 — a fixed
    // 20% FRACTION of the corpus, so every stage (bench derivation,
    // broadcast, bloom probe pass-rate) legitimately grows 10× per
    // decade and the ratio reads as drift (decomposition in
    // PERF.md r11). Real eval suites are fixed-size; this row pins the
    // bench at the first 1000 docs (ids are contiguous from 0 at every
    // sf) so the decade sweep measures the TRUE serving shape: constant
    // bloom, constant broadcast, a corpus scan whose filter passes
    // almost nothing.
    q("decontamination_fixed_bench", IndexBacked, ScaleSweep)((s, dir) =>
      Curation.decontaminateBloom(shingleStore(s, dir), "doc_id",
        t(s, dir, "documents").filter(col("doc_id") < 1000)
          .select(col("doc_id").as("bench_id")),
        minContainment = 0.2, maxShingleDf = None))(
      // corpus-independent bench set (the true serving shape — see the
      // query's comment): same pipeline, bench pinned to the first 1000 docs
      Static(duckDecontaminationSqlFor("doc_id < 1000"))),

    // Z-order clustering key over (user bucket, time bucket) — the
    // write-time layout that lets parquet min/max stats prune scans on
    // EITHER predicate dimension; the operator range-partitions and
    // locally sorts by the interleaved key (never a global sort).
    q("zorder_key")((s, dir) => {
      val e = t(s, dir, "events")
      val ub = col("user_id").bitwiseAND(lit(65535L))
      val tb = shiftright(expr("ts div 1000"), 22).bitwiseAND(lit(65535L))
      Layout.zorder(e.select(col("event_id"), ub.as("ub"), tb.as("tb")),
          col("ub"), col("tb"))
        .select("event_id", "ub", "tb", "z")
    })(
      // The Morton interleave replayed as the same unrolled shift/and/or
      // terms; buckets via integer bit ops on micros (epoch_us == ts div
      // 1000 on the nanos-as-long Spark side).
      Static {
        val z = (0 until 16).flatMap(i => Seq(
          s"(((ub >> $i) & 1) << ${2 * i})",
          s"(((tb >> $i) & 1) << ${2 * i + 1})")).mkString("(", " | ", ")")
        s"""WITH e AS (SELECT event_id, user_id & 65535 AS ub,
           |  (epoch_us(ts) >> 22) & 65535 AS tb FROM events)
           |SELECT event_id, ub, tb, $z AS z FROM e""".stripMargin
      }),

    // Text analysis over documents (training-pipeline hygiene operators).
    q("text_stats", Sf10Spot, Sf100Spot)((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("alpha_ratio", round(col("alpha_ratio"), 6))
        .withColumn("punct_ratio", round(col("punct_ratio"), 6)))(
      Static("""SELECT doc_id, length(text) AS n_chars,
        |len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS n_ws_tokens,
        |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
        |round(CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
        |round(CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio
        |FROM documents""".stripMargin)),

    q("text_quality", Sf10Spot, Sf100Spot)((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("stopword_ratio", round(col("stopword_ratio"), 6))
        .withColumn("mean_word_len", round(col("mean_word_len"), 6)))(
      Static {
        s"""WITH q AS (SELECT doc_id, length(text) AS n_chars,
           |  list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS ws,
           |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS al
           |  FROM documents),
           |m AS (SELECT doc_id, n_chars,
           |  CAST(len(list_filter(al, t -> t IN ($duckStop))) AS DOUBLE) / greatest(len(al), 1) AS stopword_ratio,
           |  CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws) AS mean_word_len
           |  FROM q)
           |SELECT doc_id, n_chars, round(stopword_ratio, 6) AS stopword_ratio,
           |  round(mean_word_len, 6) AS mean_word_len,
           |  (n_chars BETWEEN 50 AND 100000 AND stopword_ratio >= 0.01
           |   AND mean_word_len <= 15.0) AS keep
           |FROM m""".stripMargin
      }),

    // The full Gopher rule battery (every signal + per-rule composite
    // keep) — the pre-model filter pass; oracle replays each count and
    // threshold over the same tokenizations.
    // minRequiredWords relaxed to 1 for the synthetic corpus (its
    // vocabulary rarely carries 2 of the 8 English function words —
    // canonical web text uses the Gopher default of 2)
    q("gopher_rules")((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minWords = 30, minRequiredWords = 1))(
      // every Gopher count/threshold replayed over the same tokenizations;
      // thresholds compare the UNROUNDED ratios, like the Spark side
      Static(s"""WITH $duckToks, $duckGopherCalc
         |SELECT doc_id, CAST(n_words AS INT) AS n_words,
         |  round(sumlen / nw, 6) AS mean_word_len,
         |  round(CAST(n_alpha AS DOUBLE) / nw, 6) AS alpha_word_frac,
         |  round(CAST(n_sym AS DOUBLE) / nw, 6) AS symbol_word_ratio,
         |  round(CAST(n_bullet AS DOUBLE) / nl, 6) AS bullet_line_frac,
         |  round(CAST(n_ell AS DOUBLE) / nl, 6) AS ellipsis_line_frac,
         |  CAST(req AS INT) AS n_required_words,
         |  $duckGopherKeep AS keep
         |FROM c""".stripMargin)),

    // Per-source curation funnel: docs/kept/keep-rate by source over the
    // gopher gate — the monitoring aggregate a filter pass reports (a
    // source whose keep rate collapses is a crawler or boilerplate
    // regression). Low-cardinality aggregate over the stateless gate.
    q("gopher_report", Sf1Bench)((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 30, minRequiredWords = 1)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("keep_rate"))
    })(
      // the same signal chain + keep predicate, folded per source
      Static(s"""WITH $duckToks, $duckGopherCalc,
         |k AS (SELECT doc_id, $duckGopherKeep AS keep FROM c)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS keep_rate
         |FROM k JOIN documents d USING (doc_id) GROUP BY d.source""".stripMargin)),

    q("text_langid")((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("hit_ratio", round(col("hit_ratio"), 6)))(
      Static {
        val structs = TextAnalysis.LangStopwords.zipWithIndex.map { case ((lang, words), i) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"{'r': CAST(len(list_filter(al, t -> t IN ($list))) AS DOUBLE) / greatest(len(al), 1), " +
            s"'pri': ${TextAnalysis.LangStopwords.length - i}, 'lang': '$lang'}"
        }.mkString(", ")
        s"""WITH q AS (SELECT doc_id,
           |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS al
           |  FROM documents),
           |b AS (SELECT doc_id, list_aggregate([$structs], 'max') AS best FROM q)
           |SELECT doc_id, best.lang AS pred_lang, round(best.r, 6) AS hit_ratio FROM b""".stripMargin
      }),

    q("text_fingerprint")((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text"))(
      Static(s"""WITH q AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS al
         |  FROM documents),
         |h AS (SELECT doc_id, list_prepend(0::BIGINT,
         |  list_transform(al, t -> ${duckHash("t")} % ${TextAnalysis.RollPrime})) AS hs
         |  FROM q)
         |SELECT doc_id, list_reduce(hs,
         |  (acc, x) -> (acc * ${TextAnalysis.RollBase} + x) % ${TextAnalysis.RollPrime}) AS fingerprint
         |FROM h""".stripMargin)),

    // Gopher-style repetition filter signal: tokens covered by the most
    // frequent word bigram.
    q("repetition_score")((s, dir) =>
      TextAnalysis.repetitionScore(t(s, dir, "documents"), "doc_id", "text"))(
      Static(s"""WITH $duckToks,
         |bg AS (SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
         |  unnest(list_transform(range(len(ts) - 1),
         |    i -> array_to_string(ts[i + 1 : i + 2], ' '))) AS bigram
         |  FROM toks WHERE len(ts) >= 2),
         |cnt AS (SELECT doc_id, n_tokens, bigram, count(*) AS c
         |  FROM bg GROUP BY 1, 2, 3)
         |SELECT doc_id, n_tokens, CAST(max(c) AS BIGINT) AS top_bigram_count,
         |  round(least(1.0,
         |    CAST(max(c) AS BIGINT) * CAST(2 AS DOUBLE) / n_tokens), 6) + 0.0 AS rep_ratio
         |FROM cnt GROUP BY doc_id, n_tokens""".stripMargin)),

    // Exact-substring duplication signal (Lee et al. 2021): fraction of
    // each doc's 10-token windows occurring verbatim in another doc.
    // Serves from the materialized positional window store.
    q("span_dedup", IndexBacked, Sf1Bench)((s, dir) =>
      TextAnalysis.duplicatedSpanFractionFromWindows(spanStore(s, dir), "doc_id"))(
      // Replays duplicatedSpanFraction: every 10-token window position
      // (NOT distinct per doc), span df = distinct docs per window hash,
      // duplicated = df ≥ 2.
      Static(s"""WITH $duckToks,
         |w AS (SELECT doc_id, ${duckHash("sg")} AS h FROM (
         |  SELECT doc_id, unnest(list_transform(range(len(ts) - 9),
         |    i -> array_to_string(ts[i + 1 : i + 10], ' '))) AS sg
         |  FROM toks WHERE len(ts) >= 10)),
         |d AS (SELECT h, count(DISTINCT doc_id) AS docs FROM w GROUP BY h)
         |SELECT w.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN d.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
         |  round(CAST(sum(CASE WHEN d.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) + 0.0 AS dup_fraction
         |FROM w JOIN d USING (h) GROUP BY w.doc_id""".stripMargin)),

    // Exact-substring REMOVAL (Lee et al. 2022's rewrite step): drop every
    // token covered by a cross-doc duplicated 10-token window, emit the
    // scrubbed token stream + drop counts. The rewrite twin of span_dedup.
    q("span_scrub")((s, dir) =>
      TextAnalysis.spanScrub(t(s, dir, "documents"), "doc_id", "text"))(
      Static(s"""WITH $duckToks,
         |w AS (SELECT doc_id, u.i AS s,
         |  ${duckHash("array_to_string(ts[u.i + 1 : u.i + 10], ' ')")} AS h
         |  FROM toks, unnest(range(len(ts) - 9)) AS u(i)
         |  WHERE len(ts) >= 10),
         |d AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT wd.doc_id, wd.s + r.j AS ci
         |  FROM (SELECT w.doc_id, w.s FROM w JOIN d USING (h)) wd,
         |       unnest(range(10)) AS r(j)),
         |cs AS (SELECT doc_id, list(ci) AS cv FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ts) AS INT) AS n_tokens,
         |  CAST(coalesce(len(cs.cv), 0) AS INT) AS n_dropped,
         |  coalesce(array_to_string(list_filter(t.ts,
         |    (x, i) -> NOT list_contains(coalesce(cs.cv, []), i - 1)), ' '), '') AS clean_text
         |FROM toks t LEFT JOIN cs USING (doc_id)""".stripMargin)),

    // HTML → text extraction (the crawl-ingest step): each doc wrapped in a
    // deterministic page shell — script/style/comment noise, block tags,
    // entities, markup-free prose — then extracted by the RE2-replayable
    // regex pipeline. Same fixture-derivation pattern as pii_scrub (the
    // corpus carries no HTML of its own).
    q("html_extract")((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
            "</script><style>p { color: red }</style></head><body><h1>Doc "),
          col("doc_id"),
          lit("</h1><!-- hidden\ncomment --><ul><li>item &lt;one&gt;" +
            "</li><li>src &amp;amp; "), col("source"),
          lit("</li></ul><p>"), col("text"),
          lit("</p><div>tail &quot;cell&quot;&nbsp;&#39;q&#39;</div>" +
            "<table><tr><td>last</td></tr></table></body></html>"))
          .as("html"))
      TextAnalysis.htmlExtract(seeded, "doc_id", "html")
    })(
      // Replays spanScrub: duplicated window starts (df >= 2 distinct docs)
      // explode to covered 0-based positions; the rewrite is an indexed
      // list_filter (DuckDB lambda index i is 1-based, Spark's is 0-based).
      // Replays htmlExtract step for step over the same seeded page shell:
      // script/style/comment elements out, block tags → \n, tags → ' ',
      // entity replaces with &amp; last, whitespace collapse, edge trim.
      // Inline (?is) flags + non-greedy are common Java-regex/RE2 syntax.
      Static(s"""WITH h AS (SELECT doc_id,
         |  '<html><head><script type="text/javascript">var x = 1 < 2;' ||
         |  '</script><style>p { color: red }</style></head><body><h1>Doc ' ||
         |  CAST(doc_id AS VARCHAR) ||
         |  '</h1><!-- hidden' || chr(10) || 'comment --><ul><li>item &lt;one&gt;' ||
         |  '</li><li>src &amp;amp; ' || source ||
         |  '</li></ul><p>' || text ||
         |  '</p><div>tail &quot;cell&quot;&nbsp;&#39;q&#39;</div>' ||
         |  '<table><tr><td>last</td></tr></table></body></html>' AS html
         |  FROM documents),
         |s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(html,
         |  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h),
         |s2 AS (SELECT doc_id, html,
         |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, html, regexp_replace(t,
         |  '(?i)<(br|/p|/div|/li|/h[1-6]|/tr)[^>]*>', chr(10), 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, html,
         |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         |s5 AS (SELECT doc_id, html,
         |  replace(replace(replace(replace(replace(replace(t,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
         |s6 AS (SELECT doc_id, html, regexp_replace(regexp_replace(
         |  regexp_replace(t, '[ \\t\\r]+', ' ', 'g'),
         |  ' ?\\n ?', chr(10), 'g'), '\\n+', chr(10), 'g') AS t FROM s5)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS INT) AS n_tags,
         |  trim(t, chr(10) || ' ') AS text
         |FROM s6""".stripMargin)),

    // Cross-doc duplicated-LINE removal (CCNet/RefinedWeb line dedup):
    // line structure seeded by newline-splitting the prose plus a shared
    // banner line (df = all docs) and a per-source footer (df = docs per
    // source); the operator drops every line whose trimmed content appears
    // in ≥2 docs and reassembles survivors in order.
    q("line_dedup")((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("subscribe to our newsletter\n"),
          regexp_replace(col("text"), " (the|a) ", "\n"),
          lit("\ncopyright "), col("source"),
          lit(" all rights reserved")).as("text2"))
      TextAnalysis.lineDedup(seeded, "doc_id", "text2")
    })(
      // Replays lineDedup: seeded line structure → 0-based line ordinals +
      // trimmed-line hashes → df ≥ 2 removal set → indexed list_filter
      // rewrite (DuckDB lambda i is 1-based, Spark's 0-based — same
      // convention as the span_scrub oracle).
      Static(s"""WITH ld AS (SELECT doc_id,
         |  'subscribe to our newsletter' || chr(10) ||
         |  regexp_replace(text, ' (the|a) ', chr(10), 'g') || chr(10) ||
         |  'copyright ' || source || ' all rights reserved' AS t2
         |  FROM documents),
         |ls AS (SELECT doc_id, string_split(t2, chr(10)) AS a FROM ld),
         |ln AS (SELECT doc_id, u.i AS i,
         |  ${duckHash("trim(a[u.i + 1])")} AS h
         |  FROM ls, unnest(range(len(a))) AS u(i)),
         |d AS (SELECT h FROM ln GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= 2),
         |rm AS (SELECT doc_id, list(i) AS rv
         |  FROM (SELECT ln.doc_id, ln.i FROM ln JOIN d USING (h))
         |  GROUP BY doc_id)
         |SELECT ls.doc_id, CAST(len(ls.a) AS INT) AS n_lines,
         |  CAST(coalesce(len(rm.rv), 0) AS INT) AS n_removed,
         |  coalesce(array_to_string(list_filter(ls.a,
         |    (x, i) -> NOT list_contains(coalesce(rm.rv, []), i - 1)),
         |    chr(10)), '') AS clean_text
         |FROM ls LEFT JOIN rm USING (doc_id)""".stripMargin)),

    // BPE merge learning (tokenizer training): 6 merge rounds over the
    // corpus vocabulary — each round one pair aggregation + a 1-row
    // driver decision, the standard distributed BPE iteration. The oracle
    // replays every round as a chained CTE (count → argmax → rewrite).
    q("bpe_merges", Sf1Bench, ScaleSweep)((s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = BpeMerges))(
      // Replays all 6 BPE merge rounds as chained CTEs: symbolize every
      // vocabulary word (' a b c '), count adjacent pairs weighted by word
      // frequency, take the (count desc, pair asc) argmax, rewrite
      // ' A B ' → ' AB ' (replace() is non-overlapping left-to-right in
      // both engines — the standard greedy BPE application), repeat.
      Static {
        val rows = (1 to BpeMerges).map { k =>
          s"""SELECT $k AS rank, (SELECT split_part(p, ' ', 1) FROM m$k) AS "left",
             |  (SELECT split_part(p, ' ', 2) FROM m$k) AS "right",
             |  (SELECT replace(p, ' ', '') FROM m$k) AS merged,
             |  (SELECT cnt FROM m$k) AS freq""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH $duckToks,\n${duckBpeChain(BpeMerges)}\n$rows\nORDER BY rank"
      }),

    // BPE ENCODE (the tokenizer-serving half): learn the 6 merges, then
    // apply them to every document as one stateless replace-cascade
    // projection (word boundaries = double spaces, so merges can't fire
    // across words).
    q("bpe_encode", IndexBacked)((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bpeEncode(docs, "doc_id", "text", bpeMergeTable(s, dir))
    })(
      // Shares bpe_merges' m1..m6 CTE chain, then applies the learned
      // merges to every document's double-space-word-boundary symbol
      // string — the same replace cascade Spark's encode projection runs.
      Static {
        val enc0 =
          """enc0 AS (SELECT doc_id, ' ' || array_to_string(list_transform(ts,
            |  w -> trim(regexp_replace(w, '(.)', '\1 ', 'g'))), '  ') || ' ' AS s
            |  FROM toks)""".stripMargin
        val encs = (1 to BpeMerges).map { k =>
          s"""enc$k AS (SELECT doc_id, replace(s, ' ' || (SELECT p FROM m$k) || ' ',
             |  ' ' || (SELECT replace(p, ' ', '') FROM m$k) || ' ') AS s
             |  FROM enc${k - 1})""".stripMargin
        }
        s"""WITH $duckToks,
           |${duckBpeChain(BpeMerges)},
           |$enc0,
           |${encs.mkString(",\n")}
           |SELECT doc_id,
           |  CAST(len(list_filter(string_split(s, ' '), x -> x <> '')) AS INT)
           |    AS n_subwords,
           |  array_to_string(list_filter(string_split(s, ' '), x -> x <> ''), ' ')
           |    AS subword_text
           |FROM enc$BpeMerges""".stripMargin
      }),

    // Tokenizer fertility report per (source, lang): BPE tokens per word
    // and chars per BPE token — the tokenizer-efficiency audit run before
    // committing a vocabulary (high fertility on a language = that
    // language pays more sequence length per content). Exact integer sums;
    // the two ratios ship UNROUNDED. Encode is the stateless merge-cascade
    // projection over the build-once merge store; the report is one narrow
    // (source, lang) aggregate — no new shuffle shape at 100 TB.
    q("tokenizer_fertility", IndexBacked)((s, dir) => {
      val docs = t(s, dir, "documents")
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text",
        bpeMergeTable(s, dir))
      docs.select(col("doc_id"), col("source"), col("lang"),
          length(col("text")).as("_nc"),
          size(Dedup.tokens(col("text"))).as("_nw"))
        .join(enc.select(col("doc_id"), col("n_subwords")), "doc_id")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nw")).as("n_words"),
          sum(col("n_subwords")).as("n_bpe_tokens"),
          sum(col("_nc")).as("n_chars"))
        .select(col("source"), col("lang"), col("n_docs"),
          col("n_words"), col("n_bpe_tokens"), col("n_chars"),
          (col("n_bpe_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)).cast("double") + lit(0.0))
            .as("fertility"),
          (col("n_chars").cast("double") /
            greatest(col("n_bpe_tokens"), lit(1L)).cast("double") + lit(0.0))
            .as("chars_per_token"))
    })(
      // Fertility replay: the same train + encode chain as bpe_encode, then
      // the (source, lang) integer sums and the two unrounded divisions.
      Static {
        val enc0 =
          """enc0 AS (SELECT doc_id, ' ' || array_to_string(list_transform(ts,
            |  w -> trim(regexp_replace(w, '(.)', '\1 ', 'g'))), '  ') || ' ' AS s
            |  FROM toks)""".stripMargin
        val encs = (1 to BpeMerges).map { k =>
          s"""enc$k AS (SELECT doc_id, replace(s, ' ' || (SELECT p FROM m$k) || ' ',
             |  ' ' || (SELECT replace(p, ' ', '') FROM m$k) || ' ') AS s
             |  FROM enc${k - 1})""".stripMargin
        }
        s"""WITH $duckToks,
           |${duckBpeChain(BpeMerges)},
           |$enc0,
           |${encs.mkString(",\n")},
           |e AS (SELECT doc_id,
           |  len(list_filter(string_split(s, ' '), x -> x <> '')) AS n_subwords
           |  FROM enc$BpeMerges)
           |SELECT d.source, d.lang, count(*) AS n_docs,
           |  CAST(sum(len(t.ts)) AS BIGINT) AS n_words,
           |  CAST(sum(e.n_subwords) AS BIGINT) AS n_bpe_tokens,
           |  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
           |  CAST(sum(e.n_subwords) AS DOUBLE) /
           |    CAST(greatest(sum(len(t.ts)), 1) AS DOUBLE) + 0.0 AS fertility,
           |  CAST(sum(length(d.text)) AS DOUBLE) /
           |    CAST(greatest(sum(e.n_subwords), 1) AS DOUBLE) + 0.0
           |    AS chars_per_token
           |FROM documents d
           |JOIN toks t ON t.doc_id = d.doc_id
           |JOIN e ON e.doc_id = d.doc_id
           |GROUP BY 1, 2""".stripMargin
      }),

    // Full Gopher repetition battery over seeded structure: a twice-
    // repeated header line (within-doc dup lines), newline-split prose,
    // and a doubled 12-token block (duplicated 5- and 10-grams with
    // overlap — the union-of-positions counting is what's under test).
    q("gopher_repetition")((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared header line\nshared header line\n"),
          regexp_replace(col("text"), " (value|data) ", "\n"),
          lit("\nalpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
            "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
          .as("text3"))
      TextAnalysis.gopherRepetition(seeded, "doc_id", "text3")
    })(
      // Replays every Gopher repetition branch over the seeded structure:
      // line groups keyed by the same 60-bit hash Spark groups on, n-gram
      // argmax via the identical (count desc, gram asc) window, and the
      // dup-n-gram covered-position UNION exactly as the span_scrub oracle
      // (0-based starts, distinct (doc, pos), token-length weights).
      Static {
        def top(n: Int) =
          s"""g$n AS (SELECT doc_id, g, count(*) AS c FROM (
             |  SELECT doc_id, unnest(list_transform(range(len(ts) - ${n - 1}),
             |    i -> array_to_string(ts[i + 1 : i + $n], ' '))) AS g
             |  FROM tk WHERE len(ts) >= $n) GROUP BY 1, 2),
             |t$n AS (SELECT doc_id, CAST(c * len(replace(g, ' ', '')) AS DOUBLE)
             |    AS top$n FROM (
             |  SELECT doc_id, g, c, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM g$n)
             |  WHERE rn = 1)""".stripMargin
        def dup(n: Int) =
          s"""w$n AS (SELECT doc_id, u.i AS s,
             |  ${duckHash(s"array_to_string(ts[u.i + 1 : u.i + $n], ' ')")} AS h
             |  FROM tk, unnest(range(len(ts) - ${n - 1})) AS u(i)
             |  WHERE len(ts) >= $n),
             |d$n AS (SELECT doc_id, h FROM w$n GROUP BY 1, 2 HAVING count(*) >= 2),
             |c$n AS (SELECT DISTINCT wd.doc_id, wd.s + r.j AS p
             |  FROM (SELECT w$n.doc_id, w$n.s FROM w$n JOIN d$n USING (doc_id, h)) wd,
             |       unnest(range($n)) AS r(j)),
             |u$n AS (SELECT c$n.doc_id,
             |    CAST(sum(len(tk.ts[c$n.p + 1])) AS DOUBLE) AS dup$n
             |  FROM c$n JOIN tk ON c$n.doc_id = tk.doc_id GROUP BY 1)""".stripMargin
        s"""WITH sd AS (SELECT doc_id,
           |  'shared header line' || chr(10) || 'shared header line' || chr(10) ||
           |  regexp_replace(text, ' (value|data) ', chr(10), 'g') || chr(10) ||
           |  'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu ' ||
           |  'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu' AS t3
           |  FROM documents),
           |tk AS (SELECT doc_id, list_filter(
           |  regexp_split_to_array(lower(t3), '[^\\p{L}\\p{N}]+'),
           |  t -> len(t) > 0) AS ts FROM sd),
           |base AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
           |  CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT)
           |    AS token_chars FROM tk),
           |lr AS (SELECT doc_id, l FROM (SELECT doc_id,
           |    unnest(list_transform(string_split(t3, chr(10)), x -> trim(x))) AS l
           |  FROM sd) WHERE len(l) > 0),
           |la AS (SELECT doc_id, ${duckHash("l")} AS h, count(*) AS c,
           |  max(len(l)) AS ln FROM lr GROUP BY 1, 2),
           |ls AS (SELECT doc_id,
           |  CAST(sum(c) AS BIGINT) AS nl, CAST(sum(c - 1) AS BIGINT) AS dl,
           |  CAST(sum(c * ln) AS BIGINT) AS lc,
           |  CAST(sum((c - 1) * ln) AS BIGINT) AS dlc
           |  FROM la GROUP BY 1),
           |${top(2)},
           |${top(3)},
           |${top(4)},
           |${dup(5)},
           |${dup(10)}
           |SELECT b.doc_id, b.n_tokens, b.token_chars,
           |  round(coalesce(CAST(ls.dl AS DOUBLE) / greatest(ls.nl, 1), 0), 6) + 0.0
           |    AS dup_line_frac,
           |  round(coalesce(CAST(ls.dlc AS DOUBLE) / greatest(ls.lc, 1), 0), 6) + 0.0
           |    AS dup_line_char_frac,
           |  round(coalesce(t2.top2, 0) / greatest(b.token_chars, 1), 6) + 0.0
           |    AS top_2gram_char_frac,
           |  round(coalesce(t3.top3, 0) / greatest(b.token_chars, 1), 6) + 0.0
           |    AS top_3gram_char_frac,
           |  round(coalesce(t4.top4, 0) / greatest(b.token_chars, 1), 6) + 0.0
           |    AS top_4gram_char_frac,
           |  round(coalesce(u5.dup5, 0) / greatest(b.token_chars, 1), 6) + 0.0
           |    AS dup_5gram_char_frac,
           |  round(coalesce(u10.dup10, 0) / greatest(b.token_chars, 1), 6) + 0.0
           |    AS dup_10gram_char_frac
           |FROM base b LEFT JOIN ls USING (doc_id)
           |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
           |LEFT JOIN t4 USING (doc_id)
           |LEFT JOIN u5 USING (doc_id) LEFT JOIN u10 USING (doc_id)""".stripMargin
      }),

    // URL provenance gate (C4/RefinedWeb stage 1): deterministic per-doc
    // URLs covering scheme rejection (ftp), blocked-domain subdomains on
    // dot boundaries (tracker.ads.example.com blocked, badads.example.com
    // NOT), and case-insensitive host matching (SPAM.example.org vs a
    // mixed-case blocklist entry).
    q("url_host_filter", Sf10Spot, Sf100Spot)((s, dir) => {
      val d = col("doc_id")
      val seeded = t(s, dir, "documents").select(d,
        concat(
          when(d % 11 === 0, lit("ftp://"))
            .when(d % 7 === 0, lit("http://")).otherwise(lit("https://")),
          when(d % 13 === 0, lit("SPAM.example.org"))
            .when(d % 5 === 0, lit("tracker.ads.example.com"))
            .when(d % 3 === 0, lit("badads.example.com"))
            .otherwise(concat(col("source"), lit(".example.org"))),
          lit("/doc/"), d,
          when(d % 2 === 0, lit("?utm=1")).otherwise(lit(""))).as("url"))
      Curation.urlFacets(seeded, "doc_id", "url",
        Seq("ads.example.com", "Spam.example.org"))
    })(
      // Replays urlFacets: the same seeded CASE chain, the same three
      // RE2 extraction patterns, lowercase host, dot-boundary suffix
      // blocklist, scheme gate.
      Static(s"""WITH su AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 11 = 0 THEN 'ftp://'
         |        WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END) ||
         |  (CASE WHEN doc_id % 13 = 0 THEN 'SPAM.example.org'
         |        WHEN doc_id % 5 = 0 THEN 'tracker.ads.example.com'
         |        WHEN doc_id % 3 = 0 THEN 'badads.example.com'
         |        ELSE source || '.example.org' END) ||
         |  '/doc/' || CAST(doc_id AS VARCHAR) ||
         |  (CASE WHEN doc_id % 2 = 0 THEN '?utm=1' ELSE '' END) AS url
         |  FROM documents),
         |f AS (SELECT doc_id, url,
         |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
         |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path
         |  FROM su)
         |SELECT doc_id, url, scheme, host, path,
         |  (scheme IN ('http', 'https') AND len(host) > 0 AND NOT (
         |    host = 'ads.example.com' OR host LIKE '%.ads.example.com' OR
         |    host = 'spam.example.org' OR host LIKE '%.spam.example.org'))
         |    AS keep
         |FROM f""".stripMargin)),

    // WARC archive round trip (the crawl-container source): documents
    // exported once as length-delimited WARC files (one per task), read
    // back per-file under the explicit schema. The oracle is the original
    // parquet — a hash match proves byte-exact framing (payloads parsed by
    // Content-Length, so embedded header-lookalike bytes can't break it).
    q("warc_roundtrip", IndexBacked)((s, dir) => {
      import graft.sources.Warc
      val docs = t(s, dir, "documents")
      Warc.materializeCached(s, s"$dir/documents.parquet",
          indexDir(dir, "docs_warc"), docs.schema, "doc_id", "text")(docs)
        .filter(col(Warc.CorruptCol).isNull)
        .drop(Warc.CorruptCol)
    })(
      // round-trip fidelity: the WARC re-read must hash-match the parquet
      Static("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // Per-source corpus audit: exact interpolated percentiles of token and
    // char counts (the pre-mixture "what does each source look like" report).
    q("corpus_report")((s, dir) =>
      TextAnalysis.corpusReport(t(s, dir, "documents"), "source", "text"))(
      // quantile_cont == Spark's exact `percentile` (both linear-interpolate
      // at index p·(n−1) over the sorted values)
      Static(s"""WITH c AS (SELECT source,
         |  len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS nt,
         |  length(text) AS nc FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  round(quantile_cont(nt, 0.5), 6) + 0.0 AS p50_tokens,
         |  round(quantile_cont(nt, 0.9), 6) + 0.0 AS p90_tokens,
         |  round(quantile_cont(nt, 0.99), 6) + 0.0 AS p99_tokens,
         |  round(quantile_cont(nc, 0.5), 6) + 0.0 AS p50_chars,
         |  round(quantile_cont(nc, 0.9), 6) + 0.0 AS p90_chars,
         |  round(quantile_cont(nc, 0.99), 6) + 0.0 AS p99_chars
         |FROM c GROUP BY source""".stripMargin)),

    // Overlapping token-window chunking (RAG / context prep): 32-token
    // windows advancing by 24 — shuffle-free, lives inside the scan stage.
    q("chunk_documents")((s, dir) =>
      Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 32, strideTokens = 24))(
      Static(s"""WITH $duckToks,
         |n AS (SELECT doc_id, ts,
         |  1 + CAST(ceil(greatest(len(ts) - 32, 0) / 24.0) AS INT) AS nc
         |  FROM toks WHERE len(ts) > 0),
         |c AS (SELECT doc_id, ts, unnest(range(nc)) AS i FROM n)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(i * 24 AS INT) AS token_start,
         |  CAST(len(ts[i*24+1 : i*24+32]) AS INT) AS n_tokens,
         |  array_to_string(ts[i*24+1 : i*24+32], ' ') AS chunk_text
         |FROM c""".stripMargin)),

    // Corpus unigram LM score (CCNet-style fluency signal): the "model" is
    // one term aggregation over the corpus itself; rounded at 4 like the
    // bm25 scores (sum-order float tolerance).
    q("lm_score", Sf1Bench)((s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text"))(
      Static(s"""WITH $duckToks, $duckLmScored
         |SELECT doc_id, n_tokens, lm_score FROM lm""".stripMargin)),

    // CCNet head/middle/tail (Wenzek et al. 2020): per-source tercile tiers
    // of the LM fluency score — the standard perplexity-bucketed mixture
    // knob (train on the head, sample the middle, drop the tail). Bucket
    // comparisons are 6-rounded on both sides so an interpolation ulp
    // cannot flip a boundary doc cross-engine.
    q("perplexity_buckets")((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.lmScore(docs, "doc_id", "text")
        .join(docs.select("doc_id", "source"), "doc_id")
      Curation.scoreBuckets(scored, "source", "lm_score")
        .withColumn("tier", when(col("bucket") === 2, "head")
          .when(col("bucket") === 1, "middle").otherwise("tail"))
    })(
      // lm_score replay + per-source quantile_cont terciles; bucket CASE on
      // 6-rounded score and thresholds, exactly as the Spark side
      Static(s"""WITH $duckToks, $duckLmScored,
         |j AS (SELECT lm.doc_id, lm.n_tokens, lm.lm_score, d.source
         |  FROM lm JOIN documents d USING (doc_id)),
         |thr AS (SELECT source,
         |  quantile_cont(lm_score, ${1.0 / 3}) AS t0,
         |  quantile_cont(lm_score, ${2.0 / 3}) AS t1
         |  FROM j GROUP BY source),
         |b AS (SELECT j.*,
         |  CASE WHEN round(j.lm_score, 6) < round(t.t0, 6) THEN 0
         |       WHEN round(j.lm_score, 6) < round(t.t1, 6) THEN 1
         |       ELSE 2 END AS bucket,
         |  round(t.t0, 6) + 0.0 AS threshold_0,
         |  round(t.t1, 6) + 0.0 AS threshold_1
         |  FROM j JOIN thr t USING (source))
         |SELECT doc_id, source, n_tokens, lm_score,
         |  CAST(bucket AS INT) AS bucket, threshold_0, threshold_1,
         |  CASE bucket WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier
         |FROM b""".stripMargin)),

    // Lexical diversity: per-doc unigram entropy + type-token ratio —
    // the low-entropy template/mash detector complementing repetition's
    // bigram view.
    q("token_entropy", Sf10Spot, Sf100Spot)((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text"))(
      // H = ln n − (Σ tf·ln tf)/n and the type/token ratio, replayed over
      // the same per-doc term frequencies
      Static(s"""WITH $duckToks,
         |tk AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_types,
         |    sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS stl
         |  FROM tf GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types,
         |  round(ln(CAST(n_tokens AS DOUBLE)) - stl / n_tokens, 4) AS entropy,
         |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio
         |FROM agg""".stripMargin)),

    // Second-order fluency: interpolated bigram LM (λ=0.5 — exact in
    // binary, so the oracle literal folds identically), mean ln p over
    // each doc's transitions.
    q("lm_score_bigram")((s, dir) =>
      TextAnalysis.lmScoreBigram(t(s, dir, "documents"), "doc_id", "text"))(
      // Bigram transitions via zipped unnest of shifted list slices (the
      // zip_with-over-slices parity); models re-derived term-for-term.
      Static(s"""WITH $duckToks,
         |bg AS (SELECT doc_id, unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |              unnest(list_slice(ts, 2, len(ts))) AS w2
         |       FROM toks WHERE len(ts) >= 2),
         |btf AS (SELECT doc_id, w1, w2, count(*) AS btf FROM bg GROUP BY 1, 2, 3),
         |bmodel AS (SELECT w1, w2, CAST(sum(btf) AS BIGINT) AS bcnt FROM btf GROUP BY 1, 2),
         |tk AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         |umodel AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM umodel)
         |SELECT btf.doc_id, CAST(sum(btf) AS BIGINT) AS n_transitions,
         |  round(sum(btf * ln(0.5 * CAST(bcnt AS DOUBLE) / c1.cnt
         |                   + 0.5 * CAST(c2.cnt AS DOUBLE) / n_total))
         |        / CAST(sum(btf) AS BIGINT), 4) + 0.0 AS lm2_score
         |FROM btf
         |JOIN bmodel USING (w1, w2)
         |JOIN umodel c1 ON c1.term = btf.w1
         |JOIN umodel c2 ON c2.term = btf.w2, tot
         |GROUP BY btf.doc_id""".stripMargin)),

    // Classifier-based quality gate (CCNet/fastText-style linear model as
    // NB log-odds — training and serving are plain aggregations, so the
    // oracle re-derives the model term-for-term). lang=='en' is the
    // deterministic proxy label.
    q("quality_classifier")((s, dir) =>
      TextAnalysis.nbQualityScore(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en"))(
      // Re-derives the NB model: (term, class) counts, Laplace α=1 over the
      // shared vocab, doc score = prior + Σ tf·log-odds.
      Static(s"""WITH $duckToks,
         |lab AS (SELECT doc_id, (lang = 'en') AS y FROM documents),
         |tk AS (SELECT t.doc_id, y, unnest(ts) AS term
         |       FROM toks t JOIN lab USING (doc_id)),
         |tf AS (SELECT doc_id, y, term, count(*) AS tf FROM tk GROUP BY 1, 2, 3),
         |cls AS (SELECT term,
         |    CAST(sum(CASE WHEN y THEN tf ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT y THEN tf ELSE 0 END) AS BIGINT) AS cn
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
         |               CAST(sum(cn) AS BIGINT) AS nn, count(*) AS v FROM cls),
         |pri AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
         |               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dn
         |        FROM documents)
         |SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(max(ln(CAST(dp + 1 AS DOUBLE) / (dn + 1)))
         |      + sum(tf * (ln(CAST(cp + 1 AS DOUBLE) / (np + v))
         |                - ln(CAST(cn + 1 AS DOUBLE) / (nn + v)))), 4) + 0.0 AS nb_score
         |FROM tf JOIN cls USING (term), tot, pri GROUP BY tf.doc_id""".stripMargin)),

    // Per-doc top-3 tf·idf terms, ranked on the rounded score with a term
    // tiebreak (stable k-boundary cross-engine).
    q("tfidf_topk")((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3))(
      Static(s"""WITH $duckToks,
         |tk AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term,
         |  round(tf * ln(n_docs / df), 4) + 0.0 AS score FROM tf JOIN dfreq USING (term), nd),
         |rk AS (SELECT doc_id, term, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, term, score, CAST(rank AS INTEGER) AS rank FROM rk
         |WHERE rank <= 3""".stripMargin)),

    q("token_report")((s, dir) =>
      TextAnalysis.tokenReport(t(s, dir, "documents"), "source", "text"))(
      Static("""SELECT source, count(*) AS n_docs,
        |CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS ws_tokens,
        |CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_tokens,
        |CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY source""".stripMargin)),

    // The composed curation pipeline — what a training-data run actually
    // executes: exact-dedup survivors ∧ quality gate ∧ language gate, with
    // token counts carried for the budget report. Pure plan composition of
    // the individual operators (each one oracle-checked on its own above);
    // the joins are on doc_id and broadcast/shuffle-free-able at scale.
    q("corpus_curation")((s, dir) => {
      val docs = t(s, dir, "documents")
      val survivors = Dedup.exact(docs, "doc_id", Seq("text"))
      val quality = TextAnalysis.quality(docs, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
      val lang = TextAnalysis.languageId(docs, "doc_id", "text")
        .filter(col("pred_lang") === "en").select("doc_id")
      val stats = TextAnalysis.stats(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_ws_tokens"), col("n_bpeish_tokens"))
      survivors.join(quality, "doc_id").join(lang, "doc_id").join(stats, "doc_id")
    })(
      Static {
        val langStructs = TextAnalysis.LangStopwords.zipWithIndex.map { case ((lang, words), i) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"{'r': CAST(len(list_filter(al, t -> t IN ($list))) AS DOUBLE) / greatest(len(al), 1), " +
            s"'pri': ${TextAnalysis.LangStopwords.length - i}, 'lang': '$lang'}"
        }.mkString(", ")
        s"""WITH survivors AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |ql AS (SELECT doc_id, length(text) AS n_chars,
           |  list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS ws,
           |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS al
           |  FROM documents),
           |qm AS (SELECT doc_id, n_chars,
           |  CAST(len(list_filter(al, t -> t IN ($duckStop))) AS DOUBLE) / greatest(len(al), 1) AS swr,
           |  CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws) AS mwl
           |  FROM ql),
           |quality AS (SELECT doc_id FROM qm
           |  WHERE n_chars BETWEEN 50 AND 100000 AND swr >= 0.01 AND mwl <= 15.0),
           |lb AS (SELECT doc_id, list_aggregate([$langStructs], 'max') AS best FROM ql),
           |lang AS (SELECT doc_id FROM lb WHERE best.lang = 'en'),
           |stats AS (SELECT doc_id,
           |  len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS n_ws_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpeish_tokens
           |  FROM documents)
           |SELECT s.doc_id, st.n_ws_tokens, st.n_bpeish_tokens
           |FROM survivors s
           |JOIN quality USING (doc_id) JOIN lang USING (doc_id)
           |JOIN stats st USING (doc_id)""".stripMargin
      }),

    // T3/F10: BM25 top-k on the documents corpus, single- and multi-term
    // (disjunctive). Ordered on round(score,4) so cross-engine float ulps in
    // ln/sum cannot flip the k-boundary.
    q("bm25_single", IndexBacked, Sf10Spot, ExplainDefault)(bm25("data") _)(
      Static(duckBm25(Bm25.tokenizeQuery("data")))),
    q("bm25_multi", Sf1Bench)(bm25("spark merge window") _)(
      Static(duckBm25(Bm25.tokenizeQuery("spark merge window")))),

    // Hybrid search: BM25 lexical top-10 + exact-ANN semantic top-10 fused
    // by reciprocal rank (k=60) — the canonical two-tower serving pattern
    // over a vector store. Ranks derive from each list's own rounded
    // ordering (score desc / distance asc, id tiebreak), so the fusion is
    // deterministic and the oracle replays both towers + the 1/(k+r) sum.
    q("hybrid_rrf", IndexBacked, Sf1Bench)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = bm25("data")(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("r"))
      val sem = ann(Euclidean)(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("distance").asc, col("vec_id").asc)))
        .select(col("vec_id").as("id"), col("r"))
      QualityMetrics.rrfFuse(Seq(lex, sem), "id", "r", kConst = 60, topK = 10)
    })(
      // both towers replayed (the bm25_single term scores + the ann_euclidean
      // distance scan), ranked on their rounded orderings, then the 1/(60+r)
      // sum — rank fusion is exact arithmetic, so the hybrid is hash-checked
      Static(s"""WITH ${duckTermScores(Seq("data"))},
         |lex AS (SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC) AS r
         |  FROM ts WHERE term = 'data' QUALIFY r <= 10),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, $duckL2 AS dist FROM embeddings e, q),
         |sem AS (SELECT vec_id AS id,
         |    row_number() OVER (ORDER BY round(dist, 6) + 0.0 ASC, vec_id ASC) AS r
         |  FROM d QUALIFY r <= 10),
         |u AS (SELECT id, 1.0 / (60 + r) AS c FROM lex
         |      UNION ALL SELECT id, 1.0 / (60 + r) FROM sem)
         |SELECT id, round(sum(c), 6) AS rrf_score,
         |  CAST(count(*) AS INT) AS n_lists
         |FROM u GROUP BY id
         |ORDER BY round(sum(c), 6) DESC, id ASC LIMIT 10""".stripMargin)),

    // F11: boolean query operators (tantivy QueryParser semantics — validator
    // fts.rs:248-315,561-599): AND joins, OR unions, NOT anti-joins, groups.
    q("bm25_bool_and")(bm25Bool("spark AND data") _)(
      Static(s"""WITH ${duckTermScores(Seq("spark", "data"))},
         |a AS (SELECT doc_id, s FROM ts WHERE term = 'spark'),
         |b AS (SELECT doc_id, s FROM ts WHERE term = 'data')
         |SELECT a.doc_id, round(a.s + b.s, 4) AS score
         |FROM a JOIN b USING (doc_id)
         |ORDER BY round(a.s + b.s, 4) DESC, a.doc_id ASC LIMIT 10""".stripMargin)),
    q("bm25_bool_or")(bm25Bool("merge OR window") _)(
      Static(s"""WITH ${duckTermScores(Seq("merge", "window"))},
         |u AS (SELECT doc_id, sum(s) AS score FROM ts GROUP BY doc_id)
         |SELECT doc_id, round(score, 4) AS score FROM u
         |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin)),
    q("bm25_bool_not")(bm25Bool("data NOT spark") _)(
      Static(s"""WITH ${duckTermScores(Seq("data", "spark"))},
         |a AS (SELECT doc_id, s FROM ts WHERE term = 'data')
         |SELECT doc_id, round(s, 4) AS score FROM a
         |WHERE doc_id NOT IN (SELECT doc_id FROM ts WHERE term = 'spark')
         |ORDER BY round(s, 4) DESC, doc_id ASC LIMIT 10""".stripMargin)),
    q("bm25_bool_grouped")(bm25Bool("(merge OR window) AND data") _)(
      Static(s"""WITH ${duckTermScores(Seq("merge", "window", "data"))},
         |o AS (SELECT doc_id, sum(s) AS score FROM ts
         |      WHERE term IN ('merge', 'window') GROUP BY doc_id),
         |a AS (SELECT doc_id, s FROM ts WHERE term = 'data')
         |SELECT o.doc_id, round(o.score + a.s, 4) AS score
         |FROM o JOIN a USING (doc_id)
         |ORDER BY round(o.score + a.s, 4) DESC, o.doc_id ASC LIMIT 10""".stripMargin)),
    // NOT inside an OR lifts to a MustNot on the enclosing boolean (tantivy
    // QueryParser): docs containing "data" are excluded even if they match
    // merge/window.
    q("bm25_or_not")(bm25Bool("merge OR window OR NOT data") _)(
      Static(s"""WITH ${duckTermScores(Seq("merge", "window", "data"))},
         |u AS (SELECT doc_id, sum(s) AS score FROM ts
         |      WHERE term IN ('merge', 'window') GROUP BY doc_id)
         |SELECT doc_id, round(score, 4) AS score FROM u
         |WHERE doc_id NOT IN (SELECT doc_id FROM ts WHERE term = 'data')
         |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin)),
    // a bare hyphenated word analyzes to >1 token ⇒ phrase query (tantivy
    // default); identical result set to the explicit "table hash" phrase
    q("bm25_hyphen")(bm25Bool("table-hash") _)(
      Static(s"""WITH toks0 AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
         |              t -> len(t) > 0 AND t NOT IN ($duckStop)) AS al
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(al) AS term, unnest(range(len(al))) AS pos FROM toks0),
         |dl AS (SELECT doc_id, len(al) AS dl FROM toks0),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |m AS (SELECT a.doc_id, count(*) AS ptf
         |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id),
         |dfp AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM m),
         |scored AS (SELECT m.doc_id,
         |    ln(1.0 + (s.n_docs - dfp.df + 0.5) / (dfp.df + 0.5)) *
         |    (m.ptf * (1.2 + 1.0)) / (m.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS score
         |  FROM m JOIN dl ON dl.doc_id = m.doc_id, dfp, stats s)
         |SELECT doc_id, round(score, 4) AS score FROM scored
         |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // F11: exact phrase query over positional postings.
    q("bm25_phrase")((s, dir) => {
      val pidx = bm25Stores(s, dir)._2()
      Bm25.searchPhrase(pidx, "table hash", Int.MaxValue)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    })(
      Static(s"""WITH toks0 AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
         |              t -> len(t) > 0 AND t NOT IN ($duckStop)) AS al
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(al) AS term, unnest(range(len(al))) AS pos FROM toks0),
         |dl AS (SELECT doc_id, len(al) AS dl FROM toks0),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |m AS (SELECT a.doc_id, count(*) AS ptf
         |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id),
         |dfp AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM m),
         |scored AS (SELECT m.doc_id,
         |    ln(1.0 + (s.n_docs - dfp.df + 0.5) / (dfp.df + 0.5)) *
         |    (m.ptf * (1.2 + 1.0)) / (m.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS score
         |  FROM m JOIN dl ON dl.doc_id = m.doc_id, dfp, stats s)
         |SELECT doc_id, round(score, 4) AS score FROM scored
         |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // Count-min-sketch heavy hitters over corpus bigrams: exact top-20 next
    // to the fixed-size sketch's estimate (d=4 × w=256 counters for a
    // 931-bigram universe at sf0.1 — real collisions, real overcounts,
    // deterministic md5 bucketing the oracle replays counter by counter).
    // kNN classification: the first 20 vectors labeled by the majority
    // label of their 10 nearest among the REST of the corpus (exact top-k
    // with the label carried; every tie deterministic).
    q("knn_classify")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 20 && col("embedding").isNotNull)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Ann.knnClassify(probes, emb.filter(col("vec_id") >= 20),
        "embedding", Seq("vec_id"), "label", Euclidean, k = 10)
    })(
      // CMS replayed counter by counter: same md5 bucket hash, same d×w
      // table, min over the probe row's buckets. Integer end to end.
      // Replays exact per-probe top-10 (distance then vec_id ties) and the
      // (count desc, label asc) majority vote.
      Static(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL),
         |d AS (SELECT q.query_id, e.vec_id, e.label,
         |  $duckL2 AS dist
         |  FROM embeddings e, q
         |  WHERE e.vec_id >= 20 AND e.embedding IS NOT NULL
         |    AND e.label IS NOT NULL),
         |nn AS (SELECT query_id, label FROM (
         |  SELECT query_id, label, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM d) WHERE rnk <= 10),
         |v AS (SELECT query_id, label, count(*) AS n_votes
         |  FROM nn GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, n_votes FROM (
         |  SELECT query_id, label, n_votes, row_number() OVER (
         |    PARTITION BY query_id ORDER BY n_votes DESC, label ASC) AS rn
         |  FROM v) WHERE rn = 1""".stripMargin)),

    // CM-sketch join-size estimate: |lineitem ⋈ orders| on the order key
    // predicted from two 4×65536 sketches (inner-product min), audited
    // against the exact size — the planner-side question answered without
    // running the join. Width ~4× the key cardinality at sf0.01 keeps the
    // collision overcount a useful estimate, not a saturated bound.
    q("join_size_estimate")((s, dir) =>
      Sketches.cmsJoinSize(
        t(s, dir, "lineitem").select(col("l_orderkey").cast("string").as("key")),
        t(s, dir, "orders").select(col("o_orderkey").cast("string").as("key")),
        depth = 4, width = 65536))(
      // Replays both 4×65536 sketches counter by counter, the per-row
      // inner products, the min, and the exact audit join.
      Static(s"""WITH ta AS (SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS cnt
         |  FROM lineitem GROUP BY 1),
         |tb AS (SELECT CAST(o_orderkey AS VARCHAR) AS key, count(*) AS cnt
         |  FROM orders GROUP BY 1),
         |ja AS (SELECT j, ${duckHash("CAST(j AS VARCHAR) || ':' || key")} % 65536
         |    AS bucket, cnt FROM ta
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) jj),
         |jb AS (SELECT j, ${duckHash("CAST(j AS VARCHAR) || ':' || key")} % 65536
         |    AS bucket, cnt FROM tb
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) jj),
         |sa AS (SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS bcnt
         |  FROM ja GROUP BY 1, 2),
         |sb AS (SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS bcnt
         |  FROM jb GROUP BY 1, 2),
         |ip AS (SELECT sa.j, CAST(sum(sa.bcnt * sb.bcnt) AS BIGINT) AS ip
         |  FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
         |  GROUP BY 1),
         |est AS (SELECT min(ip) AS cms_estimate FROM ip),
         |ex AS (SELECT CAST(coalesce(sum(ta.cnt * tb.cnt), 0) AS BIGINT)
         |    AS exact_join_size
         |  FROM ta JOIN tb USING (key))
         |SELECT exact_join_size, cms_estimate,
         |  cms_estimate - exact_join_size AS overcount
         |FROM ex, est""".stripMargin)),

    q("heavy_hitters", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) => {
      val toks = Dedup.tokens(col("text"))
      val bigrams = zip_with(toks,
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => when(a.isNotNull && b.isNotNull, concat(a, lit(" "), b)))
      Sketches.cmsHeavyHitters(
        t(s, dir, "documents").select(
          explode(filter(bigrams, g => g.isNotNull)).as("key")),
        depth = 4, width = 256, k = 20)
    })(
      Static(s"""WITH $duckToks,
         |bg AS (SELECT w1 || ' ' || w2 AS key FROM (
         |  SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |         unnest(list_slice(ts, 2, len(ts))) AS w2
         |  FROM toks WHERE len(ts) >= 2)),
         |tf AS (SELECT key, count(*) AS cnt FROM bg GROUP BY 1),
         |rb AS (SELECT key, cnt, j,
         |  ${duckHash("CAST(j AS VARCHAR) || ':' || key")} % 256 AS bucket
         |  FROM tf CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) jj),
         |sk AS (SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS bcnt FROM rb GROUP BY 1, 2),
         |topk AS (SELECT key, cnt FROM tf ORDER BY cnt DESC, key LIMIT 20)
         |SELECT topk.key, topk.cnt AS exact_cnt, min(bcnt) AS cms_estimate,
         |       min(bcnt) - topk.cnt AS overcount
         |FROM topk JOIN rb ON rb.key = topk.key
         |JOIN sk ON rb.j = sk.j AND rb.bucket = sk.bucket
         |GROUP BY 1, 2""".stripMargin)),

    // Linear-counting cardinality sketch per event type: exact distinct
    // users next to the m=4096-bucket estimate (Whang et al. 1990) — the
    // fixed-state answer to "how many distinct users" at 100 TB.
    q("distinct_sketch")((s, dir) =>
      Sketches.linearCountingDistinct(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", m = 4096))(
      // Linear counting replay: same md5 bucket of the stringified user id,
      // same −m·ln(empty/m) estimate arithmetic.
      Static(s"""WITH b AS (SELECT event_type, user_id,
         |  ${duckHash("CAST(user_id AS VARCHAR)")} % 4096 AS bucket FROM events),
         |a AS (SELECT event_type, count(DISTINCT user_id) AS n_exact,
         |             count(DISTINCT bucket) AS buckets_occupied FROM b GROUP BY 1)
         |SELECT event_type, n_exact, buckets_occupied,
         |  round(-4096.0 * ln((4096.0 - buckets_occupied) / 4096.0), 4) + 0.0 AS lc_estimate
         |FROM a""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): rank every document by the
    // hashed-ngram log-likelihood ratio between the English target sample
    // and the raw corpus — the data-selection step before resampling a
    // crawl toward a target domain.
    q("importance_weights")((s, dir) =>
      Curation.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", numBuckets = 1024))(
      // DSIR replay: unigram∪bigram features, md5 bucket hash, add-one
      // smoothed log-likelihood ratios, length-normalized per-doc sum.
      Static(s"""WITH $duckToks,
         |uni AS (SELECT doc_id, unnest(ts) AS f FROM toks),
         |bgr AS (SELECT doc_id, w1 || ' ' || w2 AS f FROM (
         |  SELECT doc_id, unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |         unnest(list_slice(ts, 2, len(ts))) AS w2
         |  FROM toks WHERE len(ts) >= 2)),
         |f AS (SELECT doc_id, ${duckHash("f")} % 1024 AS bucket
         |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bgr)),
         |pd AS (SELECT doc_id, bucket, count(*) AS c FROM f GROUP BY 1, 2),
         |raw AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS rb FROM pd GROUP BY 1),
         |tgt AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS tb
         |        FROM pd JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT CAST((SELECT sum(rb) FROM raw) AS BIGINT) AS rtot,
         |               CAST((SELECT sum(tb) FROM tgt) AS BIGINT) AS ttot),
         |lam AS (SELECT raw.bucket,
         |  ln(CAST(coalesce(tb, 0) + 1 AS DOUBLE) / (ttot + 1024)) -
         |  ln(CAST(rb + 1 AS DOUBLE) / (rtot + 1024)) AS lam
         |  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, tot)
         |SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |  round(sum(CAST(c AS DOUBLE) * lam) / CAST(sum(c) AS BIGINT), 4) + 0.0 AS dsir_weight
         |FROM pd JOIN lam USING (bucket)
         |GROUP BY 1""".stripMargin)),

    // ROC-AUC of the NB quality classifier against its training label —
    // rank-sum with tie-averaged ranks over the globalRank order (no
    // single-partition exchange; (min+max)/2 tie averages are exact halves
    // so the rank-sum is order-independent cross-engine).
    q("classifier_auc")((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.nbQualityScore(docs, "doc_id", "text",
        col("lang") === "en")
      QualityMetrics.rocAuc(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("y")), "doc_id"),
        "doc_id", "nb_score", "y")
    })(
      // Rank-sum AUC over the replayed NB scores: row_number by (score, id),
      // tie-average = (min+max)/2 of the positional ranks per distinct score
      // (exact halves — same arithmetic as the Spark side).
      Static(s"""WITH $duckToks,
         |$duckNbScored,
         |sy AS (SELECT s.doc_id, nb_score, y FROM scored s JOIN lab USING (doc_id)),
         |rn AS (SELECT doc_id, nb_score, y,
         |         row_number() OVER (ORDER BY nb_score, doc_id) AS rn FROM sy),
         |ar AS (SELECT y, CAST(min(rn) OVER (PARTITION BY nb_score)
         |                    + max(rn) OVER (PARTITION BY nb_score) AS DOUBLE) / 2 AS ar
         |       FROM rn),
         |agg AS (SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |               CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |               sum(CASE WHEN y THEN ar END) AS sp FROM ar)
         |SELECT n_pos, n_neg,
         |  round((sp - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
         |      / (CAST(n_pos AS DOUBLE) * n_neg), 6) + 0.0 AS auc
         |FROM agg""".stripMargin)),

    // Per-label cluster quality over the embedding column: cohesion (mean
    // member→centroid L2), separation (nearest other centroid), DB-style
    // ratio — the clustering eval after any labeling pass.
    q("cluster_quality")((s, dir) =>
      QualityMetrics.clusterQuality(t(s, dir, "embeddings"), "label", "embedding"))(
      // Cluster-quality replay: centroids from the label_centroids CTE
      // (rounded to 6 before any downstream arithmetic), member/centroid
      // distances via list_zip folds in array order like the Spark zip_with.
      Static("""WITH ex AS (SELECT vec_id, label, embedding FROM embeddings
        |            WHERE embedding IS NOT NULL),
        |pd AS (SELECT label, dim, avg(CAST(x AS DOUBLE)) AS m
        |       FROM (SELECT label, unnest(embedding) AS x,
        |                    unnest(range(len(embedding))) AS dim FROM ex)
        |       GROUP BY 1, 2),
        |cent AS (SELECT label, list(round(m, 6) + 0.0 ORDER BY dim) AS cv FROM pd GROUP BY 1),
        |nv AS (SELECT label, count(*) AS n_vectors FROM ex GROUP BY 1),
        |md AS (SELECT e.label,
        |         sqrt(list_sum(list_transform(list_zip(e.embedding, c.cv),
        |           p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))) AS d
        |       FROM ex e JOIN cent c USING (label)),
        |coh AS (SELECT label, round(avg(d), 4) + 0.0 AS cohesion FROM md GROUP BY 1),
        |cd AS (SELECT a.label,
        |         sqrt(list_sum(list_transform(list_zip(a.cv, b.cv),
        |           p -> (p[1] - p[2]) * (p[1] - p[2])))) AS cdist
        |       FROM cent a JOIN cent b ON a.label <> b.label),
        |sep AS (SELECT label, round(min(cdist), 6) + 0.0 AS separation FROM cd GROUP BY 1)
        |SELECT nv.label, nv.n_vectors, cohesion, separation,
        |       round(cohesion / separation, 4) + 0.0 AS ratio
        |FROM nv JOIN coh USING (label) JOIN sep USING (label)""".stripMargin)),

    // KL mixture monitoring: how far the curated (English) sample's source
    // distribution drifts from the whole corpus — per-source KL terms.
    q("distribution_shift")((s, dir) =>
      Curation.distributionShift(t(s, dir, "documents"), "source",
        isSample = col("lang") === "en"))(
      // KL replay: one facet aggregate, totals + facet count V from a scalar
      // CTE, identical add-one-smoothed double arithmetic unrounded until the
      // final per-column round.
      Static("""WITH st AS (SELECT source AS facet, count(*) AS n_corpus,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
        |       FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_sample) AS BIGINT) AS ns,
        |               CAST(sum(n_corpus) AS BIGINT) AS nc, count(*) AS v FROM st)
        |SELECT facet, n_sample, n_corpus,
        |  round(CAST(n_sample + 1 AS DOUBLE) / (ns + v), 6) + 0.0 AS p_sample,
        |  round(CAST(n_corpus + 1 AS DOUBLE) / (nc + v), 6) + 0.0 AS p_corpus,
        |  round((CAST(n_sample + 1 AS DOUBLE) / (ns + v)) *
        |        (ln(CAST(n_sample + 1 AS DOUBLE) / (ns + v))
        |       - ln(CAST(n_corpus + 1 AS DOUBLE) / (nc + v))), 6) + 0.0 AS kl_term
        |FROM st, tot""".stripMargin)),

    // Reliability curve of the same classifier: 10 equal-width score bins
    // (scaled-integer arithmetic), per-bin positive rate vs mean score.
    q("classifier_calibration")((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.nbQualityScore(docs, "doc_id", "text",
        col("lang") === "en")
      QualityMetrics.calibrationCurve(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("y")), "doc_id"),
        "doc_id", "nb_score", "y", nBins = 10)
    })(
      // Calibration replay: ×10⁴ scaled-integer equal-width binning (integer
      // floor division — `//` here, the pmod/decimal identity on the Spark
      // side), bin means as explicit double-cast sums over counts (never avg).
      Static(s"""WITH $duckToks,
         |$duckNbScored,
         |si AS (SELECT s.doc_id, CAST(round(nb_score * 10000) AS BIGINT) AS si, y
         |       FROM scored s JOIN lab USING (doc_id)),
         |mm AS (SELECT min(si) AS mn, max(si) AS mx FROM si),
         |bs AS (SELECT y, si, CAST((si - mn) // ((mx - mn + 10) // 10) AS INT) AS bin
         |       FROM si, mm)
         |SELECT bin, count(*) AS n,
         |  round(CAST(sum(si) AS DOUBLE) / count(*) / 10000, 6) + 0.0 AS mean_score,
         |  round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) + 0.0
         |    AS frac_pos
         |FROM bs GROUP BY 1""".stripMargin)),

    // Integer fixed-point PageRank over a deterministic synthetic link
    // graph (the crawl-provenance quality signal): 5 power iterations,
    // each one rank-to-edges equi-join + one partial-aggregating groupBy
    // on dst, all arithmetic in exact 1e12-scaled BIGINTs so the oracle
    // replays every iteration bit-for-bit. Top-20 report via
    // TakeOrderedAndProject (rank desc, id asc — deterministic at ties).
    q("pagerank", Sf1Bench, ScaleSweep, Sf10Spot)((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Graph.pageRank(Graph.syntheticLinks(docs, "doc_id"), "src", "dst",
          iterations = 5)
        .orderBy(col("rank").desc, col("id").asc).limit(20)
    })(
      // Replays all 5 PageRank iterations in the same integer fixed-point
      // arithmetic: edge list regenerated by three filtered selects
      // (outdegree 1..3 by id mod 3), // = Spark's div on positive BIGINTs.
      Static(pagerankOracle)),

    // The SAME computation under the cluster fault-tolerance policy
    // (durable Hadoop-FS snapshot every 3 rounds, recomputable lineage in
    // between) — verified against the identical oracle so the Reliable
    // path re-proves itself on every correctness sweep, not just in
    // GraphSpec. Integer fixed point ⇒ the two policies are bit-equal.
    q("pagerank_reliable")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Graph.pageRank(Graph.syntheticLinks(docs, "doc_id"), "src", "dst",
          iterations = 5,
          policy = CheckpointPolicy.Reliable(everyN = 3,
            checkpointDir = Some(indexDir(dir, "pagerank-ckpt"))))
        .orderBy(col("rank").desc, col("id").asc).limit(20)
    })(
      // SAME oracle, different execution policy on the Spark side: the
      // durable-checkpoint path re-verifies against the oracle every round,
      // so the Reliable policy can never silently rot
      Static(pagerankOracle)),

    // HITS hubs & authorities over the same link graph (the bipartite
    // companion signal to pagerank): integer fixed point with max-
    // normalization each half-step — exact, oracle-replayable. Top-20 by
    // authority (hub, id tiebreaks — the synthetic graph's near-uniform
    // in-degree leaves ties at max, which the tiebreak pins).
    q("hits_scores", Sf1Bench, ScaleSweep)((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Graph.hits(Graph.syntheticLinks(docs, "doc_id"), "src", "dst",
          iterations = 5)
        .orderBy(col("auth").desc, col("hub").desc, col("id").asc).limit(20)
    })(
      // Replays the 5 HITS iterations: same integer arithmetic, max-
      // normalization via scalar-subquery attach. MATERIALIZED CTEs — the
      // a_k/h_k chain references each step twice, and inlined it expands
      // exponentially (the mmr_rerank precedent).
      Static {
        val iters = (1 to 5).map { k =>
          s"""a${k}raw AS MATERIALIZED (SELECT e.dst AS id, SUM(h${k - 1}.hub) AS araw
             |  FROM edges e JOIN h${k - 1} ON e.src = h${k - 1}.id GROUP BY e.dst),
             |a$k AS MATERIALIZED (SELECT n.id,
             |  (COALESCE(araw, 0) * 1000000) // (SELECT max(araw) FROM a${k}raw) AS auth
             |  FROM nodes n LEFT JOIN a${k}raw USING (id)),
             |h${k}raw AS MATERIALIZED (SELECT e.src AS id, SUM(a$k.auth) AS hraw
             |  FROM edges e JOIN a$k ON e.dst = a$k.id GROUP BY e.src),
             |h$k AS MATERIALIZED (SELECT n.id,
             |  (COALESCE(hraw, 0) * 1000000) // (SELECT max(hraw) FROM h${k}raw) AS hub
             |  FROM nodes n LEFT JOIN h${k}raw USING (id))""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT count(*) AS n FROM documents),
           |e1 AS (SELECT doc_id AS src, (17*doc_id + 1) % n.n AS dst FROM documents, n),
           |e2 AS (SELECT doc_id AS src, (17*doc_id + 2) % n.n AS dst FROM documents, n
           |       WHERE doc_id % 3 >= 1),
           |e3 AS (SELECT doc_id AS src, (17*doc_id + 3) % n.n AS dst FROM documents, n
           |       WHERE doc_id % 3 = 2),
           |edges AS MATERIALIZED (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           |                       UNION ALL SELECT * FROM e3),
           |nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
           |h0 AS MATERIALIZED (SELECT id, 1000000 AS hub FROM nodes),
           |$iters
           |SELECT a5.id, CAST(a5.auth AS BIGINT) AS auth, CAST(h5.hub AS BIGINT) AS hub
           |FROM a5 JOIN h5 USING (id)
           |ORDER BY auth DESC, hub DESC, id LIMIT 20""".stripMargin
      }),

    // Deterministic synchronous label propagation over the same link graph
    // (community/mirror-cluster detection, the randomized classic made
    // oracle-replayable): 4 rounds, neighbor-majority labels with
    // smallest-label ties, integer end to end.
    q("label_propagation")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Graph.labelPropagation(Graph.syntheticLinks(docs, "doc_id"),
        "src", "dst", iterations = 4)
    })(
      // Replays the 4 synchronous LPA rounds: undirected closure via UNION
      // (distinct), per-round neighbor-label counts, argmax by
      // (count DESC, label ASC) as a QUALIFY window.
      Static {
        val iters = (1 to 4).map { k =>
          s"""c$k AS (SELECT u.a AS id, l.label AS label, count(*) AS c
             |  FROM und u JOIN l${k - 1} l ON l.id = u.b GROUP BY 1, 2),
             |l$k AS (SELECT id, label FROM c$k QUALIFY
             |  row_number() OVER (PARTITION BY id ORDER BY c DESC, label) = 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT count(*) AS n FROM documents),
           |e1 AS (SELECT doc_id AS src, (17*doc_id + 1) % n.n AS dst FROM documents, n),
           |e2 AS (SELECT doc_id AS src, (17*doc_id + 2) % n.n AS dst FROM documents, n
           |       WHERE doc_id % 3 >= 1),
           |e3 AS (SELECT doc_id AS src, (17*doc_id + 3) % n.n AS dst FROM documents, n
           |       WHERE doc_id % 3 = 2),
           |edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3),
           |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges
           |                     UNION SELECT dst, src FROM edges),
           |l0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
           |$iters
           |SELECT id, label FROM l4""".stripMargin
      }),

    // HyperLogLog cardinality per event type next to the exact count — the
    // m=512-register companion to distinct_sketch's linear counting. The
    // indicator Σ 2^(−M_j) accumulates as exact BIGINTs (2^(52−M_j) per
    // occupied register), so aggregation order cannot move a float bit and
    // the oracle replays the estimate arithmetic verbatim.
    q("hll_distinct", Sf10Spot, Sf100Spot)((s, dir) =>
      Sketches.hllDistinct(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", p = 9))(
      // HLL replay: same md5 hash, bucket = h % 512, rho from length(bin(w))
      // (identical minimal binary in both engines), register max, exact
      // 2^(52−M) BIGINT indicator, same estimate arithmetic including the
      // small-range linear-counting fallback.
      Static(s"""WITH h AS (SELECT event_type, user_id,
         |  ${duckHash("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |r AS (SELECT event_type, h % 512 AS bucket,
         |  CASE WHEN h // 512 = 0 THEN 52
         |       ELSE 52 - length(bin(h // 512)) END AS rho FROM h),
         |regs AS (SELECT event_type, bucket, max(rho) AS M FROM r GROUP BY 1, 2),
         |ind AS (SELECT event_type, count(*) AS hll_registers,
         |  SUM(1::BIGINT << (52 - M)) AS z_occ FROM regs GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |       FROM events GROUP BY 1),
         |j AS (SELECT ex.event_type, n_exact, hll_registers,
         |  z_occ + (512 - hll_registers) * (1::BIGINT << 52) AS zs,
         |  512 - hll_registers AS v
         |  FROM ex JOIN ind USING (event_type)),
         |k AS (SELECT *,
         |  CAST(0.7213 AS DOUBLE)/(1 + CAST(1.079 AS DOUBLE)/512)*512*512 /
         |  (CAST(zs AS DOUBLE) / CAST(1::BIGINT << 52 AS DOUBLE)) AS e_raw
         |  FROM j)
         |SELECT event_type, n_exact, hll_registers,
         |  round(CASE WHEN e_raw <= 2.5*512 AND v > 0
         |    THEN 512.0 * ln(512.0 / CAST(v AS DOUBLE)) ELSE e_raw END, 4) + 0.0
         |    AS hll_estimate,
         |  (e_raw <= 2.5*512 AND v > 0) AS small_range
         |FROM k""".stripMargin)),

    // Robust outlier report per source over n_chars: exact integer
    // median/MAD (type-1 lower medians — identical element both engines),
    // outliers at |x − med| > 3·MAD — the mean-free anomaly gate.
    q("mad_outliers")((s, dir) =>
      Curation.madOutliers(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars"))(
      // MAD replay: same type-1 lower-median order statistics ((n+1) // 2)
      // over values then absolute deviations, same 3·MAD gate — integers
      // end to end.
      Static("""WITH v AS (SELECT source, n_chars AS v FROM documents),
        |r AS (SELECT source, v,
        |  row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n FROM v),
        |med AS (SELECT source, v AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT v.source, abs(v.v - med.med) AS d
        |  FROM v JOIN med ON med.source = v.source),
        |r2 AS (SELECT source, d,
        |  row_number() OVER (PARTITION BY source ORDER BY d) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n FROM d),
        |mad AS (SELECT source, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.source, count(*) AS n, CAST(med.med AS BIGINT) AS median,
        |  CAST(mad.mad AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN d.d > 3 * greatest(mad.mad, 1) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad ON mad.source = d.source
        |JOIN med ON med.source = d.source
        |GROUP BY 1, med.med, mad.mad""".stripMargin)),

    // PMI collocation mining: top-20 adjacent word pairs by pointwise
    // mutual information (pair count ≥ 5) — the multi-word-expression /
    // boilerplate-idiom discovery pass; exact integer counts, one ln.
    q("collocations")((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 5, k = 20))(
      // PMI replay: same tokens, unigram/bigram counts, same
      // (n_pair·N)/(n_w1·n_w2) double expression under one ln.
      Static(s"""WITH $duckToks,
         |tk AS (SELECT doc_id, unnest(ts) AS w FROM toks),
         |words AS (SELECT w, count(*) AS n_w FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_total FROM toks),
         |bg AS (SELECT w1, w2, count(*) AS n_pair FROM (
         |  SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |         unnest(list_slice(ts, 2, len(ts))) AS w2
         |  FROM toks WHERE len(ts) >= 2)
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT bg.w1, bg.w2, n_pair, a.n_w AS n_w1, b.n_w AS n_w2,
         |  round(ln(CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE) /
         |    (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))), 6) + 0.0 AS pmi
         |FROM bg JOIN words a ON a.w = bg.w1 JOIN words b ON b.w = bg.w2, tot
         |ORDER BY pmi DESC, bg.w1, bg.w2 LIMIT 20""".stripMargin)),

    // Flesch / Flesch-Kincaid readability per document — deterministic
    // vowel-group syllables + sentence-run counts; both scores ship
    // UNROUNDED (exact integer inputs ⇒ bit-identical doubles in both
    // engines; rounding would reintroduce the shortest-decimal boundary).
    q("readability")((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text"))(
      // Readability replay: same tokens, same vowel-group/sentence-run
      // counting (regexp_replace with 'g'), same UNROUNDED double formulas
      // with every literal forced to DOUBLE (bare decimals are DECIMAL in
      // DuckDB and would run the formula in decimal arithmetic).
      Static(s"""WITH $duckToks,
         |c AS (SELECT d.doc_id, len(ts) AS n_words,
         |  greatest(length(regexp_replace(d.text, '[.!?]+', '#', 'g')) -
         |           length(regexp_replace(d.text, '[.!?]+', '', 'g')), 1) AS n_sentences,
         |  CAST(coalesce(list_sum(list_transform(ts, w ->
         |    greatest(length(regexp_replace(w, '[aeiouy]+', '#', 'g')) -
         |             length(regexp_replace(w, '[aeiouy]+', '', 'g')), 1))), 0) AS BIGINT)
         |    AS n_syllables
         |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id)
         |SELECT doc_id, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
         |  n_syllables,
         |  CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) *
         |    (CAST(greatest(n_words, 1) AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
         |    CAST(84.6 AS DOUBLE) *
         |    (CAST(n_syllables AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE))
         |    + 0.0 AS flesch,
         |  CAST(0.39 AS DOUBLE) *
         |    (CAST(greatest(n_words, 1) AS DOUBLE) / CAST(n_sentences AS DOUBLE)) +
         |    CAST(11.8 AS DOUBLE) *
         |    (CAST(n_syllables AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)) -
         |    CAST(15.59 AS DOUBLE) + 0.0 AS fk_grade
         |FROM c""".stripMargin)),

    // Histogram quantile sketch per source over n_chars: p50/p90/p99 from
    // a width-100 fixed histogram (integer rank arithmetic end to end)
    // next to the exact order statistic — the mergeable-sketch answer to
    // percentiles at 100 TB, where winsorize's exact two-pass is the
    // small-data formulation.
    q("quantile_histogram", Sf1Bench, Sf10Spot, Sf100Spot)((s, dir) =>
      Sketches.histogramQuantiles(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars", width = 100L))(
      // Histogram-quantile replay: same width-100 buckets, cumulative window,
      // integer ⌈q·n⌉ targets, within-bucket interpolation, and the exact
      // order statistic via a per-source row_number window.
      Static("""WITH hist AS (SELECT source, n_chars // 100 AS bucket, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, bucket, cnt,
        |  sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY source) AS n FROM hist),
        |tg AS (SELECT source, n, quantile, (qnum * n + qden - 1) // qden AS target
        |  FROM (SELECT DISTINCT source, n FROM cum)
        |  CROSS JOIN (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
        |    AS q(quantile, qnum, qden)),
        |pick AS (SELECT t.source, t.quantile, t.n, t.target, c.bucket, c.cnt,
        |  c.cum - c.cnt AS cb FROM tg t JOIN cum c ON c.source = t.source
        |  AND c.cum >= t.target AND c.cum - c.cnt < t.target),
        |ex AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
        |  FROM documents)
        |SELECT p.source, p.quantile, CAST(p.n AS BIGINT) AS n,
        |  CAST(p.target AS BIGINT) AS target_rank,
        |  CAST(p.bucket * 100 AS DOUBLE) + CAST(p.target - p.cb AS DOUBLE) *
        |    CAST(100 AS DOUBLE) / CAST(p.cnt AS DOUBLE) + 0.0 AS hist_estimate,
        |  e.n_chars AS exact_value
        |FROM pick p JOIN ex e ON e.source = p.source AND e.rn = p.target"""
        .stripMargin)),

    // Johnson–Lindenstrauss random projection 64→8 dims with the lshBucket
    // hyperplanes (values, not signs) — the embedding-compaction map;
    // emitted wide (p0..p7, rounded 6) for the exact cross-engine compare.
    q("rp_project")((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      ApproxAnn.randomProject(emb, "embedding", outDims = 8, dims = 64)
        .select(col("vec_id") +: (0 until 8).map(j =>
          (round(element_at(col("rp"), j + 1), 6) + lit(0.0)).as(s"p$j")): _*)
    })(
      // JL projection replay: the same md5 hyperplane literals as
      // duckLshBucket (shortest-repr doubles round-trip exactly through the
      // decimal parse), folded in list order by list_sum — the list_zip
      // pattern every distance oracle already proves in-order.
      Static {
        val cols = ApproxAnn.hyperplanes(8, 64).zipWithIndex.map { case (w, j) =>
          val lits = w.map(_.toString).mkString("[", ", ", "]")
          s"""round(list_sum(list_transform(list_zip(embedding, $lits),
             |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) + 0.0
             |    AS p$j""".stripMargin
        }.mkString(",\n  ")
        s"""SELECT vec_id,
           |  $cols
           |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin
      }),

    // Incremental near-dup DELTA probe, oracle-checked (the streaming
    // serving path of Dedup.nearDupProbe, until now only spec-tested):
    // docs with id ≡ 0 (mod 17) play the new micro-batch, probed against
    // the maintained shingle + signature stores. Emits exactly the
    // dedup_minhash pairs touching the batch — the oracle is the full
    // pair replay restricted to pairs with a delta member.
    q("dedup_delta")((s, dir) => {
      val delta = t(s, dir, "documents").filter(col("doc_id") % 17 === 0)
      val probeSh = Dedup.shingles(delta, "doc_id", "text", 5)
      val probeSigs = Dedup.minhashSignaturesFromShingles(probeSh, "doc_id", 16)
      Dedup.nearDupProbe(probeSh, probeSigs,
          shingleStore(s, dir), minhashSigStore(s, dir),
          "doc_id", bands = 4, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    })(
      // dedup_minhash's full pair replay restricted to pairs touching the
      // delta batch (id ≡ 0 mod 17) — exactly what the incremental probe
      // must emit.
      Static(s"""WITH $duckToks, ${duckShingles(5)}, $duckMinhashCand, $duckJaccardTail
         |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |FROM cand JOIN inter USING (id_a, id_b)
         |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
         |  AND (id_a % 17 = 0 OR id_b % 17 = 0)""".stripMargin)),

    // Per-dimension embedding-column audit: exact scaled-integer
    // n/Σ/Σ²/min/max/zeros per vector position (dead-dim and scale-drift
    // detection before index build). One posexplode + one groupBy(dim).
    q("embedding_profile")((s, dir) =>
      Curation.embeddingProfile(t(s, dir, "embeddings"), "embedding"))(
      // zipped unnests pair each element with its position; float·1e6 is an
      // exact double product, floor'd identically in both engines.
      Static("""WITH e AS (SELECT unnest(range(len(embedding))) AS dim,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS sv,
        |  CASE WHEN unnest(embedding) = 0 THEN 1 ELSE 0 END AS z
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT dim, count(*) AS n, CAST(sum(sv) AS BIGINT) AS sum_s,
        |  CAST(sum(sv*sv) AS BIGINT) AS sumsq_s,
        |  min(sv) AS min_s, max(sv) AS max_s, CAST(sum(z) AS BIGINT) AS n_zero
        |FROM e GROUP BY dim""".stripMargin)),

    // Per-source n-gram diversity (type-token ratio in ppm, exact integer
    // arithmetic): the corpus-composition repetitiveness score.
    q("ngram_diversity")((s, dir) =>
      TextAnalysis.ngramDiversity(t(s, dir, "documents"), "source", "text",
        n = 3))(
      // same tokenizer as ngram_top, trigrams via 1-based list_transform,
      // distinctness over the stable 60-bit gram hash on both sides
      Static("""WITH t AS (SELECT source,
        |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |g AS (SELECT source, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
        |  FROM t WHERE len(toks) >= 3),
        |h AS (SELECT source, ('0x' || substr(md5(ngram), 1, 15))::BIGINT AS gh FROM g)
        |SELECT source, count(*) AS n_grams, count(DISTINCT gh) AS n_distinct,
        |  (count(DISTINCT gh) * 1000000) // count(*) AS diversity_ppm
        |FROM h GROUP BY source""".stripMargin)),

    // Writer-shard planning report: stable-hash shard assignment over 64
    // output shards with per-shard rows/bytes and integer per-mille skew
    // vs the mean shard — the pre-commit layout audit of a 100 TB writer.
    q("shard_plan")((s, dir) =>
      Curation.shardPlan(t(s, dir, "documents"), "doc_id", "text",
        numShards = 64))(
      // strlen is DuckDB's byte length (Spark octet_length); // replays div
      Static(s"""WITH a AS (SELECT ${duckHash("CAST(doc_id AS VARCHAR)")} % 64 AS shard,
         |  CAST(strlen(text) AS BIGINT) AS b FROM documents),
         |per AS (SELECT shard, count(*) AS n_rows, CAST(sum(b) AS BIGINT) AS bytes
         |        FROM a GROUP BY shard),
         |tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS tb, count(*) AS ns FROM per)
         |SELECT shard, n_rows, bytes, (bytes * 1000) // (tb // ns) AS skew_permille
         |FROM per, tot""".stripMargin)),
  )

  /** FTS index stores materialized at "ingest" — the reference builds its
    * tantivy index once and serves every query from it
    * (fts_index/tantivy.rs:129-175); re-tokenizing the corpus per query
    * would be the analogue of rebuilding tantivy per search. The positional
    * postings double as the tf postings (one store serves terms AND
    * phrases); doc lengths are a second, tiny store. */
  private def bm25Stores(
      s: SparkSession, dir: String): (Bm25.Index, () => Bm25.PosIndex) = {
    import graft.sources.IndexStorage
    val base = s"$dir/documents.parquet"
    val post = IndexStorage.materializeCached(s, base, indexDir(dir, "bm25_pos"), Nil) {
      Bm25.buildPositionalIndex(t(s, dir, "documents"), "doc_id", "text").postings
    }
    // doc lengths derive from the postings store (dl = Σ tf — tokenize drops
    // stopwords before positions are assigned, so the sums match
    // size(tokenize(text)) exactly) instead of re-tokenizing the corpus a
    // second time; docs whose text yields zero surviving tokens have no
    // postings rows, so the id set comes from the corpus and missing sums
    // fill as 0.
    val lens = IndexStorage.materializeCached(s, base, indexDir(dir, "bm25_len"), Nil) {
      t(s, dir, "documents").select(col("doc_id"))
        .join(post.groupBy("doc_id").agg(sum(col("tf")).cast("int").as("dl")),
          Seq("doc_id"), "left")
        .na.fill(0, Seq("dl"))
    }
    val idx = Bm25.Index(post.select("doc_id", "term", "tf"), lens, "doc_id")
    (idx, () => Bm25.PosIndex(post, lens, "doc_id"))
  }

  /** Materialized 5-gram shingle table (id, sh) over documents — the dedup
    * suite's index artifact. */
  private[graft] def shingleStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStorage.materializeCached(s, s"$dir/documents.parquet",
        indexDir(dir, "shingle5"), Nil) {
      Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", 5)
    }

  /** Materialized decontamination Bloom (one serialized sketch row) — an
    * ingest artifact like the shingle store: it changes only when the
    * benchmark suite does, so serving queries pay probe cost only. The
    * sketch rides the same build-once fingerprinting as every other
    * store. */
  private[graft] def deconBloomStore(s: SparkSession, dir: String): Curation.Bloom = {
    val path = indexDir(dir, "deconbloom")
    graft.sources.IndexStorage.buildOnce(s"$dir/documents.parquet", path) {
      val bloom = Curation.benchBloom(shingleStore(s, dir), "doc_id",
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("bench_id")))
      import s.implicits._
      Seq(bloom.bytes).toDF("bf").write.mode("overwrite").parquet(path)
    }
    Curation.Bloom(s.read.parquet(path).head().getAs[Array[Byte]](0))
  }

  /** Materialized positional 10-token window store (id, _h) — the
    * span-dedup index artifact (built once at "ingest" like the shingle
    * store); the query then runs two narrow aggregates over longs instead
    * of re-tokenizing and re-hashing every window position twice. */
  private def spanStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStorage.materializeCached(s, s"$dir/documents.parquet",
        indexDir(dir, "span10"), Nil) {
      TextAnalysis.spanWindows(t(s, dir, "documents"), "doc_id", "text", 10)
    }

  /** Materialized MinHash signature table (id, sig_0..sig_15) — built from
    * the shingle store at "ingest" (uncapped, matching the oracle's
    * maxShingleDf = None) so probes skip the signature aggregation. */
  private def minhashSigStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStorage.materializeCached(s, s"$dir/documents.parquet",
        indexDir(dir, "minhash16"), Nil) {
      Dedup.minhashSignaturesFromShingles(shingleStore(s, dir), "doc_id", 16)
    }

  private def bm25(query: String)(s: SparkSession, dir: String): DataFrame = {
    val (idx, _) = bm25Stores(s, dir)
    Bm25.scoreAll(idx, query)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  private def bm25Bool(query: String)(s: SparkSession, dir: String): DataFrame = {
    val (idx, pidx) = bm25Stores(s, dir)
    Bm25.scoreBoolean(idx, pidx, query)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  private val duckStop = Bm25.EnglishStopwords.map(w => s"'$w'").mkString(", ")

  /** Per-(doc, term) BM25 scores CTE chain mirroring Bm25.termScores — the
    * boolean oracle queries compose joins/anti-joins over `ts`. */
  private def duckTermScores(terms: Seq[String]): String = {
    val termList = terms.map(w => s"'$w'").mkString(", ")
    s"""toksq AS (
       |  SELECT doc_id, t AS term FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+')) AS t
       |    FROM documents)
       |  WHERE len(t) > 0 AND t NOT IN ($duckStop)),
       |dl AS (SELECT d.doc_id, (SELECT count(*) FROM toksq WHERE toksq.doc_id = d.doc_id) AS dl FROM documents d),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toksq
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |ts AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |    (tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS s
       |  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id), stats s)""".stripMargin
  }

  private def duckBm25(terms: Seq[String]): String = {
    val termList = terms.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, t AS term FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+')) AS t
       |    FROM documents)
       |  WHERE len(t) > 0 AND t NOT IN ($duckStop)),
       |dl AS (SELECT d.doc_id, (SELECT count(*) FROM toks WHERE toks.doc_id = d.doc_id) AS dl FROM documents d),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    sum( ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ) AS score
       |  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id), stats s
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 4) AS score FROM scored
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** DuckDB replay of ApproxAnn.lshBucket for the `nbits`/64-dim
    * hyperplanes (same md5-derived weights, same projection and sign
    * arithmetic — full round-trip literal repr). The driver's pinned
    * queries use nbits=8; [[oracleSqlFor]] inlines autoNbits(n) for the
    * `_auto` twins. */
  private def duckLshBucket(vec: String, nbits: Int): String =
    ApproxAnn.hyperplanes(nbits, 64).zipWithIndex.map { case (w, j) =>
      val lits = w.map(_.toString).mkString("[", ", ", "]")
      val proj = s"list_sum(list_transform(list_zip($vec, $lits), " +
        "x -> CAST(x[1] AS DOUBLE) * x[2]))"
      s"(CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB building blocks for the dedup oracles: 60-bit stable hash and
    * 5-gram shingle CTEs mirroring Dedup.stableHash / Dedup.shingles. */
  private def duckHash(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
  // the lm_score pipeline as a reusable CTE chain (expects $duckToks before
  // it): lm(doc_id, n_tokens, lm_score) — the corpus-self unigram model
  private val duckLmScored =
    """tk AS (SELECT doc_id, unnest(ts) AS term FROM toks),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      |model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM model),
      |lm AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  round(sum(tf * ln(CAST(cnt AS DOUBLE) / n_total)) / CAST(sum(tf) AS BIGINT), 4) + 0.0 AS lm_score
      |  FROM tf JOIN model USING (term), tot GROUP BY doc_id)""".stripMargin
  private val duckToks =
    """toks AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS ts
      |  FROM documents)""".stripMargin
  /** Merge count shared by the bpe_merges / bpe_encode queries and their
    * oracles (the oracle CTE chain length must match the Spark loop). */
  private val BpeMerges = 6

  /** The trained BPE merge table as an ordered driver-side list — an
    * ingest-time artifact (train once, encode forever), build-once store
    * like every index; probes pay the stateless replace cascade, never the
    * 6-round training loop. Vocabulary-sized (here [[BpeMerges]] rows), so
    * the collect is bounded and the cascade inlines as literals. */
  private def bpeMergeTable(
      s: SparkSession, dir: String): Seq[(String, String)] =
    graft.sources.IndexStorage.materializeCached(
        s, s"$dir/documents.parquet", indexDir(dir, "bpe_merges6"), Nil)(
        TextAnalysis.bpeTrain(t(s, dir, "documents"), "text",
          nMerges = BpeMerges))
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  /** The BPE training replay as a CTE chain (expects `toks` in scope):
    * w0 = symbolized vocabulary with frequencies, then per round k:
    * aK (symbol arrays) → pK (pair counts) → mK (argmax) → wK (rewrite).
    * Shared by bpe_merges (reads m1..mN) and bpe_encode (applies m1..mN
    * to the document stream). */
  private def duckBpeChain(n: Int): String = {
    // MATERIALIZED is load-bearing at sf1+: every w_k has two consumers
    // (a_{k+1} and w_{k+1}) and every m_k is referenced by up to 5 scalar
    // subqueries — inlined, each reference replays the whole pair-count
    // chain below it, compounding per level (the same inlining blowup that
    // once kept mmr_rerank's oracle out of the sf1 gate). Materialized, the
    // chain is the linear 4-CTE-per-round replay it reads as.
    val w0 =
      """w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s,
        |  count(*) AS f
        |  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1)""".stripMargin
    val steps = (1 to n).map { k =>
      s"""a$k AS (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS a, f
         |  FROM w${k - 1}),
         |p$k AS (SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p, f
         |  FROM a$k WHERE len(a) >= 2) GROUP BY p),
         |m$k AS MATERIALIZED (SELECT p, cnt FROM p$k ORDER BY cnt DESC, p ASC LIMIT 1),
         |w$k AS MATERIALIZED (SELECT replace(s, ' ' || (SELECT p FROM m$k) || ' ',
         |  ' ' || (SELECT replace(p, ' ', '') FROM m$k) || ' ') AS s, f
         |  FROM w${k - 1})""".stripMargin
    }
    s"$w0,\n${steps.mkString(",\n")}"
  }

  private def duckShingles(n: Int) =
    s"""sh AS (SELECT DISTINCT doc_id, ${duckHash("sg")} AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(ts) - ${n - 1}),
       |    i -> array_to_string(ts[i + 1 : i + $n], ' '))) AS sg
       |  FROM toks WHERE len(ts) >= $n))""".stripMargin
  private val duckJaccardTail =
    """sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Gopher signal CTE chain (expects `toks` in scope; yields `c` with the
    * per-doc counts) shared by the per-doc rule replay and the per-source
    * funnel report. */
  private val duckGopherCalc =
    """w AS (SELECT d.doc_id, d.text, ts,
      |    list_filter(regexp_split_to_array(d.text, '\s+'), t -> len(t) > 0) AS ws,
      |    list_filter(string_split(d.text, chr(10)), l -> len(trim(l)) > 0) AS lines
      |  FROM documents d JOIN toks USING (doc_id)),
      |c AS (SELECT doc_id, len(ws) AS n_words, greatest(len(ws), 1) AS nw,
      |    CAST(coalesce(list_sum(list_transform(ws, t -> len(t))), 0) AS DOUBLE) AS sumlen,
      |    len(list_filter(ws, t -> regexp_matches(t, '\p{L}'))) AS n_alpha,
      |    (len(string_split(text, '#')) - 1) + (len(string_split(text, '...')) - 1)
      |      + (len(string_split(text, '…')) - 1) AS n_sym,
      |    greatest(len(lines), 1) AS nl,
      |    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-•*]\s'))) AS n_bullet,
      |    len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)\z'))) AS n_ell,
      |    len(list_distinct(list_intersect(ts,
      |      ['the','be','to','of','and','that','have','with']))) AS req
      |  FROM w)""".stripMargin

  /** The composite keep predicate over `c`'s columns — one definition for
    * both gopher oracles. */
  private val duckGopherKeep =
    """(n_words BETWEEN 30 AND 100000 AND sumlen / nw BETWEEN 3.0 AND 10.0
      | AND CAST(n_alpha AS DOUBLE) / nw > 0.8
      | AND CAST(n_sym AS DOUBLE) / nw < 0.1
      | AND CAST(n_bullet AS DOUBLE) / nl < 0.9
      | AND CAST(n_ell AS DOUBLE) / nl < 0.3 AND req >= 1)""".stripMargin

  /** Shared oracle CTE chain replaying [[graft.operators.TextAnalysis.nbQualityScore]]
    * with the `lang = 'en'` label — feeds the classifier-eval oracles (AUC,
    * calibration). Expects `toks` ([[duckToks]]) in scope; yields `lab`
    * (doc_id, y) and `scored` (doc_id, nb_score). */
  private val duckNbScored =
    """lab AS (SELECT doc_id, (lang = 'en') AS y FROM documents),
      |tk AS (SELECT t.doc_id, y, unnest(ts) AS term
      |       FROM toks t JOIN lab USING (doc_id)),
      |tf AS (SELECT doc_id, y, term, count(*) AS tf FROM tk GROUP BY 1, 2, 3),
      |cls AS (SELECT term,
      |    CAST(sum(CASE WHEN y THEN tf ELSE 0 END) AS BIGINT) AS cp,
      |    CAST(sum(CASE WHEN NOT y THEN tf ELSE 0 END) AS BIGINT) AS cn
      |  FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
      |               CAST(sum(cn) AS BIGINT) AS nn, count(*) AS v FROM cls),
      |pri AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
      |               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dn
      |        FROM documents),
      |scored AS (SELECT tf.doc_id,
      |  round(max(ln(CAST(dp + 1 AS DOUBLE) / (dn + 1)))
      |      + sum(tf * (ln(CAST(cp + 1 AS DOUBLE) / (np + v))
      |                - ln(CAST(cn + 1 AS DOUBLE) / (nn + v)))), 4) + 0.0 AS nb_score
      |  FROM tf JOIN cls USING (term), tot, pri GROUP BY tf.doc_id)""".stripMargin

  /** Embedding LSH near-dup pair CTEs mirroring Dedup.embeddingNearDups
    * (Hamming-radius-2 bucket candidates, exact cosine verification) —
    * shared by dedup_embedding_lsh and embedding_clusters. */
  private def duckEmbLshPairs(nbits: Int): String = {
    val dotAB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    def nrm(t: String) =
      s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    // MATERIALIZED: d is consumed twice (self-join) and p feeds the
    // recursive closure in embedding_clusters — inlined, DuckDB replays
    // the O(n²) bucket cross join once per recursive iteration
    s"""d AS MATERIALIZED (SELECT vec_id, embedding, ${duckLshBucket("embedding", nbits)} AS bkt
       |           FROM embeddings),
       |p AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        $dotAB / (${nrm("a")} * ${nrm("b")}) AS cs
       |      FROM d a, d b
       |      WHERE a.vec_id < b.vec_id AND bit_count(xor(a.bkt, b.bkt)) <= 2)""".stripMargin
  }

  /** The knn_join_lsh oracle at one pinned plane count — shared by the
    * static nbits=8 entry and the [[oracleSqlFor]]-inlined `_auto` twin. */
  private def knnJoinLshOracle(nbits: Int): String = {
    val l2AB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    s"""WITH d AS (SELECT vec_id, embedding, ${duckLshBucket("embedding", nbits)} AS bkt
       |           FROM embeddings),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $l2AB AS dist
       |      FROM d a, d b
       |      WHERE a.vec_id <> b.vec_id AND bit_count(xor(a.bkt, b.bkt)) <= 2),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM p)
       |SELECT query_id, vec_id, round(dist, 6) + 0.0 AS distance, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= 3""".stripMargin
  }

  /** The semantic_dedup oracle at one pinned selection-centroid count —
    * shared by the static cells=16 entry and [[oracleSqlFor]]'s √n-cell
    * twin (the SCALE SHAPE with a full hash oracle). */
  private def semanticDedupOracle(cells: Int): String = {
    val distCE = duckDistCE
    val dotAB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    def nrm(t: String) =
      s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $cells AND embedding IS NOT NULL),
       |a0 AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cid, $distCE AS d
       |       FROM embeddings e, c WHERE e.embedding IS NOT NULL),
       |asg AS MATERIALIZED (SELECT vec_id, embedding, cid, d FROM (
       |          SELECT *, row_number() OVER
       |            (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |          FROM a0) WHERE rn = 1),
       |rem AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
       |        ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |        AND $dotAB / (${nrm("a")} * ${nrm("b")}) >= 0.4
       |        AND (a.d < b.d OR (a.d = b.d AND a.vec_id < b.vec_id)))
       |SELECT vec_id, cid AS cell FROM asg
       |WHERE vec_id NOT IN (SELECT vec_id FROM rem)""".stripMargin
  }

  /** The OCCUPANCY-CAPPED semantic_dedup oracle
    * ([[graft.operators.Dedup.semanticDedupPinnedCapped]]'s replay):
    * level-1 assignment exactly as [[semanticDedupOracle]], the sub-cell
    * CTEs exactly as [[knnJoinIvfCappedOracle]] (first-s members by
    * row_number, nearest sub by (l2², sub), integer `//` split counts),
    * and the lexicographic removal rule keyed on (cid, sub) with d still
    * the LEVEL-1 centroid distance. Shared by the static cells=16/cap=16
    * split-path entry and [[oracleSqlFor]]'s √n-cell twin. */
  private def semanticDedupCappedOracle(cells: Int, cap: Int): String = {
    val distCE = duckDistCE
    val dotAB = "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    def nrm(t: String) =
      s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val distSubA = "list_sum(list_transform(list_zip(a.embedding, sb.sv), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    s"""WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $cells AND embedding IS NOT NULL),
       |a0 AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cid, $distCE AS d
       |       FROM embeddings e, c WHERE e.embedding IS NOT NULL),
       |asg AS MATERIALIZED (SELECT vec_id, embedding, cid, d,
       |       row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS crn
       |       FROM (SELECT *, row_number() OVER
       |         (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM a0)
       |       WHERE rn = 1),
       |sc AS (SELECT cid, (count(*) + $cap - 1) // $cap AS s
       |       FROM asg GROUP BY cid),
       |subc AS MATERIALIZED (SELECT a.cid, CAST(a.crn AS INT) AS sub,
       |        a.embedding AS sv
       |        FROM asg a JOIN sc USING (cid) WHERE sc.s > 1 AND a.crn <= sc.s),
       |subd AS (SELECT a.vec_id, sb.sub, row_number() OVER
       |          (PARTITION BY a.vec_id ORDER BY $distSubA ASC, sb.sub ASC) AS srn
       |        FROM asg a JOIN subc sb USING (cid)),
       |asg2 AS MATERIALIZED (SELECT a.vec_id, a.embedding, a.cid, a.d,
       |         COALESCE(s.sub, 0) AS sub
       |         FROM asg a LEFT JOIN (SELECT vec_id, sub FROM subd WHERE srn = 1) s
       |         USING (vec_id)),
       |rem AS (SELECT DISTINCT b.vec_id FROM asg2 a JOIN asg2 b
       |        ON a.cid = b.cid AND a.sub = b.sub AND a.vec_id <> b.vec_id
       |        AND $dotAB / (${nrm("a")} * ${nrm("b")}) >= 0.4
       |        AND (a.d < b.d OR (a.d = b.d AND a.vec_id < b.vec_id)))
       |SELECT vec_id, cid AS cell FROM asg2
       |WHERE vec_id NOT IN (SELECT vec_id FROM rem)""".stripMargin
  }

  /** The knn_join_ivf oracle at one pinned selection-centroid count —
    * shared by the static cells=16 entry and [[oracleSqlFor]]'s √n-cell
    * twin. */
  private def knnJoinIvfOracle(cells: Int): String = {
    val l2QA = "list_sum(list_transform(list_zip(p.qv, a.embedding), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    s"""WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $cells AND embedding IS NOT NULL),
       |a0 AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cid, $duckDistCE AS d
       |       FROM embeddings e, c WHERE e.embedding IS NOT NULL),
       |ranked AS MATERIALIZED (SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM a0),
       |asg AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, embedding AS qv, cid
       |          FROM ranked WHERE rn <= 2),
       |p0 AS (SELECT p.query_id, a.vec_id, $l2QA AS dist
       |       FROM probe p JOIN asg a USING (cid)
       |       WHERE p.query_id <> a.vec_id),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM p0)
       |SELECT query_id, vec_id, round(dist, 6) + 0.0 AS distance,
       |  CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= 3""".stripMargin
  }

  /** The OCCUPANCY-CAPPED knn_join_ivf oracle
    * ([[graft.operators.ApproxAnn.knnJoinIvfPinnedCapped]]'s replay):
    * level-1 assignment/probing exactly as [[knnJoinIvfOracle]], then
    * cells over the constant `cap` rows split into sub-cells whose
    * sub-centroids are the cell's first-s members in id order
    * (row_number), rows/probes take the nearest sub by (l2², sub), and
    * the candidate join keys on (cid, sub). Integer `//` arithmetic on
    * both sides so the split count can never drift between engines. */
  private def knnJoinIvfCappedOracle(cells: Int, cap: Int): String = {
    val l2QA = "list_sum(list_transform(list_zip(p.qv, a.embedding), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    val distSubA = "list_sum(list_transform(list_zip(a.embedding, sb.sv), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    val distSubP = "list_sum(list_transform(list_zip(p.qv, sb.sv), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    s"""WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $cells AND embedding IS NOT NULL),
       |a0 AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cid, $duckDistCE AS d
       |       FROM embeddings e, c WHERE e.embedding IS NOT NULL),
       |ranked AS MATERIALIZED (SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM a0),
       |asg AS MATERIALIZED (SELECT vec_id, embedding, cid,
       |       row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS crn
       |       FROM ranked WHERE rn = 1),
       |sc AS (SELECT cid, (count(*) + $cap - 1) // $cap AS s
       |       FROM asg GROUP BY cid),
       |subc AS MATERIALIZED (SELECT a.cid, CAST(a.crn AS INT) AS sub,
       |        a.embedding AS sv
       |        FROM asg a JOIN sc USING (cid) WHERE sc.s > 1 AND a.crn <= sc.s),
       |subd AS (SELECT a.vec_id, sb.sub, row_number() OVER
       |          (PARTITION BY a.vec_id ORDER BY $distSubA ASC, sb.sub ASC) AS srn
       |        FROM asg a JOIN subc sb USING (cid)),
       |asg2 AS (SELECT a.vec_id, a.embedding, a.cid, COALESCE(s.sub, 0) AS sub
       |         FROM asg a LEFT JOIN (SELECT vec_id, sub FROM subd WHERE srn = 1) s
       |         USING (vec_id)),
       |probe0 AS (SELECT vec_id AS query_id, embedding AS qv, cid
       |           FROM ranked WHERE rn <= 2),
       |probed AS (SELECT p.query_id, sb.cid, sb.sub, row_number() OVER
       |           (PARTITION BY p.query_id, sb.cid
       |            ORDER BY $distSubP ASC, sb.sub ASC) AS prn
       |          FROM probe0 p JOIN subc sb ON p.cid = sb.cid),
       |probe AS (SELECT p.query_id, p.qv, p.cid, COALESCE(x.sub, 0) AS sub
       |          FROM probe0 p LEFT JOIN
       |            (SELECT query_id, cid, sub FROM probed WHERE prn = 1) x
       |          ON p.query_id = x.query_id AND p.cid = x.cid),
       |p0 AS (SELECT p.query_id, a.vec_id, $l2QA AS dist
       |       FROM probe p JOIN asg2 a ON p.cid = a.cid AND p.sub = a.sub
       |       WHERE p.query_id <> a.vec_id),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM p0)
       |SELECT query_id, vec_id, round(dist, 6) + 0.0 AS distance,
       |  CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= 3""".stripMargin
  }

  /** MinHash signature + LSH band candidate CTEs mirroring
    * Dedup.minhashSignaturesFromShingles / Dedup.lshCandidates (16 hashes,
    * 4 bands) — shared by the dedup_minhash and dedup_clusters oracles. */
  private val duckMinhashCand = {
    val sigExprs = Dedup.minhashCoeffs(16).zipWithIndex.map { case ((a, b), i) =>
      s"min((h31 * $a + $b) % ${Dedup.MinhashPrime}) AS sig_$i"
    }.mkString(",\n  ")
    val bandConds = (0 until 4).map { bIdx =>
      (0 until 4).map(r => s"a.sig_${bIdx * 4 + r} = b.sig_${bIdx * 4 + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""sigs AS (SELECT doc_id, $sigExprs
       |  FROM (SELECT doc_id, h % ${Dedup.MinhashPrime} AS h31 FROM sh) GROUP BY doc_id),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sigs a JOIN sigs b
       |  ON a.doc_id < b.doc_id AND ($bandConds))""".stripMargin
  }

  /** The decontamination oracle at one bench-set predicate — shared by
    * the %5 rows and the corpus-independent `doc_id < 1000` twin. */
  private def duckDecontaminationSqlFor(benchPred: String): String =
    s"""WITH $duckToks, ${duckShingles(5)},
       |bench AS (SELECT doc_id AS bench_id FROM documents WHERE $benchPred),
       |bsh AS (SELECT bench_id, h FROM sh JOIN bench ON sh.doc_id = bench.bench_id),
       |bsz AS (SELECT bench_id, count(*) AS bsz FROM bsh GROUP BY 1),
       |ov AS (SELECT s.doc_id, b.bench_id, count(*) AS ov FROM sh s JOIN bsh b USING (h)
       |  WHERE s.doc_id <> b.bench_id GROUP BY 1, 2)
       |SELECT ov.doc_id, ov.bench_id, CAST(ov.ov AS BIGINT) AS overlap,
       |  round(CAST(ov.ov AS DOUBLE) / bsz, 6) + 0.0 AS containment
       |FROM ov JOIN bsz USING (bench_id)
       |WHERE CAST(ov.ov AS DOUBLE) / bsz >= 0.2""".stripMargin

  /** Shared by `pagerank` and `pagerank_reliable`: one SQL definition so
    * the two policy paths can never verify against diverged replays. */
  private lazy val pagerankOracle: String = {
    val iters = (1 to 5).map { k =>
      s"""i$k AS (SELECT e.dst AS id, SUM(r.rank // o.od) AS s
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.id
         |  JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
         |r$k AS (SELECT r.id,
         |  (15 * (SELECT b FROM base) + 85 * COALESCE(i.s, 0)) // 100 AS rank
         |  FROM r${k - 1} r LEFT JOIN i$k i USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT count(*) AS n FROM documents),
       |e1 AS (SELECT doc_id AS src, (17*doc_id + 1) % n.n AS dst FROM documents, n),
       |e2 AS (SELECT doc_id AS src, (17*doc_id + 2) % n.n AS dst FROM documents, n
       |       WHERE doc_id % 3 >= 1),
       |e3 AS (SELECT doc_id AS src, (17*doc_id + 3) % n.n AS dst FROM documents, n
       |       WHERE doc_id % 3 = 2),
       |edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3),
       |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |base AS (SELECT 1000000000000 // n AS b FROM n),
       |r0 AS (SELECT doc_id AS id, (SELECT b FROM base) AS rank FROM documents),
       |$iters
       |SELECT id, CAST(rank AS BIGINT) AS rank FROM r5
       |ORDER BY rank DESC, id LIMIT 20""".stripMargin
  }
}
