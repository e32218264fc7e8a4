package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (local iteration), or
    // a scale gate's subset: `@sf1` = every query not tagged NoSf1Oracle
    // (deliberately-quadratic brute-force replays), `@sf10` / `@sf100` =
    // the Sf10Spot / Sf100Spot tags. The driver's sf0.01 run passes no
    // third arg and always gets the full set.
    val only = args.lift(2).map {
      case "@sf1" =>
        SparkEntry.queries.keySet -- SparkEntry.tagged(QuerySpec.NoSf1Oracle)
      case "@sf10" => SparkEntry.tagged(QuerySpec.Sf10Spot).toSet
      case "@sf100" => SparkEntry.tagged(QuerySpec.Sf100Spot).toSet
      case csv => csv.split(",").toSet
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json mirrors the DUMPED subset — an entry without its
    // parquet dir would read as a failure to the compare step.
    // oracleSqlFor: the PerFixture oracles inline parameters derived from
    // THIS data directory's corpus count (deterministic replay) — invoked
    // only when a PerFixture-oracle query is in the dumped
    // subset, so a subset dump against a fixture WITHOUT an embeddings
    // table neither fails nor pays the count job.
    val needsDynamic =
      only.forall(o => (o & SparkEntry.perFixtureOracles).nonEmpty)
    // a full dump against a fixture WITHOUT an embeddings table must
    // degrade to the static map (the per-query try above already skipped
    // the embedding queries), not lose the whole oracle file (ADVICE r10)
    val json = (if (needsDynamic)
                  try SparkEntry.oracleSqlFor(spark, sfDir)
                  catch { case e: Throwable =>
                    System.err.println(
                      s"[verify] dynamic oracles skipped: ${e.getMessage}")
                    SparkEntry.oracleSql
                  }
                else SparkEntry.oracleSql)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // quantitative gate for the rows-only k-means `_auto` queries
    // (VERDICT r10 #2): exact-baseline agreement/recall with floors,
    // merged into the correctness artifact by check_oracle.py. A floor
    // violation is loud here too, not just in the artifact.
    val dumpedSet = SparkEntry.queries.keySet
      .filter(name => only.forall(_.contains(name)))
    try {
      val scores = VerifyAgreement.compute(spark, sfDir, outDir, dumpedSet)
      if (scores.nonEmpty) {
        Files.writeString(Paths.get(s"$outDir/agreement.json"),
          VerifyAgreement.toJson(scores))
        scores.foreach { case (qn, ms) => ms.foreach { case (m, s) =>
          if (!s.pass)
            System.err.println(
              s"[verify] AGREEMENT FLOOR VIOLATED $qn/$m: ${s.value} < ${s.floor}")
        } }
      }
    } catch { case e: Throwable =>
      // FAIL CLOSED (ADVICE r11): an exception must not silently revert
      // the `_auto` rows to bare rows-only — write an agreement.json whose
      // pass=false record check_oracle.py counts as a gate failure. (A
      // compute() that legitimately decides the gate doesn't apply — no
      // embeddings table dumped, corpus over MaxExactN — returns empty
      // WITHOUT throwing and writes nothing; scale runs keep their
      // documented skip.)
      System.err.println(s"[verify] agreement gate failed: ${e.getMessage}")
      val targets = dumpedSet & SparkEntry.agreementGated
      if (targets.nonEmpty) {
        val err = VerifyAgreement.toJson(targets.map(_ -> Map(
          "gate_error" -> VerifyAgreement.Score(-1.0, 0.0))).toMap)
        Files.writeString(Paths.get(s"$outDir/agreement.json"), err)
      }
    }
    spark.stop()
  }
}
