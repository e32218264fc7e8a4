package graft

/** Scale-decade spot sweep: time a shuffle-heavy query subset on a BASE
  * corpus and on a SCALED corpus (GenScale outputs, e.g. sf1 → sf10) in one
  * JVM, min-of-N each, and report per-query ratios against the data growth
  * factor. The recorded artifact (BENCH_sf10.json) is the second measured
  * decade behind the "scales linearly" claims — the first (sf0.1 → sf1)
  * lives in Bench's `sf1` section.
  *
  * Usage: BenchScale <baseDir> <scaledDir> [factor=10] [outFile]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SCALE_RUNS (default 2),
  *      SPARK_GRAFT_SCALE_ONLY (comma-separated subset override).
  *
  * Failure discipline matches Bench's sf1 section: per-run success is
  * tracked, a query whose every run throws reports `"sec":null` plus a
  * `failed` list entry — a crashed sweep must never look complete.
  */
object BenchScale {

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaledDir = args(1)
    val factor = args.lift(2).map(_.toDouble).getOrElse(10.0)
    val outFile = args.lift(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    val subset = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSeq).getOrElse(SparkEntry.tagged(QuerySpec.ScaleSweep))
      .filter(SparkEntry.queries.contains)
    val indexBacked = SparkEntry.tagged(QuerySpec.IndexBacked).toSet
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def fmt(dec: Int)(d: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(d))

    // same discipline as Bench: warm table scans + ICU init + index stores
    // per corpus so timed runs measure steady-state probe/compute cost
    def warm(dir: String): Double = {
      Tables.names.foreach { n =>
        try Tables.load(spark, dir, n).count() catch { case _: Throwable => () }
      }
      locally {
        import org.apache.spark.sql.functions.{upper, col, concat, lit}
        spark.range(1)
          .select(upper(concat(lit("首尔 İI"), col("id").cast("string"))))
          .collect()
      }
      val t0 = System.nanoTime()
      subset.filter(indexBacked).foreach { n =>
        try SparkEntry.queries(n)(spark, dir).count() catch { case _: Throwable => () }
      }
      (System.nanoTime() - t0) / 1e9
    }

    def sweep(dir: String): Seq[(String, Option[Double])] = subset.map { name =>
      val times = (1 to runs).map { i =>
        System.gc()
        spark.catalog.clearCache()
        System.err.println(s"[graft] scale bench [$dir] $name run $i/$runs")
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[graft] scale bench FAILED: $name: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (name, times.collect { case (t, true) => t }.minOption)
    }

    val baseBuild = warm(baseDir)
    val base = sweep(baseDir).toMap
    val scaledBuild = warm(scaledDir)
    val scaled = sweep(scaledDir)

    val perQuery = scaled.map { case (n, ts) =>
      val ratio = for { t <- ts; b <- base.getOrElse(n, None) if b > 0 } yield t / b
      s""""$n":{"base_sec":${base.getOrElse(n, None).map(fmt(2)).getOrElse("null")},""" +
        s""""scaled_sec":${ts.map(fmt(2)).getOrElse("null")},""" +
        s""""ratio":${ratio.map(fmt(1)).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    val failed = (scaled.collect { case (n, None) => n } ++
      base.collect { case (n, None) => n }).distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val over = scaled.flatMap { case (n, ts) =>
      for { t <- ts; b <- base.getOrElse(n, None) if b > 0 && t / b > factor }
        yield "\"" + n + "\":" + fmt(1)(t / b)
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"scale_ratio","factor":${fmt(1)(factor)},"stat":"min_of_$runs",""" +
        s""""base":"${new java.io.File(baseDir).getName}",""" +
        s""""scaled":"${new java.io.File(scaledDir).getName}",""" +
        s""""build_sec":{"base":${fmt(1)(baseBuild)},"scaled":${fmt(1)(scaledBuild)}},""" +
        s""""failed":$failed,"over_factor":$over,"queries":$perQuery}"""
    println(json)
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
