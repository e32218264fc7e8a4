package graft

/** One-step-beyond-local[32] evidence (VERDICT r9 #8): time the sf1
  * headline subset under BOTH `local[N]` (threads in one JVM — no
  * serialization across tasks, shuffle via memory/disk shortcuts) and
  * `local-cluster[workers,cores,memMB]` (real executor PROCESSES from the
  * standalone mini-cluster: closures and shuffle blocks actually
  * serialize, transfers cross process boundaries, and a task that
  * accidentally captures driver-only state fails instead of silently
  * working). Equal total cores/memory keeps the comparison about the
  * EXECUTION BOUNDARY, not resources.
  *
  * This is the closest approximation to multi-executor semantics that
  * exists without real infra; divergences beyond serialization overhead
  * (a query that errors only here, or blows far past the local ratio)
  * are exactly the class of bug local[N] cannot see.
  *
  * Times the Sf1Bench-tagged queries (Bench's sf1 section).
  *
  * Usage: BenchCluster <sfDir> [outFile]
  * Env: SPARK_GRAFT_CLUSTER (default "local-cluster[2,16,8192]"),
  *      SPARK_GRAFT_LOCAL (default "local[32]"),
  *      SPARK_GRAFT_RUNS (default 2), SPARK_GRAFT_ONLY (subset override).
  * Requires SPARK_HOME (executor launch) — the run script exports it.
  */
object BenchCluster {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args.lift(1)
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val subset = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq).getOrElse(SparkEntry.tagged(QuerySpec.Sf1Bench))
      .filter(SparkEntry.queries.contains)
    val indexBacked = SparkEntry.tagged(QuerySpec.IndexBacked).toSet
    val masters = Seq(
      "local" -> sys.env.getOrElse("SPARK_GRAFT_LOCAL", "local[32]"),
      "cluster" -> sys.env.getOrElse("SPARK_GRAFT_CLUSTER", "local-cluster[2,16,8192]"))

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    // The two masters need SEPARATE SparkContexts — run them sequentially,
    // stopping each before the next (one JVM, one live context at a time).
    val sections = masters.map { case (label, master) =>
      val b = GraftSession.builder(master, shufflePartitions = "32")
      // executor processes need the application classes (operators,
      // custom expressions, lambdas run in tasks) — sbt's class dirs
      if (master.startsWith("local-cluster")) {
        val appCp = Seq(
          "target/scala-2.13/classes",
          sys.props.getOrElse("user.dir", ".") + "/target/scala-2.13/classes")
          .map(new java.io.File(_)).filter(_.isDirectory)
          .map(_.getAbsolutePath).distinct.mkString(":")
        b.config("spark.executor.extraClassPath", appCp)
          .config("spark.executor.memory", "6g")
      }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        Tables.names.foreach { n =>
          try Tables.load(spark, sfDir, n).count() catch { case _: Throwable => () }
        }
        locally { // ICU init (see Bench)
          import org.apache.spark.sql.functions.{upper, col, concat, lit}
          spark.range(1)
            .select(upper(concat(lit("首尔 İI"), col("id").cast("string"))))
            .collect()
        }
        subset.filter(indexBacked).foreach { n =>
          try SparkEntry.queries(n)(spark, sfDir).count()
          catch { case _: Throwable => () }
        }
        val rows = subset.map { name =>
          val times = (1 to runs).map { i =>
            System.gc()
            spark.catalog.clearCache()
            System.err.println(s"[graft] cluster bench [$label] $name run $i/$runs")
            val t0 = System.nanoTime()
            val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[graft] cluster bench FAILED [$label] $name: ${e.getMessage}")
              false
            }
            ((System.nanoTime() - t0) / 1e9, ok)
          }
          (name, times.collect { case (t, true) => t }.minOption)
        }
        (label, master, rows)
      } finally spark.stop()
    }

    val Seq((_, mLocal, local), (_, mCluster, cluster)) = sections
    val localMap = local.toMap
    val perQuery = cluster.map { case (n, ct) =>
      val lt = localMap.getOrElse(n, None)
      val ratio = for { c <- ct; l <- lt if l > 0 } yield c / l
      s""""$n":{"local_sec":${lt.map(fmt).getOrElse("null")},""" +
        s""""cluster_sec":${ct.map(fmt).getOrElse("null")},""" +
        s""""ratio":${ratio.map(fmt).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    val failed = (cluster.collect { case (n, None) => n } ++
      local.collect { case (n, None) => n }).distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"local_vs_local_cluster","sf":"${new java.io.File(sfDir).getName}",""" +
        s""""stat":"min_of_$runs","local":"$mLocal","cluster":"$mCluster",""" +
        s""""total_local":${fmt(local.flatMap(_._2).sum)},""" +
        s""""total_cluster":${fmt(cluster.flatMap(_._2).sum)},""" +
        s""""failed":$failed,"queries":$perQuery}"""
    println(json)
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), json.getBytes("UTF-8"))
    }
  }
}
