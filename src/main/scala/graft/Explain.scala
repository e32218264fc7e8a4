package graft

/** Plan-inspection helper: prints the formatted physical plan of selected
  * driver queries so pushdown/broadcast/TakeOrdered regressions are visible.
  * With no names, the ExplainDefault-tagged queries.
  * Usage: runMain graft.Explain <sfDir> [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.tagged(QuerySpec.ExplainDefault)
    val spark = GraftSession.local("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
