package graft.tools

import graft.{GraftSession, QuerySpec, SparkEntry, Tables}

/** Attribute the sf1 index-store build time per store (VERDICT r12 #6:
  * the driver's `sf1_build_sec` went 14.9 → 57.5 s across r11→r12 with a
  * ~1.5× host factor — the residual was unattributed because the bench
  * reports the build phase as one number). Replays exactly the bench's
  * store-warm loop — the index-backed members of the sf1 subset, one run
  * each — against a CLEARED store dir so every run is a build, timing and
  * labeling each query separately.
  *
  * Usage: ProfileBuild <sfDir> [--keep]
  * (clears /tmp/graft-indexes/<dirname> first unless --keep, so pass
  * --keep to time the reuse path instead). One JSON line to stdout.
  */
object ProfileBuild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keep = args.contains("--keep")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the bench's sf1 store-warm set: the index-backed Sf1Bench queries
    val buildSet = SparkEntry.registry
      .filter(q => q.tags(QuerySpec.Sf1Bench) && q.tags(QuerySpec.IndexBacked))
      .map(_.name)

    val storeRoot = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-indexes/${new java.io.File(dir).getName}")
    if (!keep && storeRoot.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(storeRoot)
      System.err.println(s"[graft] cleared $storeRoot")
    }

    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count() catch { case _: Throwable => () }
    }
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val times = buildSet.map { name =>
      val rb = graft.sources.IndexStorage.rebuilds.get()
      spark.sparkContext.setJobDescription(s"build:$name")
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, dir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[graft] build FAILED: $name: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      val rebuilt = graft.sources.IndexStorage.rebuilds.get() > rb
      (name, dt, rebuilt, ok)
    }
    val qs = times.map { case (n, t, rb, ok) =>
      s""""$n":{"sec":${fmt(t)},"rebuilt":$rb,"ok":$ok}"""
    }.mkString("{", ",", "}")
    println(s"""{"build_profile":$qs,"total":${fmt(times.map(_._2).sum)},""" +
      s""""dir":"$dir","cleared":${!keep}}""")
    spark.stop()
  }
}
