package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Physical layout for index tables (SURVEY §4 O2 — partition pruning).
  *
  * The reference's "local index" (one sub-index per partition-key value,
  * table/mod.rs:97-114) and our LSH buckets (ApproxAnn) both map to
  * directory-partitioned parquet: `partitionBy(col)` at write time turns a
  * partition-key Eq / bucket probe into a file-source `PartitionFilters`
  * prune — only matching directories are listed and scanned, which is the
  * 1000-executor analogue of "resolve the sub-index".
  */
object IndexStorage {

  /** Write an index table partitioned by pruning columns.
    *
    * Shuffles on the partition columns first so each output directory is
    * written by one task — without it every task writes a sliver of every
    * bucket (tasks × buckets small files; measured 10× write cost at 256
    * buckets, and a metadata bomb at 100 TB). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val clustered =
      if (partitionCols.isEmpty) df else df.repartition(partitionCols.map(col): _*)
    clustered.write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Build-once materialization: (re)build the store at `path` only when it
    * was not built from the CURRENT base fixture (size+mtime fingerprint of
    * `baseFile`, kept in an underscore marker the parquet reader ignores).
    * This is the reference's index lifecycle — build at ingest, serve many
    * queries — so benchmarked probe cost is probe cost, not build cost. */
  def materializeCached(
      spark: SparkSession, baseFile: String, path: String,
      partitionCols: Seq[String])(build: => DataFrame): DataFrame = {
    buildOnce(baseFile, path)(writePartitioned(build, path, partitionCols))
    read(spark, path)
  }

  /** The build-once skeleton [[materializeCached]] wraps: run `doBuild`
    * only when `path` was not built from the CURRENT `baseFile` vintage
    * (size+mtime fingerprint marker), count and log rebuild-vs-reuse.
    * Format-agnostic — the JSONL store reuses it with a json writer.
    *
    * Fingerprint and marker I/O go through Hadoop FS like the sibling
    * [[hasData]]/[[listDirs]]/[[deleteRecursive]] helpers: on an HDFS/S3
    * store path a `java.io.File` probe silently answers false, which
    * would rebuild the store on EVERY run — the exact bug this method
    * exists to prevent. The Hadoop conf comes from the active session
    * (every caller runs inside one); a bare Configuration covers the
    * no-session edge so the method stays callable from plain JVM code. */
  def buildOnce(baseFile: String, path: String)(doBuild: => Unit): Unit = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val basePath = new org.apache.hadoop.fs.Path(baseFile)
    val baseFs = basePath.getFileSystem(conf)
    val fp =
      if (baseFs.exists(basePath)) {
        val st = baseFs.getFileStatus(basePath)
        s"${st.getLen}:${st.getModificationTime}"
      } else "absent"
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_base_fingerprint")
    val markerFs = marker.getFileSystem(conf)
    val fresh = markerFs.exists(marker) && {
      val in = markerFs.open(marker)
      try new String(in.readAllBytes(), "UTF-8") == fp
      finally in.close()
    }
    if (!fresh) {
      doBuild
      val out = markerFs.create(marker, true)
      try out.write(fp.getBytes("UTF-8"))
      finally out.close()
      rebuilds.incrementAndGet()
    }
    // stderr so harnesses parsing stdout JSON are unaffected; lets a bench
    // run prove whether probe timings included a build
    System.err.println(
      s"[graft] index store ${if (fresh) "reused" else "rebuilt"}: $path")
  }

  /** Monotonic count of store (re)builds this JVM — lets a bench run prove
    * per-query whether a timing included a build instead of eyeballing the
    * stderr markers. */
  val rebuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** True when the store path holds at least one parquet data file. A store
    * whose every row was deleted keeps its directory (markers/_SUCCESS) but
    * no part-files — `spark.read.parquet` on it fails schema inference, so
    * readers that survive a delete-everything epoch must probe THIS, not
    * bare directory existence. Hadoop-FS, so the probe answers correctly on
    * HDFS/S3 where `java.io.File` silently answers false. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Immediate child directory names of a store path (empty when absent) —
    * Hadoop-FS so segment listings work on HDFS/S3 like every other store
    * operation here. */
  def listDirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Hadoop-FS recursive delete (no-op when absent) — same rationale as
    * [[hasData]]: segment-directory cleanup must work on HDFS/S3, not only on
    * the local filesystem. */
  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** True when the physical plan prunes partitions for the given scan —
    * test/diagnostic hook: a probe query whose plan does NOT show partition
    * filters is reading the whole index. */
  def prunesPartitions(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString()
    plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []")
  }
}
