package graft

import org.apache.spark.sql.SparkSession

/** The one place the project's mains configure a SparkSession. Returns the
  * builder, so a caller can add its own settings before `getOrCreate()`. */
object GraftSession {

  /** A `local[cpus]` master with one shuffle partition per core. */
  def local(cpus: String): SparkSession.Builder =
    builder(s"local[$cpus]", shufflePartitions = cpus)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      // Tables.load's NTZ→instant ts normalization is timezone-dependent
      // and must always run in UTC (explicit, not inherited from javaOptions)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // direct task commits: halves the per-directory rename cost of
      // partitionBy index materialization (local FS, no job-abort risk)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
}
