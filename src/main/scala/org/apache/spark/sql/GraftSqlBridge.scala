package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions —
  * the supported extension-point pattern for libraries that define native
  * Catalyst expressions against the classic (non-Connect) API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebind a frame's logical plan to another session of the SAME
    * SparkContext (e.g. a `spark.newSession()` clone): the rebound frame
    * plans under the target session's SQLConf, so per-job conf overrides
    * stay invisible to queries planned in the source session. Cached
    * blocks still hit — the cache manager lives in the shared state. */
  def inSession(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)

  /** True when no DataFrame/Dataset cache entries are registered — the
    * no-cache-leak serving contract asserted by DedupSpec (a long-lived
    * serving session must not accumulate blocks per query). */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** A frame over rows already in Catalyst's internal form (a
    * `LocalRelation`): collecting it runs no Spark job. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The rows of a frame and the bytes [[collectInternal]] would bring to
    * the driver (each row's `UnsafeRow` size), summed on the executors: one
    * job that returns two longs per partition. */
  def collectedSize(df: DataFrame): (Long, Long) = {
    val qe = classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collectedSize")) {
      qe.executedPlan.execute().mapPartitions { it =>
        var n = 0L
        var bytes = 0L
        it.foreach { r => n += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        Iterator.single((n, bytes))
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }

  /** Collect a frame's rows in Catalyst's internal form (no conversion to
    * external `Row`s), as one tracked SQL execution like `collect()`. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collectInternal"))(qe.executedPlan.executeCollect())
  }
}
