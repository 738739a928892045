package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column↔Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils` is private[sql] in
  * Spark 4.x). This is the standard extension-library pattern for
  * exposing custom Catalyst expressions through the public Column API —
  * the only file that lives inside Spark's namespace, and it holds no
  * logic beyond reaching those members. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (`queryExecution` lives on the
    * classic Dataset in 4.x). */
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan (e.g. a custom node) back into a DataFrame —
    * `Dataset.ofRows` is private[sql]. */
  def dataset(spark: SparkSession,
              plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether the frame's canonical plan already has a CacheManager
    * entry (its own persist, or a cached twin from another query) —
    * the pre-persist check that stops double-persisting a plan the
    * cache already serves. */
  def isCached(df: Dataset[_]): Boolean = {
    val cds = df.asInstanceOf[classic.Dataset[_]]
    cds.sparkSession.sharedState.cacheManager.lookupCachedData(cds).isDefined
  }

  /** The physical RDD of a DataFrame (`queryExecution.toRdd` lives on
    * the classic Dataset in 4.x) — the reusable-kernel entry point for
    * driver loops that re-execute a FIXED plan shape many times. */
  def internalRdd(df: Dataset[_])
      : org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** A task's input metrics for a file read outside `DataSourceRDD`,
    * kept as that RDD keeps them (`incRecordsRead`/`setBytesRead` and
    * Hadoop's per-thread byte counters are private[spark]): one record
    * per row, and the bytes this thread has read through Hadoop
    * `FileSystem`s since the tracker was made, folded in every
    * `UPDATE_INPUT_METRICS_INTERVAL_RECORDS` records and at [[done]]. */
  final class ScanMetrics(ctx: TaskContext) {
    private val in = ctx.taskMetrics().inputMetrics
    private val before = in.bytesRead
    private val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()

    def record(): Unit = {
      in.incRecordsRead(1L)
      if (in.recordsRead % SparkHadoopUtil.UPDATE_INPUT_METRICS_INTERVAL_RECORDS == 0) done()
    }

    def done(): Unit = in.setBytesRead(before + bytesRead())
  }

  /** Stable per-session identifier (`sessionUUID` is private[sql] on
    * the classic session) — memo keys must never collide across live
    * sessions, which `System.identityHashCode` cannot guarantee. */
  def sessionUUID(spark: SparkSession): String = spark match {
    case cs: classic.SparkSession => cs.sessionUUID
    case other => System.identityHashCode(other).toString
  }
}
