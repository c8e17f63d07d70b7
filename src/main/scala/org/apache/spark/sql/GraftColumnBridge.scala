package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * custom Catalyst expressions (e.g. KmerGenerator) can surface as public
  * `Column`s — the standard pattern for libraries extending Spark SQL with
  * native expressions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — how graft surfaces whole custom operators (e.g.
    * the native as-of join, plans.AsOfJoinPlan) through the public API. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` over its own executed RDD: `queryExecution.toRdd` runs `df`'s
    * shuffle stages now (adaptive execution materializes them before it
    * returns the final stage's RDD), and the result is a scan of that RDD.
    * Every later action on the result, and on frames built over it, reads
    * those stages' shuffle output instead of planning `df` again from its
    * sources. No cache: the final stage itself runs once per action. The
    * scan keeps `df`'s column names and statistics under fresh attribute
    * ids, as `Dataset.checkpoint` does; it claims no partitioning, since an
    * adaptive plan reports none. */
  def executed(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false).newInstance())
  }

  /** Runs `body` on a daemon thread with the calling thread's session and
    * local properties (job group, description), as Spark starts a
    * broadcast: a driver overlaps an independent action with its own, and
    * the jobs of both carry the caller's job group. */
  def async[T](spark: SparkSession)(body: => T): java.util.concurrent.Future[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], asyncPool)(body)

  private lazy val asyncPool =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-async")
}
