package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` / `col.expr` bridge (Column
  * is ColumnNode-backed in sql-api). This shim re-exposes the classic
  * converters for graft's custom Catalyst expressions; it lives in the
  * `org.apache.spark.sql` package purely to satisfy `private[sql]`
  * access and holds no logic of its own.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed LogicalPlan (classic
    * `Dataset.ofRows`) — the SQL-DML command path turns captured child
    * plans back into DataFrames with this.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the listener bus (private[spark]) — lets tests assert
    * job-count properties deterministically instead of sleeping.
    */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A copy of the calling thread's Spark local properties (job group,
    * job description, SQL execution id), and the runner that installs
    * such a copy around `body` on another thread: what
    * `SQLExecution.withThreadLocalCaptured` does for Spark's own pools.
    */
  def localProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  def withLocalProperties[A](sc: org.apache.spark.SparkContext,
                             props: java.util.Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }

  /** isStreaming-tagged frame over raw internal rows — what a v1
    * streaming Source's getBatch must hand the micro-batch engine.
    */
  def streamingDataFrame(spark: SparkSession,
                         rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)
}
