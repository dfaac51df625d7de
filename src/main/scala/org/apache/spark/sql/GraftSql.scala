package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark surface, kept to the absolute minimum:
  * wrapping a custom Catalyst [[Expression]] into a user-facing [[Column]]
  * (the Spark 4.x `Column` carries a `ColumnNode`, not an `Expression`, so
  * third-party expressions need this one hop) and registering SQL function
  * builders on an already-built session; and draining the listener bus, so
  * a profiler reads every stage and progress event of the job it timed.
  */
object GraftSql {
  /** Wrap a raw Catalyst expression as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column (classic sessions). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL-callable function builder on a live session, so
    * `expr("cosine_sim(a, b)")` and `spark.sql` can use custom expressions.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Block until every posted listener event has been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
