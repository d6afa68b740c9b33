package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made Column <-> Expression conversion private[sql]
  * (classic.ExpressionUtils). Custom-expression libraries bridge it from
  * inside the package — the same approach third-party Spark extensions use. */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (classic.Dataset.ofRows is
    * private[sql]) — entry point for library-defined logical operators. */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Waits until every queued listener event has been delivered (the bus
    * is private[spark]), so a QueryExecutionListener has seen every
    * execution of a finished action. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
