package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 moved the Column <-> Expression bridge behind `private[sql]`
  * (Spark Connect split). Extensions that define custom Catalyst expressions
  * need this tiny in-package shim to expose Columns over them — same pattern
  * as other Spark extension libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Same shim one layer up: building a DataFrame over a CUSTOM LogicalPlan
  * (`Dataset.ofRows`) is `private[sql]`/classic-only in Spark 4 — the
  * whole-operator extension tier (custom LogicalPlan + SparkStrategy +
  * SparkPlan, see [[graft.plans.AsofJoinNode]]) needs it.
  */
object GraftPlanBridge {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
