package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between the public Column/DataFrame API and catalyst for
  * graft's custom expressions and plan nodes. Spark 4 moved Column onto
  * ColumnNode and made the Expression constructors and the
  * plan-to-DataFrame factory private[sql]; extension libraries access
  * them via a same-package shim (a widely used public pattern for
  * Spark-native extension projects).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
