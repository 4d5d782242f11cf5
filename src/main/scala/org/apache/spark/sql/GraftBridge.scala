package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: construct a DataFrame from a custom
  * LogicalPlan (Dataset.ofRows is package-private) and move between a
  * Column and its Catalyst expression (to wrap a native kernel around
  * a Column-API argument). Standard practice for Catalyst extension
  * libraries built outside the Spark tree. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
