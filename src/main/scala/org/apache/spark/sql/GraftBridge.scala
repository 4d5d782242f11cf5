package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: construct a DataFrame from a custom
  * LogicalPlan (Dataset.ofRows is package-private), move between a
  * Column and its Catalyst expression (to wrap a native kernel around
  * a Column-API argument) and compare types ignoring nullability (to
  * check a parquet footer against a declared schema). Standard
  * practice for Catalyst extension libraries built outside the Spark
  * tree. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Converted at once rather than wrapped for the analyzer, so the
    * result can also be what a SQL function builder returns. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Type equality that ignores nullability, at every nesting level. */
  def sameType(a: types.DataType, b: types.DataType): Boolean =
    types.DataType.equalsIgnoreNullability(a, b)
}
