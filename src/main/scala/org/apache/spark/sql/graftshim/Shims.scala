package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Expression<->Column and
  * LogicalPlan<->DataFrame converters — the standard extension-point shim
  * for libraries shipping native Catalyst expressions/plans outside the
  * Spark source tree. */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to its catalyst Expression. Unlike
    * [[expression]] (which wraps the column node lazily and only converts
    * during analysis), the result is a plain serializable catalyst tree —
    * required when the expression is embedded in a custom LogicalPlan
    * whose physical operator ships it to executors. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
