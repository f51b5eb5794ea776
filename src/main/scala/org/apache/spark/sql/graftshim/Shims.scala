package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}

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

  /** Wait until the listener bus has delivered every event posted so far
    * (the job ends of each finished action included) to every listener.
    * Spark keeps the bus's own drain package-private. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** `df`'s rows held on the driver as a `LocalRelation`, or `None` when
    * it has more than `cap` rows. One action over `df`'s own physical
    * plan, so it runs the jobs a `collect` would. Each task returns at
    * most `cap + 1` rows, and the driver keeps at most `cap + 1` in all:
    * partitions that arrive after the cap is passed are dropped. */
  def collectUpTo(df: DataFrame, cap: Int): Option[DataFrame] = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case local: LocalTableScanExec => local.executeCollect().take(cap + 1)
        case plan =>
          val rdd = plan.execute()
            .mapPartitions(_.take(cap + 1).map(_.copy()))
          val kept = new Array[Array[InternalRow]](rdd.getNumPartitions)
          var held = 0
          rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.toArray,
            (i: Int, part: Array[InternalRow]) => {
              kept(i) = part.take(cap + 1 - held)
              held += kept(i).length
            })
          kept.flatten
      }
    }
    if (rows.length > cap) None
    else Some(ofRows(df.sparkSession,
      LocalRelation(DataTypeUtils.toAttributes(df.schema), rows.toSeq)))
  }
}
