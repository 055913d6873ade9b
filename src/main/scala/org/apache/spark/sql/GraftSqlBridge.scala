package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column ↔ Expression converters — the
  * standard pattern for libraries that ship native Catalyst expressions
  * against Spark 4 (Column no longer wraps Expression directly) — and
  * to the DataFrame ↔ LogicalPlan pair of the classic Dataset, for
  * graft's own logical nodes, and to the ANSI cast's overflow check.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** ANSI double → bigint cast: throws `[CAST_OVERFLOW]` for NaN, ±Inf
    * and values outside the Long range, as `Cast` does. */
  def doubleToLongExact(d: Double): Long = types.DoubleExactNumeric.toLong(d)
}
