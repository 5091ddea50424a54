package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters (the
  * Spark 4 sql-api refactor removed the public `new Column(expr)` path).
  * Lives under the org.apache.spark.sql package namespace solely to satisfy
  * the package-private access — the standard pattern for Catalyst
  * extensions built against the public Spark jars. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `s` with every field (nested ones too) nullable — how a file scan
    * types the schema it reads. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Register a temp scalar function backed by a raw Expression builder. */
  def registerTempFunction(spark: SparkSession, name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
