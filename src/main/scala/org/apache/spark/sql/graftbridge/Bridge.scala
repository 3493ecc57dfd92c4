package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge into `private[sql]` Spark internals needed to
  * expose custom Catalyst expressions as user-facing Columns — the
  * standard extension-library technique (a sub-package of
  * org.apache.spark.sql sees `private[sql]` members). Nothing here
  * does work; it only re-exports the converters and registry hooks
  * below.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Nullability-insensitive type equality (DataType.sameType is
    * private[sql] in Spark 4) — the comparison Spark's own join
    * checks use.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
               b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** Register a table-valued function (args → LogicalPlan) — the
    * runtime twin of SparkSessionExtensions.injectTableFunction.
    */
  def registerTableFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a custom logical plan as a user-facing DataFrame (the
    * `Dataset.ofRows` hook every whole-operator extension needs).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
