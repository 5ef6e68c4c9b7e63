package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode Column <-> Expression bridge.
  *
  * Spark 4's Connect refactor made the Column/Expression conversion
  * utilities `private[sql]`; a library shipping custom Catalyst
  * expressions needs exactly these two calls, so this object lives in an
  * `org.apache.spark.sql` subpackage to reach them (the established
  * pattern for Spark-native extension libraries).
  *
  * VERSION PIN: compiled against Spark 4.1's
  * `org.apache.spark.sql.classic.ExpressionUtils`. This is a private API
  * with no compatibility guarantee — a Spark minor bump that moves or
  * renames it must fail at BUILD time, not at runtime; ExtensionsSpec
  * ("graftbridge reaches Spark's private Column<->Expression seam")
  * exercises the round-trip so the dependency is also covered by `sbt
  * test`. If it breaks: the Connect-era replacement is
  * `Column(ExpressionColumnNode(e))` / pattern-matching the column node —
  * re-point these two methods only, callers are insulated.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on a live session's registry (the
    * SparkSessionExtensions path only applies at construction time).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)

  /** A DataFrame over a logical plan built from other frames' analyzed
    * plans (`Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
