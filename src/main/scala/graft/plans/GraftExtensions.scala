package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.FloatDotProduct

/** SparkSessionExtensions hook (SURVEY.md §4 extension points): registers
  * the engine's custom expressions as SQL functions so `spark.sql` text
  * can use them.
  *
  * Wired at session build time by [[graft.GraftSession]], or via config
  * (survives spark-submit): `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * No custom Rule[LogicalPlan] or SparkStrategy is registered — every
  * operator in this engine compiles to built-in plans (SURVEY §4's
  * conclusion); the injection seam is exercised so a future
  * whole-operator extension (e.g. a native as-of join) drops in here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.floatDotProduct)
  }
}

object GraftExtensions {

  private[plans] val floatDotProduct:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("float_dot_product"),
    new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot_product"),
    (exprs: Seq[Expression]) => FloatDotProduct(exprs(0), exprs(1)))

  /** Register on an ALREADY-RUNNING session (extensions only apply at
    * session construction). Used by tests and notebooks.
    */
  def registerOn(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.Bridge.registerFunction(
      spark, floatDotProduct._1, floatDotProduct._2, floatDotProduct._3)
}
