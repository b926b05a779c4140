package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge to the classic Column ↔ Expression converters, which
  * are private[sql] in Spark 4 — the standard extension-library shim
  * (one object, no behavior) that lets engine code construct Columns
  * from custom Catalyst expressions.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the classic
    * `Dataset.ofRows`, needed to hand custom logical nodes (e.g.
    * [[graft.plans.AsOfJoin]]) back to the public Dataset API.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently register a planner strategy on a live session —
    * covers sessions not built through `GraftSession` (whose
    * `spark.sql.extensions` config already injects graft strategies).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Same, for custom optimizer rules (e.g. graft's pushdown-restoring
    * rules around custom logical nodes).
    */
  def ensureOptimizerRule(spark: SparkSession, r: Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }

  /** Runtime SQL-function registration on a live session (the
    * counterpart of `SparkSessionExtensions.injectFunction` for
    * sessions built without graft's extensions). registerFunction
    * replaces an existing entry, so re-registration is idempotent.
    */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}
