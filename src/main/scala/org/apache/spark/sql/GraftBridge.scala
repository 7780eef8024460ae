package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Spark 4 made direct
  * Column<->Expression conversion internal (`classic.ExpressionUtils`);
  * third-party native expressions still need it. This file lives in the
  * `org.apache.spark.sql` package solely to re-export those two calls —
  * the standard extension-library pattern. */
object GraftBridge {
  /** Block until the listener bus has delivered every event posted so
    * far (`waitUntilEmpty` is `private[spark]`), so a listener's counts
    * cover everything that ran before the call. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A one-row/one-column DataFrame as a SCALAR SUBQUERY expression — the
    * injection shape `might_contain` requires for its bloom argument (a
    * plain column from a join is rejected at analysis; Spark's own
    * runtime-filter rewrite injects the aggregate exactly this way). The
    * subquery plan executes once and its value reaches every task like a
    * broadcast scalar. */
  def scalarSubquery(df: Dataset[Row]): Column =
    column(catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed))

  /** A DataFrame over a custom logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the construction path for third-party operators
    * like graft's native as-of join. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply a `SparkSessionExtensions`' injected functions to a registry —
    * `registerFunctions` is `private[sql]`; exposed so the GraftExtensions
    * injection path is testable without tearing down the shared session. */
  def applyInjectedFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : Unit = ext.registerFunctions(registry)

  /** The optimizer rules a `SparkSessionExtensions` would install on a
    * session (`buildOptimizerRules` is `private[sql]`) — exposed so the
    * extension-injection path (as-of pushdown + MV rewrite) is testable
    * without building a second session. */
  def injectedOptimizerRules(
      ext: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
