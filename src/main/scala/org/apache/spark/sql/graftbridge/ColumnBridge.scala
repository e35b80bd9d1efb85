package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported seam for libraries that define native Catalyst expressions
  * against Spark 4's abstracted Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully CONVERT a composed Column's node tree to catalyst
    * expressions (unresolved functions included, for the analyzer to
    * resolve) — what a SQL FunctionRegistry builder must return:
    * [[expression]]'s lazy `ColumnNodeExpression` wrapper never gets
    * converted when injected directly into an analyzer plan, and
    * codegen then dies on the wrapper.
    */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** wrap a logical plan as a DataFrame — the `private[sql]`
    * `Dataset.ofRows` seam, needed when a library rebuilds a plan node
    * (e.g. a checkpoint's `LogicalRDD` with corrected statistics) */
  def ofRows(session: org.apache.spark.sql.classic.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(session, plan)

  /** [[ofRows]] for the API-level session type the engine passes around */
  def ofPlan(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    ofRows(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** parse SQL text into an unresolved plan with the session's parser —
    * the first half of `spark.sql`, so a caller can splice its own plan
    * in for a placeholder relation before the one analysis
    */
  def parsePlan(session: org.apache.spark.sql.SparkSession, sqlText: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sqlText)

  /** drive a configured `SparkSessionExtensions`' function injections
    * into a registry — the `private[sql]` step session construction
    * performs, exposed so tests can exercise the extensions hook */
  def registerInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)
}
