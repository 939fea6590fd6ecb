package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made `Column` a ColumnNode wrapper and scoped the
  * Expression⇄Column converters `private[sql]`; this shim re-exports the
  * two converters from inside the `org.apache.spark.sql` package scope —
  * the standard extension-library technique when not going through
  * SparkSessionExtensions function registration.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Decompose a (possibly sort-ordered) Column into (value column,
    * descending?, nulls-first?). `Column.node` and the node-level
    * `internal.SortOrder` are `private[sql]` in Spark 4 (the catalyst
    * expression is built lazily at analysis, so the Expression
    * converter only yields an opaque deferred wrapper for sort
    * columns). A bare column reads as ascending nulls-first — the
    * `Column.asc` default.
    */
  def sortOrder(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (new Column(so.child),
        so.sortDirection ==
          org.apache.spark.sql.internal.SortOrder.Descending,
        so.nullOrdering ==
          org.apache.spark.sql.internal.SortOrder.NullsFirst)
    case _ => (c, false, true)
  }

  /** `CAST(d AS BIGINT)` under ANSI: CAST_OVERFLOW on NaN, ±Inf or a
    * value outside the long range (`DoubleExactNumeric` is
    * `private[sql]`).
    */
  def ansiDoubleToLong(d: Double): Long =
    org.apache.spark.sql.types.DoubleExactNumeric.toLong(d)

  /** Register a temp SQL function on an EXISTING session (the
    * config-driven `spark.sql.extensions` path only applies at session
    * construction; `sessionState` is likewise `private[sql]`).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Materialize the pre-CBO optimizer rules an extensions instance
    * would inject into a session built with it — `buildPreCBORules` is
    * `private[sql]`, and tests need to exercise the injected rule
    * against the SHARED test session (extensions only bind at session
    * construction, and the suite convention forbids building one).
    */
  def preCBORules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildPreCBORules(spark)
}
