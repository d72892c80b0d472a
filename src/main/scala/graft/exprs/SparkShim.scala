package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for the graft engine's native expressions,
  * and the listener-bus drain for its counters. Spark 4 made these
  * `private[sql]`/`private[spark]`; extension libraries bridge them from
  * inside the package (the conventional pattern for Catalyst-extension
  * projects).
  */
object GraftShim {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** EAGER Column → Expression conversion. `expression` wraps the
    * column's node in a lazy `ColumnNodeExpression` that only converts
    * through the Dataset analysis path — returned from a SQL
    * FunctionRegistry builder it reaches codegen unconverted and dies as
    * Unevaluable. This converts the node tree immediately; any nested
    * UnresolvedFunctions then resolve in the analyzer's normal passes.
    */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Block until every event posted to `sc`'s listener bus so far has
    * reached its listeners (Spark delivers them asynchronously). Throws
    * `TimeoutException` when the bus does not empty within 10 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
