package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters and the
  * session function registry. Spark 4 hid the classic converters behind
  * `private[sql]`; extension libraries conventionally reach them from a
  * subpackage of `org.apache.spark.sql` (the access scope of
  * `private[sql]`). Only this file lives in Spark's namespace; everything
  * else stays under `graft`.
  */
object GraftSqlShim {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a plain Catalyst Expression
    * (UnresolvedFunction nodes and all). Unlike [[expression]] — which
    * wraps the node in a LAZY `ColumnNodeExpression` that the analyzer
    * resolves only when it arrives through the normal Dataset path — the
    * eager form is safe to return from a function-registry builder, where
    * the analyzer substitutes the result INTO a plan mid-resolution and a
    * still-wrapped node would reach codegen unresolved (Unevaluable). */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a native expression under a SQL function name in the
    * session (usable from `expr("name(...)")` / `spark.sql`). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Block until every event posted so far has reached its listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
