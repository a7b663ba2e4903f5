package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters and
  * the context's listener bus and RDD cache. Spark 4 hid the classic converters behind
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

  /** Block until every event posted so far has reached its listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Free an RDD's cached blocks (non-blocking) through the context's
    * `private[spark]` unpersist — the same call `RDD.unpersist` makes,
    * minus its WARN for a locally checkpointed RDD. */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
