package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed-HOF reference forms of the native vector kernels
  * ([[graft.functions.DotProduct]], [[graft.functions.CosineSim]]) —
  * the specs DotProductSpec pins the kernels against bit for bit. The
  * engine calls the kernels through [[graft.functions.GraftFunctions]]:
  * these forms allocate a zip_with array per row and fold through
  * lambda-bound expressions. */
object VectorHof {

  /** Σ xᵢ·yᵢ. Inputs are cast to double; `aggregate` folds sequentially so
    * the result is bit-deterministic for a given array order. */
  def dot(x: Column, y: Column): Column =
    aggregate(
      zip_with(x.cast("array<double>"), y.cast("array<double>"), (a, b) => a * b),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(x: Column): Column =
    sqrt(aggregate(x.cast("array<double>"), lit(0.0), (acc, v) => acc + v * v))

  /** NaN (zero-vector 0/0) normalized to 0, like the fused kernel. */
  def cosine(x: Column, y: Column): Column =
    nanvl(dot(x, y) / (l2Norm(x) * l2Norm(y)), lit(0.0))
}
