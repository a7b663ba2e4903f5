package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise vector-sum aggregate: `vec_sum(array<double>) →
  * array<double>`, the reduction half of a vector-row SpMM
  * (`x'(dst) = Σ w·x(src)` with whole embedding rows as shuffle units).
  *
  * A typed [[Aggregator]] rather than a higher-order-function fold
  * because Spark has no built-in element-wise array-sum *aggregate*:
  * the HOF route needs `collect_list` (non-spillable, whole group in
  * one buffer) while this keeps exactly one running array per key,
  * participates in partial (map-side) aggregation, and falls back to
  * sort-based spilling under memory pressure — the properties that
  * matter when one hub node has millions of in-edges at 100 TB.
  *
  * Dimension is taken from the first non-empty input; mismatched widths
  * throw (corrupt input is a bug upstream, not something to mask).
  * Deterministic only up to float-add reorder: partial aggregation sums
  * in shuffle order, so results can differ in the last ulp across runs —
  * callers that need bit-stable output (the oracle-checked queries)
  * round before comparing.
  */
object VecSumAgg {

  private val agg: Aggregator[Seq[Double], Array[Double], Seq[Double]] =
    new Aggregator[Seq[Double], Array[Double], Seq[Double]] {
      def zero: Array[Double] = Array.emptyDoubleArray

      private def addInto(b: Array[Double], x: Seq[Double]): Array[Double] =
        if (x == null || x.isEmpty) b
        else if (b.isEmpty) x.toArray
        else {
          require(b.length == x.length,
            s"vec_sum: width mismatch ${b.length} vs ${x.length}")
          var i = 0
          while (i < b.length) { b(i) += x(i); i += 1 }
          b
        }

      def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = addInto(b, a)
      def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
        addInto(b1, b2.toSeq)
      def finish(r: Array[Double]): Seq[Double] = r.toSeq
      def bufferEncoder: ExpressionEncoder[Array[Double]] =
        ExpressionEncoder[Array[Double]]()
      def outputEncoder: ExpressionEncoder[Seq[Double]] =
        ExpressionEncoder[Seq[Double]]()
    }

  /** `vec_sum(v)` column; input cast to `array<double>` by the caller. */
  def vecSum(v: Column): Column =
    udaf(agg, ExpressionEncoder[Seq[Double]]()).apply(v)
}
