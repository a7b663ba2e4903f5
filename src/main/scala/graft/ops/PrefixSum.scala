package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sum (parallel scan): the one place the engine
  * lowers a running total in global order. A naive
  * `sum().over(Window.orderBy(...))` funnels the whole table through one
  * partition; [[exclusive]] runs the two-level scan of Blelloch, "Prefix
  * Sums and Their Applications" (1990):
  *
  *  1. range-repartition + local sort on the order (ascending ranges
  *     land in ascending partition ids, preserving global order);
  *  2. local running sums per partition (parallel);
  *  3. per-partition totals → offsets (≤ numPartitions rows — the only
  *     single-partition step is bounded by cluster width, not data);
  *  4. broadcast offsets back and add.
  *
  * [[ranges]], [[denseIds]] and the AUC/AP/KS scans of `evalx.Metrics`
  * bind onto it.
  */
object PrefixSum {

  /** Adds one column per `(name, value)` in `sums`: the total of `value`
    * over all rows BEFORE this one in `order` (a caller that wants the
    * inclusive sum adds `value` back), summed in the value's own type.
    * `order` must be a UNIQUE key — rows tying on it get an arbitrary
    * local order, so their sums could differ across runs; append a
    * tiebreaker (e.g. the row id) if yours isn't. `numPartitions` > 0
    * fixes the range-partition count. */
  def exclusive(df: DataFrame, order: Seq[Column], sums: Seq[(String, Column)],
      numPartitions: Int = 0): DataFrame = {
    val part = (if (numPartitions > 0)
        df.repartitionByRange(numPartitions, order: _*)
      else df.repartitionByRange(order: _*))
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
    val ids = sums.indices
    val totals = ids.map(i => sum(sums(i)._2).as(s"__t$i"))
    val offW = Window.orderBy(col("__pid")) // ≤ numPartitions rows
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = part.groupBy(col("__pid")).agg(totals.head, totals.tail: _*)
      .select(col("__pid") +: ids.map(i =>
        coalesce(sum(col(s"__t$i")).over(offW), lit(0)).as(s"__o$i")): _*)
    val localW = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = part.select(col("*") +: ids.map(i =>
      coalesce(sum(sums(i)._2).over(localW), lit(0)).as(s"__l$i")): _*)
      .join(broadcast(offsets), Seq("__pid"))
    ids.foldLeft(local)((d, i) =>
        d.withColumn(sums(i)._1, col(s"__o$i") + col(s"__l$i")))
      .drop("__pid" +: ids.flatMap(i => Seq(s"__o$i", s"__l$i")): _*)
  }

  /** Adds `loCol` (total of `value` over all earlier rows) and `hiCol`
    * (= lo + value) in ascending unique `order` — the cumulative range a
    * multinomial sampler draws into ([[Sampling.weightedNegatives]]).
    * `value` must be non-negative and integral (long ranges stay exact). */
  def ranges(df: DataFrame, order: Seq[String], value: Column,
      loCol: String, hiCol: String, numPartitions: Int = 0): DataFrame =
    exclusive(df, order.map(col), Seq(loCol -> value.cast("long")), numPartitions)
      .withColumn(hiCol, col(loCol) + value.cast("long"))

  /** J2: id → dense-index dictionary (deterministic StringIndexer):
    * `(key, idxCol)`, 0-based in ascending key order — the prefix count
    * over the distinct keys (reference `lightgcn/utils.py:56-66` builds
    * the same dict from sorted unique ids). */
  def denseIds(df: DataFrame, key: String, idxCol: String,
      numPartitions: Int = 0): DataFrame =
    exclusive(df.select(col(key)).distinct(), Seq(col(key)),
      Seq(idxCol -> lit(1L)), numPartitions)
}
