package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Point-in-time ("as-of") operators.
  *
  * Re-expresses the reference's per-user `bisect_right(timestamps, t)` lookup
  * (reference: `api_service/behavior_lookup.py:34-41`) as a distributed plan.
  *
  * Scale design: the naive lowering is a range join (`b.ts <= q.ts`) which
  * explodes to O(|B| × |Q|) per user before the per-query max is taken. We
  * instead UNION the query rows into the behavior stream and take a running
  * window over `partitionBy(key)` — one shuffle on the user key, one sort,
  * O(|B| + |Q|) work, no explosion. When the query side is small (its
  * optimized-plan size estimate within `spark.sql.autoBroadcastJoinThreshold`,
  * Spark's own broadcast rule) and deterministic (it is evaluated twice:
  * once for its keys, once for the union), the behaviors side is first cut
  * to the queried keys by a left-semi join against the broadcast query keys,
  * so a request for 60 users shuffles and sorts their behaviors, not the
  * whole table (the reference's per-user `bisect_right` likewise reads one
  * user's list). The cut is null-safe: the window's `partitionBy(key)` puts
  * null keys in one group, so a null-key query sees the null-key behaviors
  * on either plan. Otherwise the plan is the plain union. Skewed
  * power-users are handled by AQE skew splitting on the single shuffle; at
  * 100 TB the behaviors table should additionally be bucketed + sorted
  * within partitions on (key, ts) so the window sort is a no-op merge.
  */
object AsOf {

  /** For each row of `queries`, attach `payload` of the most recent row of
    * `behaviors` with the same `key` and behavior ts <= query ts
    * (bisect_right semantics: a behavior at exactly the query ts is visible).
    *
    * Output: all columns of `queries` plus `outCol` (null when no behavior
    * precedes the query).
    */
  def lastAsOf(
      queries: DataFrame,
      behaviors: DataFrame,
      key: String,
      qTs: String,
      bTs: String,
      payload: Column,
      outCol: String,
      tieBreak: Column = lit(0L)): DataFrame =
    unionWindow(queries, behaviors, key, qTs, bTs, payload, tieBreak) {
      (unioned, w) =>
        unioned.withColumn(outCol,
          last(col("__payload"), ignoreNulls = true).over(w))
    }

  /** As-of *history*: for each query row, the list of the last `n` behavior
    * payloads at or before the query ts, oldest→newest (reference's
    * last-50 history contract, `behavior_lookup.py:34-41` +
    * `generate_training_data.py:121`).
    */
  def historyAsOf(
      queries: DataFrame,
      behaviors: DataFrame,
      key: String,
      qTs: String,
      bTs: String,
      payload: Column,
      outCol: String,
      n: Int,
      tieBreak: Column = lit(0L)): DataFrame =
    unionWindow(queries, behaviors, key, qTs, bTs, payload, tieBreak) {
      (unioned, w) =>
        // collect_list drops the nulls contributed by query rows, so the
        // running list contains exactly the preceding behaviors; slice
        // keeps the last n.
        val full = collect_list(col("__payload")).over(w)
        unioned.withColumn(outCol,
          slice(full, greatest(lit(1), size(full) - (n - 1)), lit(n)))
    }

  /** NEAREST-neighbor as-of: attach the behavior closest in time to each
    * query row, in EITHER direction — the sensor/log alignment variant
    * of [[lastAsOf]] (backward-only is wrong when the nearest reading
    * sits just ahead). Ties (equidistant) go backward; a behavior at
    * exactly the query ts is backward (distance 0, bisect_right
    * ordering). Same union + single-shuffle lowering: the backward
    * candidate is the running `last` and the forward candidate the
    * running `first` of the FOLLOWING frame — two window functions over
    * one sort, no second shuffle, no range-join explosion.
    *
    * Output: `queries` plus `outCol` = struct(ts: long, p: payload) of
    * the nearest behavior (null only when the key has no behaviors). */
  def nearestAsOf(
      queries: DataFrame,
      behaviors: DataFrame,
      key: String,
      qTs: String,
      bTs: String,
      payload: Column,
      outCol: String,
      tieBreak: Column = lit(0L)): DataFrame = {
    val pStruct = struct(col(bTs).cast("long").as("ts"), payload.as("p"))
    unionWindow(queries, behaviors, key, qTs, bTs, pStruct, tieBreak) {
      (unioned, w) =>
        val wf = Window.partitionBy(col(key))
          .orderBy(col("__ts"), col("__isq"), col("__tb"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val back = last(col("__payload"), ignoreNulls = true).over(w)
        val fwd = first(col("__payload"), ignoreNulls = true).over(wf)
        val qts = col("__ts").cast("long")
        unioned.withColumn(outCol,
          when(fwd.isNull, back)
            .when(back.isNull, fwd)
            .when(qts - back.getField("ts") <= fwd.getField("ts") - qts,
              back)
            .otherwise(fwd))
    }
  }

  /** Shared scaffolding for the union + running-window lowering: tag both
    * sides, cut the behaviors side to the queried keys when the query side
    * broadcasts (see the object doc), null-align it to the query schema,
    * order so behaviors sort before queries at equal ts (false < true ⇒
    * inclusive, bisect_right semantics), run `body` over the running
    * frame, keep only query rows. */
  private def unionWindow(
      queries: DataFrame, behaviors: DataFrame, key: String,
      qTs: String, bTs: String, payload: Column, tieBreak: Column)(
      body: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame)
      : DataFrame = {
    val qSide = queries
      .withColumn("__ts", col(qTs))
      .withColumn("__isq", lit(true))
      .withColumn("__payload", lit(null).cast(
        behaviors.select(payload.as("p")).schema("p").dataType))
      .withColumn("__tb", lit(null).cast("long"))
    val bAll = behaviors
      .select(col(key), col(bTs).as("__ts"), lit(false).as("__isq"),
        payload.as("__payload"), tieBreak.cast("long").as("__tb"))
    // the cut may keep more rows than match, never fewer: a null key joins
    // as its type's default value, so null-key behaviors reach null-key
    // queries (and the window, not the cut, tells null from the default).
    // One integral join column keeps the broadcast a LongHashedRelation;
    // `<=>` hashes (coalesce, isnull) into an UnsafeHashedRelation, which
    // takes a whole Tungsten page (16 MB at a 2 GB heap) per broadcast.
    val kType = bAll.schema(key).dataType
    def nullAsDefault(c: Column): Column =
      coalesce(c, GraftSqlShim.column(Literal.default(kType)))
    // determinism is read off the analyzed plan: the optimizer may fold
    // a rand() filter over a local relation into literal rows
    val qe = queries.queryExecution
    val qBytes = qe.optimizedPlan.stats.sizeInBytes
    val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bSide =
      if (qe.analyzed.deterministic && qBytes >= 0 && qBytes <= threshold)
        bAll.join(broadcast(queries.select(nullAsDefault(col(key)).as("__qk"))),
          nullAsDefault(col(key)) === col("__qk"), "left_semi")
      else bAll
    // align schemas: behaviors side gets null query columns
    val bAligned = queries.columns.foldLeft(bSide) { (df, c) =>
      if (c == key) df
      else df.withColumn(c, lit(null).cast(qSide.schema(c).dataType))
    }.select(qSide.columns.map(col).toSeq: _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__isq"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    body(qSide.unionByName(bAligned), w)
      .where(col("__isq"))
      .drop("__ts", "__isq", "__payload", "__tb")
  }

  /** Interval/range join: rows of `right` whose ts falls within
    * [left.ts - radius, left.ts + radius] for the same key (reference QPS
    * window simulation, `behavior_lookup.py:44-54`).
    *
    * Lowered to an *equi*-join on a bucketized ts (bucket width = radius) so
    * Spark plans a shuffled hash join instead of a broadcast-nested-loop:
    * each left row probes its own bucket and the two adjacent ones, then the
    * exact band predicate filters. |output| is the true match count, never
    * the cross product.
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      lTs: String,
      rTs: String,
      radius: Long): DataFrame = {
    // INNER only by construction: each left row is exploded into 3 bucket
    // copies before the join, so an outer join would emit null-extended
    // rows per unmatched COPY (up to 3 per left row) — wrong multiplicity.
    // For left semantics, aggregate the inner result and left-join it back
    // to `left` (see the j4 query).
    // aliased sides: selects of one frame share the key attribute, so
    // `l(key) === r(key)` would compare a column with itself
    val l = left.withColumn("__lts", numericTs(left, lTs))
      .withColumn("__bucket",
        explode(array((-1L to 1L).map(d =>
          floor(col("__lts") / radius).cast("long") + lit(d)): _*)))
      .as("__l")
    val r = right.withColumn("__rts", numericTs(right, rTs))
      .withColumn("__bucket", floor(col("__rts") / radius).cast("long"))
      .as("__r")
    val joined = l.join(r,
      col(s"__l.$key") === col(s"__r.$key") &&
        col("__l.__bucket") === col("__r.__bucket") &&
        col("__r.__rts") >= col("__l.__lts") - radius &&
        col("__r.__rts") <= col("__l.__lts") + radius,
      "inner")
    joined.drop("__bucket", "__lts", "__rts")
  }

  /** Interval × interval overlap join: pairs (a, b) sharing `keys` whose
    * [lo, hi] ranges intersect — the two-sided generalization of
    * [[rangeJoin]] (point-in-band) used for session-vs-session /
    * exposure-vs-outage alignment.
    *
    * Lowered to an equi-join on covered buckets: each interval explodes
    * into the buckets it spans, the join runs on `keys :+ bucket`, and
    * the exact overlap predicate filters. A pair overlapping across many
    * shared buckets is emitted ONCE without a distinct shuffle: the
    * overlap of a matching pair starts at max(aLo, bLo), so exactly the
    * bucket containing that point — greatest of the two lo-buckets,
    * which both sides provably cover — is kept. `bucket` should sit near
    * the median interval length: too small multiplies copies of long
    * intervals, too big fills buckets with non-overlapping candidates.
    * Interval bounds must be non-negative longs with lo ≤ hi; non-key
    * column names must be disjoint across `a` and `b` (rename before
    * calling). */
  def overlapJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      aLo: String, aHi: String, bLo: String, bHi: String,
      bucket: Long): DataFrame = {
    // exact integer bucketing (see Behavior.retention): float division
    // on epoch-µs magnitudes could round a boundary into the wrong bucket
    def bk(c: Column): Column =
      ((c - pmod(c, lit(bucket))) / lit(bucket)).cast("long")
    val ae = a.withColumn("__bk",
      explode(sequence(bk(col(aLo)), bk(col(aHi)))))
    val be = b.withColumn("__bk",
      explode(sequence(bk(col(bLo)), bk(col(bHi)))))
    ae.join(be, (keys :+ "__bk").toSeq)
      .where(col(aLo) <= col(bHi) && col(bLo) <= col(aHi) &&
        col("__bk") === greatest(bk(col(aLo)), bk(col(bLo))))
      .drop("__bk")
  }

  /** Timestamp columns → epoch micros; numeric columns pass through (the
    * events fixture carries epoch-nanos longs). */
  private def numericTs(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }
}
