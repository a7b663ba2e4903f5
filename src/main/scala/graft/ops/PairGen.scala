package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucket-local i<j pair generation — the shared quadratic step behind
  * every pair-family operator (near-dup banding, shingle intersection,
  * winnowing overlap, PMI co-occurrence, item-CF baskets, swing user
  * pairs).
  *
  * Input: a frame with a SORTED member-array column (any element type —
  * the hot-bucket cap upstream bounds its length) plus optional carry
  * columns; output: the carries plus one `p` struct column holding every
  * i<j element pair as fields `p.<a>` / `p.<b>`.
  *
  * TWO-level explode by construction: first the anchor index, then that
  * anchor's ≤|members| partners. The obvious single-level
  * `explode(flatten(transform(sequence…)))` materializes ALL
  * C(|members|, 2) pair structs in ONE row before the explode — at the
  * 10k member cap d7 carried before round 8 that is ~50 million structs (GBs) in
  * a single row, the executor OOM the round-8 100× scale run (PLANS.md
  * "Round 8: ~100x ScaleSmoke promotion") caught on `d7_dup_clusters`.
  * With the two-level form no intermediate row ever holds more than
  * |members| structs, so per-row memory stays O(cap) at any corpus
  * scale while the emitted pair set is identical (same sorted order,
  * same i<j coverage). The hot-bucket policy
  * ([[capped]] / [[members]]) lives here once for every caller. */
object PairGen {

  /** The rows of `df` whose `key` bucket holds at most `cap` rows; a
    * hot bucket is dropped WHOLE, never truncated. The exchange is
    * [[Par.byKey]], pinned at session width because AQE's byte-based
    * coalescing would put the ~|bucket|²/2 pairs downstream on one
    * core; the size is a window count (spillable, safe on any hot key);
    * work keyed the same way downstream reuses the exchange. */
  def capped(df: DataFrame, key: String, cap: Int): DataFrame =
    Par.byKey(df, col(key))
      .withColumn("__bc", count(lit(1)).over(Window.partitionBy(col(key))))
      .where(col("__bc") <= cap)
      .drop("__bc")

  /** One (`key`, `ms`) row per [[capped]] bucket, `ms` the sorted
    * `member`s — [[pairs]]' input. The cap MUST precede the collect:
    * `collect_list` cannot spill, so a hot bucket would OOM. */
  def members(df: DataFrame, key: String, member: Column,
      cap: Int): DataFrame =
    capped(df, key, cap)
      .groupBy(col(key))
      .agg(sort_array(collect_list(member)).as("ms"))

  /** Explode `ms` (a pre-sorted array column of `members`) into all i<j
    * pairs as a `p` struct with fields `a`/`b`; `carry` columns (by
    * name) ride along unchanged. Rows with fewer than 2 members emit
    * nothing.
    *
    * The anchor level is `posexplode` over the member array itself (the
    * anchor VALUE rides out of the generator — no per-pair
    * `element_at` re-read, no per-row index-`sequence` allocation); the
    * partner level explodes the plain primitive `slice` and the pair
    * struct is assembled by the FOLLOWING projection, where codegen
    * writes it straight into the output UnsafeRow. The previous form
    * exploded `transform(slice(…), struct(…))` — materializing a
    * per-anchor OBJECT array of pair structs whose garbage dominated
    * the pair stages' GC (m9's pair stage: 60.6 s task CPU with
    * 17.0 s GC; the pair multiset, order included, is identical). A
    * last-position anchor's slice is empty, so it emits nothing — no
    * explicit index filter needed. */
  def pairs(members: DataFrame, ms: String, a: String, b: String,
      carry: String*): DataFrame = {
    val keep = carry.map(col)
    members
      .where(size(col(ms)) >= 2)
      .select((keep :+ col(ms).as("__ms") :+
        posexplode(col(ms)).as(Seq("__pi", "__pa"))): _*)
      .select((keep :+ col("__pa") :+ explode(
        slice(col("__ms"), col("__pi") + 2,
          size(col("__ms")) - col("__pi") - 1)).as("__pb")): _*)
      .select((keep :+
        struct(col("__pa").as(a), col("__pb").as(b)).as("p")): _*)
  }
}
