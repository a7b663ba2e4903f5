package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.storage.StorageLevel

/** Round-boundary materialization for iterative (fixpoint) dataframe
  * algorithms: k-core peeling, connected components, label propagation,
  * PageRank, HITS, k-hop reach, greedy MMR, BPE merge rounds — each one
  * binds onto [[rounds]], the one owner of the round policy.
  *
  * WHY NOT plain `persist()` per round: a persisted frame shortcuts
  * EXECUTION, but the Catalyst plan of round N still nests round N-1's
  * entire tree inside its `InMemoryRelation` (and so on, recursively).
  * Two costs then grow with the round count even though no extra data
  * is computed:
  *
  *  - AQE posts a `SparkListenerSQLAdaptiveExecutionUpdate` carrying a
  *    freshly rendered `explainString` of the WHOLE plan on every query
  *    stage materialization — even with the UI disabled. With nested
  *    cached plans this rendering is super-linear in rounds; profiled
  *    on the k-core bench query, the driver spent 150 s of a 167 s run
  *    inside `generateTreeString` (a second invocation in the same JVM
  *    reached 177 s cold, because of the next bullet).
  *  - every new `persist()` adds a CacheManager entry, and every
  *    subsequent plan is matched against ALL entries by canonicalized
  *    subtree comparison — O(entries × plan size) at plan time.
  *
  * `snapshot` cuts both: `localCheckpoint(eager = true)` materializes
  * the frame ONCE and replaces its plan with a `LogicalRDD` leaf, so
  * every later round plans against a constant-size tree and the
  * CacheManager never sees it. `release` frees a snapshot's blocks
  * deterministically (the ContextCleaner would eventually reclaim them
  * after GC, but a deep loop must not rely on GC timing for its memory
  * bound). A [[pin]] is a CacheManager entry the ContextCleaner never
  * reclaims: [[rounds]] unpins on return or throw (releasing the live
  * snapshot on a throw).
  *
  * CLUSTER CAVEAT: local checkpointing truncates lineage, so on a
  * multi-executor cluster a lost executor makes the snapshot's blocks
  * unrecoverable (no recompute path). For long-running production
  * fixpoints prefer `SparkContext.setCheckpointDir` + reliable
  * `checkpoint()` at the same call sites; the plan-size pathology cured
  * here exists there identically. On the bench topology (single-JVM
  * local mode) local checkpoints are exactly as durable as cache.
  */
object Iterate {

  /** Fold `step` over one frame for ≤ `n` rounds (`None` stops early),
    * [[snapshot]]ting round `i` when `every` divides `i` or `i == n`
    * (`snapInit`: `init` too). Returns the final frame and rounds run. */
  private[graft] def rounds(init: DataFrame, n: Int, every: Int = 1,
      snapInit: Boolean = false, pins: Seq[DataFrame] = Nil)(
      step: (DataFrame, Int) => Option[DataFrame]): (DataFrame, Int) = {
    var live: Option[DataFrame] = None
    def snap(df: DataFrame): DataFrame = {
      val s = snapshot(df)
      live.foreach(release)
      live = Some(s)
      s
    }
    def go(cur: DataFrame, i: Int): (DataFrame, Int) =
      if (i >= n) (cur, i)
      else step(cur, i + 1) match {
        case None => (cur, i)
        case Some(next) => go(
          if ((i + 1) % every == 0 || i + 1 == n) snap(next) else next, i + 1)
      }
    try go(if (snapInit) snap(init) else init, 0)
    catch { case e: Throwable => live.foreach(release); throw e }
    finally pins.foreach(unpin)
  }

  /** Materialize `df` (one job) and return a frame backed by the stored
    * partitions whose plan is a single `LogicalRDD` leaf. Use at every
    * round boundary of an iterative algorithm; pair with [[release]] on
    * the PREVIOUS round's snapshot once the new one is materialized.
    *
    * Stored SERIALIZED (`MEMORY_AND_DISK_SER`), not at localCheckpoint's
    * deserialized default: a snapshot is written once and scanned linearly
    * once per round, so the serde cost is trivial next to the join/agg work
    * per round, while the footprint difference is the whole ballgame for
    * big edge snapshots — the round-8 100× scale run (PLANS.md "Round 8:
    * fixpoint families at ~100x") OOM'd `g10_label_prop` unrolling its
    * 240M-row symmetrized edge set as deserialized row objects (estimated
    * sizes, per-object GC load), where the serialized form is compact
    * UnsafeRow bytes with exact accounting and graceful disk overflow. */
  def snapshot(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Deterministically free the blocks behind a [[snapshot]] frame.
    * No-op for frames that are not local-checkpoint-backed (the match
    * finds no `LogicalRDD`), so callers may pass the loop's original
    * input on round 1 without special-casing (and without
    * `RDD.unpersist`'s lineage WARN: losing that lineage is the point). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => GraftSqlShim.unpersistRDD(l.rdd)
      case _ => ()
    }

  /** Pin a loop-INVARIANT frame (the big static side of a fixpoint —
    * edge lists, degree-joined edge tables): lay it out hash-partitioned
    * and sorted on the loop's join `keys`, persist serialized, and
    * materialize.
    *
    * Why not [[snapshot]] for these: the `LogicalRDD` a localCheckpoint
    * produces reports `UnknownPartitioning` (measured on the r8 g10
    * plan — the scan side re-Exchanged every round despite the
    * pre-snapshot repartition), so every round of the loop re-shuffles
    * AND re-sorts the big static side. A persisted `InMemoryRelation`
    * advertises its child's partitioning and ordering, so each round's
    * sort-merge join reads the cached side AS IS and only the small
    * evolving side shuffles — at the 100× g10 corpus that is 3 × 240M
    * rows of shuffle+sort that simply disappear.
    *
    * [[snapshot]]'s two anti-persist arguments (object doc) do not
    * apply to loop-invariant frames: the cached plan is the original
    * constant-size tree (nothing nests per round), and it is ONE
    * CacheManager entry for the loop's lifetime. The repartition also
    * floors the loop's parallelism at `defaultParallelism` (the AQE
    * small-shuffle coalesce guard the g10 rebuild measured at 4×).
    * Keep using [[snapshot]] for the EVOLVING per-round frame, where
    * lineage truncation is the point. Pair with [[unpin]]. */
  def pin(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val laid =
      if (keys.isEmpty) df
      else df.repartition(p, keys: _*).sortWithinPartitions(keys: _*)
    val pinned = laid.persist(StorageLevel.MEMORY_AND_DISK_SER)
    pinned.count()
    pinned
  }

  /** Drop a [[pin]]'s cache entry and blocks. */
  def unpin(df: DataFrame): Unit =
    df.unpersist(blocking = false): Unit
}
