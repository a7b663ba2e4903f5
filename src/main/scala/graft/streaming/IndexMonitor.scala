package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous ANN-index monitoring — the streaming form of the batch
  * drift audit ([[graft.llmops.SimSearch.ivfDriftAudit]], sim19): the
  * index was fitted once on a corpus snapshot; the embedding INGEST
  * stream is assigned to the fit-time cells as it arrives, and
  * per-(event-time window, cell) statistics stream out so load skew and
  * assignment-cosine degradation are visible while they happen instead
  * of at the next batch audit.
  *
  * Shape: stateless per-row assignment against LITERAL centroids (the
  * RankCells kernel — zero shuffle, no stream-static join for the
  * argmax) + one broadcast stream-static join to fetch the winning
  * centroid for the cosine + a watermarked windowed aggregate (Spark
  * manages the per-(window, cell) state; bounded by nCells × open
  * windows). At 100 TB-equivalent ingest the aggregate state is tiny —
  * the stream's volume never lands in state, only the ≤4096-cell
  * rollup does.
  *
  * The optional `fitStats` frame (cell, n_fit, mean_cos_fit — sim19's
  * fit side, computed once at fit time) broadcast-joins onto the
  * windowed rows so each output row carries its drift delta directly.
  *
  * Works identically on a batch frame (window() is a plain expression)
  * — StreamingSpec pins stream ≡ batch on the same input.
  */
object IndexMonitor {

  /** Per-(window, cell) ingest statistics against fit-time centroids.
    *
    * @param incoming streaming (or batch) frame with an embedding and
    *                 an event-time timestamp column
    * @param vec      embedding column (array of float/double)
    * @param ts       event-time TIMESTAMP column for windowing
    * @param cents    fit-time centroids, in cell order (collect them
    *                 once from ivfIndex's centroid frame)
    * @param fitStats optional (cell, n_fit, mean_cos_fit) baseline;
    *                 when present each row carries cos_drift
    * @param windowDur   e.g. "1 minute"
    * @param watermarkDelay e.g. "2 minutes" — bounds window state
    * Output: (window_start, window_end, cell, n_new, mean_cos_new
    *          [, n_fit, mean_cos_fit, cos_drift]). */
  def cellDriftStream(incoming: DataFrame, vec: String, ts: String,
      cents: Seq[Seq[Double]], fitStats: Option[DataFrame] = None,
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    require(cents.nonEmpty, "need at least one fit-time centroid")
    val assigned = graft.llmops.SimSearch.cellCosine(
      incoming.withColumn("__v", col(vec).cast("array<double>")),
      col("__v"), cents, col(ts).as("__ts"))
    // mean = round(sum, 6) / n, NOT round(avg, 6): the per-row __cos are
    // 6-dp multiples, so their true sum is one too — rounding the sum is
    // pure float-error correction and can never sit on a boundary,
    // while an AVG quotient lands exactly on x.5e-7 whenever a small
    // window's sum/n does (observed: a 4-row window at .1415375), and
    // engines legitimately disagree there. The division itself is
    // IEEE-exact, so the quotient is bit-identical in any engine with
    // no final rounding; the drift delta of two such quotients likewise.
    val windowed = assigned
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), windowDur), col("__cell"))
      .agg(count(lit(1)).as("n_new"),
        (round(sum(col("__cos")), 6) / count(lit(1))).as("mean_cos_new"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("__cell").cast("long").as("cell"),
        col("n_new"), col("mean_cos_new"))
    fitStats match {
      case None => windowed
      case Some(fit) =>
        windowed.join(
            broadcast(fit.select(col("cell"), col("n_fit"),
              col("mean_cos_fit"))), Seq("cell"), "left")
          .withColumn("cos_drift",
            col("mean_cos_new") - col("mean_cos_fit"))
    }
  }

  /** Per-window quantization-distortion statistics against fit-time PQ
    * codebooks — [[cellDriftStream]]'s twin for the PQ family (the
    * monitor face of [[graft.llmops.SimSearch.pqRefitIfDistorted]]):
    * each ingested embedding is encoded against the LITERAL codebooks
    * ([[graft.functions.VectorOps.pqAssign]] — a pure expression, zero
    * shuffle, no join at all) and its squared reconstruction error
    * aggregates per event-time window. Distortion rising while cell
    * load stays balanced is the shift [[cellDriftStream]] cannot see —
    * vectors moving away from EVERY centroid.
    *
    * State: one row per open window (no per-cell dimension — cheaper
    * than the cell monitor by a factor of nCells). The optional
    * 1-row `fitStats` (n_fit, mean_err_fit) broadcast-joins on a
    * constant key (a stream-static CROSS join is not a supported
    * streaming shape; the `__one` equi-join is) so each row carries
    * its drift delta. Means are `round(sum, 6) / n` — the per-row
    * errors are 6-dp multiples, so the rounded sum is pure float-error
    * correction and the quotient is bit-identical in any engine (the
    * cellDriftStream discipline). Works identically on a batch frame.
    * Output: (window_start, window_end, n_new, mean_err_new
    *          [, n_fit, mean_err_fit, err_drift]). */
  def pqDistortionStream(incoming: DataFrame, vec: String, ts: String,
      codebooks: Seq[Seq[Seq[Double]]], fitStats: Option[DataFrame] = None,
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "need at least one codebook with at least one centroid")
    import graft.functions.VectorOps
    val windowed = incoming
      .select(col(ts).as("__ts"),
        VectorOps.pqSqError(VectorOps.pqAssign(
          col(vec).cast("array<double>"), codebooks)).as("__e"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), windowDur))
      .agg(count(lit(1)).as("n_new"),
        (round(sum(col("__e")), 6) / count(lit(1))).as("mean_err_new"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_new"), col("mean_err_new"))
    fitStats match {
      case None => windowed
      case Some(fit) =>
        windowed.withColumn("__one", lit(1))
          .join(broadcast(fit
            .select(col("n_fit"), col("mean_err_fit"))
            .withColumn("__one", lit(1))), Seq("__one"), "left")
          .drop("__one")
          .withColumn("err_drift",
            col("mean_err_new") - col("mean_err_fit"))
    }
  }

  /** Continuous recall-floor enforcement for a serving ANN index — the
    * streaming face of [[graft.llmops.IndexMaintenance.recallFloor]]
    * (the ENFORCE stage backing sim27/sim28/sim29/d43/d44): per
    * micro-batch of incoming QUERIES, the index's approximate answer
    * and the oracle-replayable truth are computed over exactly that
    * batch's queries against the (static) corpus both closures capture,
    * and the 1-row integer decision `(n_truth, above_floor)` is handed
    * to `onDecision` with its batch id — the same foreachBatch
    * maintenance-caller shape as the three replan policies
    * (StreamingSpec pins their mid-stream KEEP→ACT parity), because a
    * recall audit is NOT a native streaming plan: truth is a brute
    * top-k (per-query ranking — window functions and post-aggregation
    * joins are unsupported on streams), so the honest wiring is a
    * bounded batch computation per trigger, not a watermarked
    * aggregate.
    *
    * Stream ≡ batch by construction: each batch's decision row is
    * IDENTICAL to calling `IndexMaintenance.recallFloor(approxOf(q),
    * truthOf(q), keys, floorPct)` on that batch's query frame — no
    * hidden state, no accumulation (an index whose recall floor
    * depends on which queries arrived earlier would be unauditable).
    * Empty batches are skipped — the quiet-interval gate: no queries
    * is no evidence, never a vacuous `0 ≥ 0` pass being alerted on.
    *
    * Scale posture: the per-trigger cost is the batch audit's cost on
    * the trigger's query slice; at 100 TB the caller samples the query
    * stream (the d37/d41 md5-sample contract) rather than brute-forcing
    * truth for every query. Returns the configured writer — the caller
    * `.start()`s it (and owns checkpointing/trigger policy). */
  def recallFloorEachBatch(queries: DataFrame,
      approxOf: DataFrame => DataFrame, truthOf: DataFrame => DataFrame,
      keys: Seq[String], floorPct: Int)(
      onDecision: (Long, org.apache.spark.sql.Row) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val d = graft.llmops.IndexMaintenance.recallFloor(
          approxOf(batch), truthOf(batch), keys, floorPct).head()
        onDecision(batchId, d)
      }
      ()
    }
}
