package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's Kafka → Spark →
  * Redis profile pipeline (`deploy_datapipeline/data_pipeline/spark_stream/
  * consumer.py:24-76`).
  *
  * Differences by design (SURVEY §2.12 / §4):
  *  - the per-batch `collect()` → driver → Redis loop becomes an
  *    executor-side `foreachPartition` upsert (no driver bottleneck);
  *  - profile keys keep the reference's versioned contract
  *    `user_profile:{user_id}:{timestamp}`;
  *  - an optional keyed-state operator maintains the *latest* profile per
  *    user natively instead of the reference's `KEYS *` polling.
  */
object BehaviorIngest {

  /** The reference's declared streaming schema (`consumer.py:24-28`). */
  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("history_items", ArrayType(StringType)),
    StructField("timestamp", LongType)))

  /** S2: parse raw JSON values (Kafka `value` or file lines) and apply the
    * reference's null guards (`consumer.py:65`). */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(from_json(col(valueCol).cast("string"), eventSchema).as("data"))
      .select(col("data.*"))
      .where(col("user_id").isNotNull && col("timestamp").isNotNull &&
        col("history_items").isNotNull)

  /** S1 shape: Kafka source. Not exercisable in this container (no
    * broker; covered by file/memory-source tests with identical
    * downstream plan) — but StreamingSpec carries a real-broker E2E
    * round-trip that runs whenever `KAFKA_BOOTSTRAP` is set and the
    * connector jar is present. `startingOffsets` defaults to the
    * reference consumer's tail-read (`consumer.py:37-42`); the E2E
    * test reads from `earliest` to see its own produced records. */
  def kafkaSource(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** S4 write side: the Kafka producer payload — one JSON value per record
    * with the record's user id as the message key (reference
    * `kafka_stream/producer.py:57-79` serializes each behavior dict to a
    * JSON value; keying by user keeps each user's events in one partition,
    * so a consumer sees them in order). Split from [[kafkaSink]] so the
    * payload contract is testable without a broker — `s4_json_roundtrip`
    * oracle-checks the same `to_json(struct(...))` shape. */
  def kafkaPayload(parsed: DataFrame, keyCol: String = "user_id"): DataFrame =
    parsed.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(parsed.columns.map(col): _*)).as("value"))

  /** S4: Kafka producer sink — the `writeStream.format("kafka")`
    * counterpart to [[kafkaSource]]. Builds the (key, value) payload with
    * [[kafkaPayload]] and wires broker/topic/checkpoint options; the
    * returned writer just needs `.start()`. Not exercisable in this
    * container (no broker); StreamingSpec pins the format/option wiring. */
  def kafkaSink(parsed: DataFrame, servers: String, topic: String,
      checkpoint: String, keyCol: String = "user_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    kafkaPayload(parsed, keyCol).writeStream
      .format("kafka")
      .outputMode(OutputMode.Append)
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Pluggable profile store (Redis stays external per charter). */
  trait KVStore extends Serializable {
    def put(key: String, value: String): Unit
  }

  /** Executor-local in-memory store for tests (static map per JVM —
    * valid under local[*], where all executors share the JVM). */
  object InMemoryKV extends KVStore {
    val data = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def put(key: String, value: String): Unit = data.put(key, value)
    def clear(): Unit = data.clear()
  }

  /** S3: versioned profile upsert `user_profile:{u}:{ts}` → JSON array of
    * history items (`consumer.py:66-67`), executor-side. */
  def profileSink(parsed: DataFrame, kv: KVStore, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val keyed = parsed.select(
      format_string("user_profile:%s:%d", col("user_id"), col("timestamp")).as("key"),
      to_json(col("history_items")).as("value"))
    keyed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach(r => kv.put(r.getString(0), r.getString(1)))
        }
      }
  }

  /** Replay-idempotent partitioned table sink: each micro-batch
    * dynamically overwrites ONLY the partitions it touches
    * (`partitionOverwriteMode=dynamic` inside `foreachBatch`) — so
    * re-processing a batch after a failure RESTATES its partitions
    * instead of appending duplicates. This is the standard
    * exactly-once-to-a-table recipe when the sink is plain parquet (no
    * transactional log): the checkpoint dedups batch replays across
    * restarts, dynamic overwrite makes the one write that does re-run
    * idempotent. Untouched partitions are never rewritten. */
  def partitionedTableSink(parsed: DataFrame, partCol: String,
      outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    parsed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).parquet(outDir)
      }

  /** Streaming CDC apply: each micro-batch of change rows (full-row
    * images + a delete flag) merges into the parquet snapshot at
    * `tableDir` via [[graft.ops.Layout.mergeUpsert]] — the streaming
    * half of the l4 nightly upsert (a change FEED instead of a change
    * SET). Per batch: latest-wins compaction on (key, seqCol) first —
    * a feed can carry several changes for one key in one batch, and
    * MERGE requires at most one — then full-outer merge against the
    * current snapshot, then an atomic directory swap (write fresh,
    * rename). Exactly-once by checkpointed batch id: replaying a batch
    * re-merges idempotently (same keys → same final rows). `seqCol`
    * must be unique per key within a batch (a CDC LSN/offset is), or
    * the latest-wins pick is arbitrary among the tied changes.
    *
    * Crash safety of the snapshot swap: the commit sequence
    * ([[commitSwap]]) is write `.next` (Spark stamps `_SUCCESS` on
    * completion) → rename live → `.old` → rename `.next` → live. A crash
    * between the two renames leaves the live dir absent; [[recoverSwap]]
    * runs at the top of every batch and rolls FORWARD (a `_SUCCESS`-complete
    * `.next` becomes live — its merge already happened) or BACK
    * (restore `.old`) before any read, so a replayed batch always
    * merges against the last complete snapshot instead of mistaking
    * the table for empty. All renames are checked. */
  def cdcApplySink(changes: DataFrame, key: String, seqCol: String,
      deleted: String, tableDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        recoverSwap(tableDir)
        val compacted = graft.ops.TopK.perGroup(batch,
            Seq(col(key)), Seq(col(seqCol).desc), 1)
          .drop("rank", seqCol)
        val dir = new java.io.File(tableDir)
        val merged =
          if (!dir.exists() || dir.listFiles().forall(_.getName.startsWith("_")))
            compacted.where(!col(deleted)).drop(deleted)
          else {
            val base = spark.read.parquet(tableDir)
            // compacted still carries the flag column; mergeUpsert only
            // selects base.columns from the change side, so it rides
            // along for the `deleted` predicate without entering output
            graft.ops.Layout.mergeUpsert(base,
              compacted, Seq(key), col(deleted))
          }
        commitSwap(merged, tableDir)
      }

  /** The recovery half of [[cdcApplySink]]'s swap protocol. */
  private[graft] def recoverSwap(tableDir: String): Unit = {
    val (live, nxt, bak) = swapDirs(tableDir)
    if (!live.exists()) {
      if (nxt.exists() && new java.io.File(nxt, "_SUCCESS").exists())
        mustRename(nxt, live)   // write finished; complete the commit
      else if (bak.exists())
        mustRename(bak, live)   // write unfinished; restore prior snapshot
    }
  }

  /** The commit half: write `merged` to `.next` and swap it in, dropping
    * a `.old` a crash after the second rename left behind. */
  private def commitSwap(merged: DataFrame, tableDir: String): Unit = {
    val (live, nxt, bak) = swapDirs(tableDir)
    def dropOld(): Unit =
      if (bak.exists()) { bak.listFiles().foreach(_.delete()); bak.delete() }
    merged.write.mode("overwrite").parquet(nxt.getPath)
    dropOld()
    if (live.exists()) mustRename(live, bak)
    mustRename(nxt, live)
    dropOld()
  }

  private def swapDirs(tableDir: String) =
    (new java.io.File(tableDir), new java.io.File(tableDir + ".next"),
      new java.io.File(tableDir + ".old"))

  private def mustRename(from: java.io.File, to: java.io.File): Unit =
    require(from.renameTo(to), s"rename $from -> $to failed")

  /** A stream gets a watermark on `tsCol`, then `stream`; a batch frame
    * (the DuckDB oracle's twin) gets `batch` instead, no watermark. */
  private def watermarked(df: DataFrame, tsCol: String, delay: String,
      stream: DataFrame => DataFrame = identity,
      batch: DataFrame => DataFrame = identity): DataFrame =
    if (df.isStreaming) stream(df.withWatermark(tsCol, delay)) else batch(df)

  /** Event-time sliding-window activity aggregation — the design-doc
    * operator the reference never implemented (`README.md:503-507`):
    * per (window, user) event count, plus a distinct item count
    * (`n_distinct_items`) when `itemCol` names a scalar item column —
    * `approx_count_distinct` (HLL++) because exact distinct isn't
    * streaming-safe; deterministic for a given input SET, so the
    * stream≡batch parity contract still holds. Watermark bounds state.
    * Works identically on a batch DataFrame (used by the DuckDB oracle). */
  def windowedActivity(events: DataFrame, tsCol: String,
      width: String, slide: String, watermark: String = "1 hour",
      itemCol: Option[String] = None): DataFrame = {
    val src = watermarked(events, tsCol, watermark)
    val aggs = count(lit(1)).as("n_events") ::
      itemCol.map(c => approx_count_distinct(col(c)).as("n_distinct_items")).toList
    src.groupBy(window(col(tsCol), width, slide), col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("user_id"), col("n_events")) ++
        itemCol.map(_ => col("n_distinct_items")): _*)
  }

  /** A8: pipeline counters (reference `data_pipeline/metrics.py` — events
    * consumed, items written) as `observe` metrics: collected per
    * micro-batch by the engine, surfaced through
    * `StreamingQueryProgress.observedMetrics` — no second pass, no
    * driver-side counting loop. */
  def withCounters(parsed: DataFrame, name: String = "ingest"): DataFrame =
    parsed.observe(name,
      count(lit(1)).as("events_consumed"),
      sum(size(col("history_items"))).as("items_seen"))

  /** §2.12 late-data handling: the reference's versioned keys make
    * re-delivery an idempotent upsert; for pipelines that must not emit a
    * duplicate downstream at all, drop re-deliveries of the same
    * (user, timestamp) within the watermark — bounded state, exact within
    * the lateness budget. A batch frame gets a plain `dropDuplicates`. */
  def dedupedEvents(parsed: DataFrame, watermark: String = "1 hour"): DataFrame =
    watermarked(parsed.withColumn("__et",
        to_timestamp(from_unixtime(col("timestamp")))), "__et", watermark,
        _.dropDuplicatesWithinWatermark("user_id", "timestamp"),
        _.dropDuplicates("user_id", "timestamp"))
      .drop("__et")

  /** Stream-stream interval join (§2.12 / J4's streaming form): attribute
    * each purchase to the same user's views in the preceding `gap`.
    * Both sides carry a watermark, and the join condition bounds the view
    * time to `[purchase - gap, purchase]` — the two constraints together
    * let the engine expire buffered rows, so state is O(events within the
    * watermark), not unbounded.
    *
    * Works identically on batch DataFrames (the DuckDB oracle runs the
    * batch twin): watermarks are skipped, the interval condition is the
    * same, so stream ≡ batch on any finite input (StreamingSpec pins it).
    * Inputs need `user_id` and a TimestampType `tsCol`; purchases also
    * need `event_id`.
    */
  def purchaseAttribution(views: DataFrame, purchases: DataFrame,
      tsCol: String = "ts", gap: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val v = watermarked(views, tsCol, watermark).select(
      col("user_id").as("v_user"), col(tsCol).as("v_ts"))
    val p = watermarked(purchases, tsCol, watermark).select(col("event_id"),
      col("user_id").as("p_user"), col(tsCol).as("p_ts"))
    p.join(v,
      col("v_user") === col("p_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $gap"))
  }

  case class Profile(user_id: String, history_items: Seq[String], timestamp: Long)

  /** Keyed-state "latest profile per user" operator — replaces the
    * reference's Redis `KEYS user_profile:*` polling (`model_service/
    * main.py:64-83`) with [[KeyedState.latestWins]] on `timestamp`: one
    * profile per user per micro-batch, the newest seen so far.
    *
    * `ttl` mirrors the reference's Redis profile TTL design
    * (`README.md:519-527`): with e.g. `Some("24 hours")`, a user whose
    * stream goes quiet for the TTL has their state dropped on the next
    * micro-batch (processing-time timeout, re-armed on every update) —
    * without it, per-user state grows monotonically with the user universe,
    * a slow leak in a long-running stream. `None` keeps state forever
    * (the reference consumer's own default — its Redis keys were written
    * without EXPIRE). */
  def latestProfiles(parsed: DataFrame, ttl: Option[String] = None): Dataset[Profile] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    KeyedState.latestWins(parsed.as[Profile].groupByKey(_.user_id), ttl)(
      _.timestamp)
  }

  case class Scored(user_id: String, item_id: String, score: Double)
  case class TopKUpdate(user_id: String, items: Seq[String], scores: Seq[Double])

  /** Streaming per-user RUNNING top-k (state-v2): the incremental twin of
    * the batch `graft_topk` aggregate ([[graft.functions.TopKLargest]]) —
    * state holds each user's current k best (score, item) pairs, each
    * micro-batch merges its rows in O(batch + k) per user, and an updated
    * snapshot is emitted only when the top-k actually changed. Order
    * matches the batch aggregate's lexicographic-descending
    * `struct(score, item)` contract, so a stream over the same rows
    * converges to exactly `TopK.perGroupAgg`'s answer (StreamingSpec
    * pins the parity). The serving-path analogue is the reference's
    * per-user recommendation refresh on each behavior event
    * (`eval_online/main/inference.py:72-104`). */
  def runningTopK(scored: Dataset[Scored], k: Int): Dataset[TopKUpdate] = {
    import org.apache.spark.sql.Encoders
    val spark = scored.sparkSession
    import spark.implicits._
    KeyedState.valueState(scored.groupByKey(_.user_id), "topk",
        Encoders.product[TopKUpdate], Encoders.product[TopKUpdate],
        OutputMode.Update) { (user, state, rows) =>
      val cur = state.map(s => s.scores.zip(s.items)).getOrElse(Nil)
      val merged = (cur ++ rows.map(r => (r.score, r.item_id)))
        .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.String).reverse)
        .take(k)
      if (merged == cur) (None, Iterator.empty)
      else {
        val next = TopKUpdate(user, merged.map(_._2), merged.map(_._1))
        (Some(next), Iterator.single(next))
      }
    }
  }

  case class FeatEvent(user_id: String, event_id: Long, ts: Long,
      value: Double)
  case class FeatRow(event_id: Long, user_id: String, gap: Option[Long],
      roll_n: Long, roll_sum: Double, roll_mean: Double)
  case class FeatState(lastTs: Long, hasLast: Boolean, window: Seq[Double])

  /** Streaming per-user rolling feature bank (state-v2) — the online twin
    * of [[graft.ops.PrefixWindow.rollingFeatures]]: state holds the
    * previous event time and the last `lastN − 1` values per user, each
    * event emits its gap + last-`lastN` count/sum/mean and shifts the
    * buffer — O(lastN) state per key, the feature-store write path a
    * ranker reads at serving time. Batch parity (StreamingSpec) holds
    * when events arrive in event-time order per user — the streaming
    * contract; late rows would need the watermark/dedup front
    * ([[dedupedEvents]]) upstream. Sums fold in the same ascending
    * order as the batch frame, and the same 6-dp rounding applies. */
  def rollingFeaturesStream(events: Dataset[FeatEvent],
      lastN: Int): Dataset[FeatRow] = {
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    KeyedState.valueState(events.groupByKey(_.user_id), "rollfeat",
        Encoders.product[FeatState], Encoders.product[FeatRow],
        OutputMode.Append) { (user, state, rows) =>
      var st = state.getOrElse(FeatState(0L, false, Nil))
      // micro-batch rows re-sorted on (ts, event_id): arrival order
      // within a batch is not the event-time order the batch twin uses
      val out = rows.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
        val frame = (st.window :+ e.value).takeRight(lastN)
        val sum = frame.foldLeft(0.0)(_ + _)
        val row = FeatRow(e.event_id, user,
          if (st.hasLast) Some(e.ts - st.lastTs) else None,
          frame.size.toLong, r6(sum), r6(sum / frame.size))
        st = FeatState(e.ts, true, frame.takeRight(lastN - 1))
        row
      }
      (Some(st), out.iterator)
    }
  }

  case class FunnelEvent(user_id: String, event_id: Long, ts: Long,
      event_type: String)
  case class FunnelRow(user_id: String, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long], depth: Long)

  /** Streaming twin of the batch funnel (`Behavior.funnel` / w12) on
    * state-v2: per-user `ValueState` holds the earliest strictly-ordered
    * (view, click, purchase) chain; each batch's rows are re-sorted to
    * event-time order (the same in-batch posture as
    * [[rollingFeaturesStream]]), and the user's CURRENT funnel row is
    * emitted whenever the chain advances — an online conversion tracker
    * whose state converges to the batch answer when events arrive
    * per-user time-ordered across batches. State is three optional
    * timestamps per user: O(1), no history buffer. */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    KeyedState.valueState(events.groupByKey(_.user_id), "funnel",
        Encoders.product[FunnelRow], Encoders.product[FunnelRow],
        OutputMode.Update) { (user, state, rows) =>
      val start = state.getOrElse(FunnelRow(user, None, None, None, 0L))
      val st = rows.toSeq.sortBy(e => (e.ts, e.event_id))
        .foldLeft(start) { (st, e) =>
          e.event_type match {
            case "view" if st.t_view.isEmpty =>
              st.copy(t_view = Some(e.ts), depth = 1L)
            case "click" if st.t_click.isEmpty &&
                st.t_view.exists(e.ts > _) =>
              st.copy(t_click = Some(e.ts), depth = 2L)
            case "purchase" if st.t_purchase.isEmpty &&
                st.t_click.exists(e.ts > _) =>
              st.copy(t_purchase = Some(e.ts), depth = 3L)
            case _ => st
          }
        }
      if (st == start) (None, Iterator.empty)
      else (Some(st), Iterator.single(st))
    }
  }

  case class TypedEvent(user_id: Long, event_type: String, ts: Long,
    event_id: Long)

  /** Streaming next-event prediction — the serving half of the m14
    * Markov recommender: keyed state tracks each user's LATEST event
    * type ([[KeyedState.latestWins]] on (ts, event_id), the s12 rule, so late
    * re-deliveries can't regress the state), and each update joins the
    * broadcast PRE-RANKED transition matrix
    * ([[graft.ops.Behavior.transitionTopK]] — batch-trained, ≤|types|·k
    * rows) to emit that user's current top-k next-type predictions.
    * Stream ≡ batch: with the same events and matrix, the final update
    * per user equals the batch m14 rows (StreamingSpec pins it). */
  def nextEventPredictions(events: DataFrame, rankedTrans: DataFrame)
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedState.latestWins(events.as[TypedEvent].groupByKey(_.user_id),
        None)(r => (r.ts, r.event_id))
      .toDF()
      .join(broadcast(rankedTrans), col("event_type") === col("from_type"))
      .select(col("user_id"), col("event_type").as("cur_type"),
        col("to_type").as("next_type"), col("p"), col("rank"))
  }
}
