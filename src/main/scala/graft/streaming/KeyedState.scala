package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The one owner of keyed streaming state: every stateful operator in
  * `graft.streaming` binds onto one of these two and keeps only its step. */
private[graft] object KeyedState {

  /** State v2: one `ValueState` per key. `step(key, stored, rows)` returns
    * `Some(s)` to write `s` (`None` leaves the state untouched) and the
    * rows to emit. `ttl` is a native state TTL (the Redis-EXPIRE shape of
    * the reference's profile store), which runs the query in
    * `TimeMode.ProcessingTime`, the TTL clock; without it, `TimeMode.None`.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def valueState[K, I, S, O](grouped: KeyValueGroupedDataset[K, I],
      name: String, stateEnc: Encoder[S], outEnc: Encoder[O],
      mode: OutputMode, ttl: Option[java.time.Duration] = None)(
      step: (K, Option[S], Iterator[I]) => (Option[S], Iterator[O]))
      : Dataset[O] = {
    val processor = new StatefulProcessor[K, I, O] {
      @transient private var state: ValueState[S] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[S](name, stateEnc,
          ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
      override def handleInputRows(key: K, rows: Iterator[I],
          tv: TimerValues): Iterator[O] = {
        val (next, out) = step(key, Option(state.get()), rows)
        next.foreach(state.update)
        out
      }
    }
    grouped.transformWithState(processor,
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
      mode)(outEnc)
  }

  /** State v1: per key, store and emit `(rows ++ stored).maxBy(rank)` once
    * per micro-batch (incoming rows win ties; an older re-arrival re-emits
    * the stored row). With `ttl` a key quiet that long is dropped by a
    * processing-time timeout, re-armed on every update, that emits
    * nothing. */
  def latestWins[K, V: Encoder, R: Ordering](
      grouped: KeyValueGroupedDataset[K, V], ttl: Option[String])(
      rank: V => R): Dataset[V] =
    grouped.flatMapGroupsWithState[V, V](OutputMode.Update,
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout) {
      (_: K, rows: Iterator[V], state: GroupState[V]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val latest = (rows ++ state.getOption).maxBy(rank)
          state.update(latest)
          ttl.foreach(d => state.setTimeoutDuration(d))
          Iterator.single(latest)
        }
    }
}
