package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.streaming.BehaviorIngest
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The benchmark's profile store: every put is stamped with its time, so
  * ingest lag is measured where the profile lands. A static map: under
  * `local[n]` every executor shares this JVM. */
object BenchKV extends BehaviorIngest.KVStore {
  val values = new ConcurrentHashMap[String, String]()
  val putAt = new ConcurrentHashMap[String, java.lang.Long]()
  val busyNs = new LongAdder
  val puts = new LongAdder
  /** Drops this many puts without storing them (self-test only). */
  @volatile var dropNext = 0

  override def put(key: String, value: String): Unit = {
    val t = System.nanoTime()
    if (dropNext > 0) synchronized { if (dropNext > 0) { dropNext -= 1; return } }
    values.put(key, value)
    putAt.put(key, t)
    puts.increment()
    busyNs.add(System.nanoTime() - t)
  }

  def clear(): Unit = { values.clear(); putAt.clear(); busyNs.reset(); puts.reset() }
}

/** `ingest`: Kafka-shaped JSON events into a single-partition
  * `MemoryStream` (the reference topic has one partition) ▷
  * `BehaviorIngest.parse` ▷ `profileSink` into [[BenchKV]]; the same
  * events feed `latestProfiles` keyed state on a second source (a memory
  * source serves one query).
  *
  * Two phases: an open loop at a fixed rate (lag from each event's due
  * time to its put), then a closed drain of a fixed backlog (throughput). */
final class IngestBench(seed: Long, size: Sizes) extends Workload {
  val rootSpan = "ingest.phase"
  /** Lag counts events due after this much of the open loop: the first
    * micro-batches of a freshly started query are not its steady state. */
  val SettleS = 2.0
  val WarmPipelines = 3

  private var stream: Gen.IngestStream = _
  private var dir: String = _
  private var runs = 0

  def generate(spark: SparkSession, dir: String): Unit = {
    stream = new Gen.IngestStream(seed, size.ingestUsers)
    this.dir = dir
  }

  /** Both paths: an open loop, then one drain, on [[WarmPipelines]]
    * pipelines at once. In a new JVM the lag keeps falling for ~30 s of
    * one pipeline's open loop: the per-batch driver code runs a few times
    * a second and the JIT compiles it late. Parallel pipelines run it
    * that many times as often. */
  def warmUp(spark: SparkSession): Unit = {
    val ps = (1 to WarmPipelines).map(k => Pipeline.start(spark, s"$dir/warm$k", s"_warm$k"))
    val n = openLoop(ps, size.ingestRate.toLong * size.warmOpenS, Tracer.off)._1
    ps.foreach(_.add((n until n + size.ingestBacklog / 8).map(stream.event)))
    ps.foreach(_.await())
    ps.foreach(_.stop())
  }

  /** Both streaming queries over two single-partition memory sources. */
  final class Pipeline private (spark: SparkSession, ckpt: String, tag: String) {
    implicit private val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val src1 = MemoryStream[String](1)
    private val src2 = MemoryStream[String](1)
    val latest = new ConcurrentHashMap[String, (Long, String)]()
    BenchKV.clear()
    val profiles: StreamingQuery = BehaviorIngest.profileSink(
        BehaviorIngest.parse(src1.toDF(), "value"), BenchKV, s"$ckpt/profiles")
      .queryName(Pipeline.ProfileQuery + tag).start()
    val state: StreamingQuery = BehaviorIngest.latestProfiles(BehaviorIngest.parse(src2.toDF(), "value"))
      .writeStream.queryName(Pipeline.StateQuery + tag).outputMode("update")
      .option("checkpointLocation", s"$ckpt/state")
      .foreachBatch { (b: Dataset[BehaviorIngest.Profile], _: Long) =>
        b.collect().foreach { p =>
          val v = (p.timestamp, p.history_items.map(h => "\"" + h + "\"").mkString("[", ",", "]"))
          latest.merge(p.user_id, v, (a, c) => if (c._1 > a._1) c else a)
        }
      }.start()

    def add(evs: Seq[Gen.Event]): Unit = {
      val js = evs.map(_.json)
      src1.addData(js); src2.addData(js)
    }
    def await(): Unit = { profiles.processAllAvailable(); state.processAllAvailable() }
    def stop(): Unit = { profiles.stop(); state.stop() }
  }

  object Pipeline {
    val ProfileQuery = "ingest_profiles"
    val StateQuery = "ingest_state"
    /** `tag` makes the query names unique among pipelines running at once. */
    def start(spark: SparkSession, ckpt: String, tag: String = "") = new Pipeline(spark, ckpt, tag)
  }

  private def key(e: Gen.Event) = s"user_profile:${e.user}:${e.ts}"

  /** Events 0 until n become due at the workload's rate from t0; every
    * ~2 ms the generator adds whatever is due. Returns (n, t0, how late
    * the generator ran at most in ns, max valid events due but not put). */
  private def openLoop(ps: Seq[Pipeline], n: Long, tr: Tracer): (Long, Long, Long, Long) = {
    val rate = size.ingestRate.toDouble
    var lateMaxNs, backlogMax, validDue, sent = 0L
    val t0 = System.nanoTime()
    tr.span(rootSpan, 0) {
      while (sent < n) {
        val now = System.nanoTime()
        val due = math.min(n, ((now - t0) * rate / 1e9).toLong + 1)
        if (due > sent) {
          lateMaxNs = math.max(lateMaxNs, now - (t0 + (sent * 1e9 / rate).toLong))
          val evs = (sent until due).map(stream.event)
          validDue += evs.count(_.valid)
          ps.foreach(_.add(evs))
          sent = due
          backlogMax = math.max(backlogMax, validDue - BenchKV.puts.sum())
        }
        Thread.sleep(2)
      }
      ps.foreach(_.await())
    }
    (n, t0, lateMaxNs, backlogMax)
  }

  def run(spark: SparkSession, seconds: Double, tr: Tracer): RunResult = {
    runs += 1
    val rate = size.ingestRate.toDouble
    // the open loop fills the window; the drain follows it
    val openN = math.max(1L, (rate * seconds).toLong)
    val p = Pipeline.start(spark, s"$dir/run$runs")
    val (_, t0, lateMaxNs, backlogMax) = openLoop(Seq(p), openN, tr)
    def dueAt(i: Long) = t0 + (i * 1e9 / rate).toLong
    // events are regenerated from their index where needed, not held:
    // the run's own garbage would otherwise show in its lag and peak RSS
    def events(from: Long, until: Long) = (from until until).iterator.map(stream.event)
    val settled = math.min(openN - 1, (rate * SettleS).toLong)
    val lags = events(settled, openN).filter(_.valid).flatMap { e =>
      Option(BenchKV.putAt.get(key(e))).map(t => (t - dueAt(e.ts - 1700000000000L)) / 1e6)
    }.toVector
    // ---- drain: a fixed backlog added at once, timed to its last put
    val end = openN + size.ingestBacklog
    val eps = tr.span(rootSpan, 1) {
      val s = System.nanoTime()
      p.add(events(openN, end).toSeq)
      p.await()
      var valid = 0
      var last = s
      events(openN, end).filter(_.valid).foreach { e =>
        valid += 1
        Option(BenchKV.putAt.get(key(e))).foreach(t => last = math.max(last, t))
      }
      valid / math.max(1e-9, (last - s) / 1e9)
    }
    p.stop()
    tr.drain()
    tr.addBatchSpans(Pipeline.ProfileQuery, rootSpan, "ingest.batch")
    tr.addBatchSpans(Pipeline.StateQuery, rootSpan, "ingest.state_batch")

    // ---- checks: the KV holds exactly the valid events; the keyed state
    // holds each user's latest valid event (timestamps grow with the index,
    // so the last valid event of a user in index order is its latest)
    var valid, badKv = 0L
    val expect = scala.collection.mutable.HashMap.empty[String, (Long, String)]
    events(0, end).foreach { e =>
      val held = BenchKV.values.get(key(e))
      if (e.valid) {
        valid += 1
        if (held != e.historyJson) badKv += 1
        expect(e.user) = (e.ts, e.historyJson)
      } else if (held != null) badKv += 1
    }
    val extraKv = BenchKV.values.size() - valid
    val got = p.latest.asScala.toMap
    val badState = (expect.keySet ++ got.keySet).count(u => expect.get(u) != got.get(u))
    val failed = badKv + math.max(0L, extraKv) + badState
    val checks = Seq(
      Check("ingest.kv", badKv == 0 && extraKv == 0,
        s"$valid valid of $end events; $badKv missing/wrong/leaked keys, ${BenchKV.values.size()} keys held"),
      Check("ingest.latest_state", badState == 0,
        s"${expect.size} users; $badState differ from the latest valid event"))
    val p50 = Stats.median(lags)
    val p95 = Stats.percentile(lags, 0.95)
    val lines = Seq(
      f"[perfbench] ingest.lag_p50_ms = $p50%.3f ms (${lags.size} events at ${rate}%.0f/s)",
      f"[perfbench] ingest.lag_p95_ms = $p95%.3f ms",
      f"[perfbench] ingest.events_per_s = $eps%.1f 1/s (drain of ${size.ingestBacklog})")
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val prog = tr.progresses(Pipeline.ProfileQuery).filter(_.numInputRows > 0)
      // the drain is the last batch with input
      val (openB, drainB) = prog.partition(_.batchId < prog.map(_.batchId).maxOption.getOrElse(0L))
      def dur(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], k: String) =
        Stats.median(ps.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val st = tr.progresses(Pipeline.StateQuery).filter(_.stateOperators.nonEmpty).lastOption
      Map(
        "ingest.parse.rows_in" -> prog.map(_.numInputRows).sum.toDouble,
        "ingest.parse.rows_out" -> BenchKV.puts.sum().toDouble,
        "ingest.batch.count" -> prog.size.toDouble,
        "ingest.batch.rows_p50" -> Stats.median(openB.map(_.numInputRows.toDouble)),
        "ingest.batch.trigger_ms" -> dur(openB, "triggerExecution"),
        "ingest.batch.planning_ms" -> dur(openB, "queryPlanning"),
        "ingest.batch.wal_commit_ms" -> dur(openB, "walCommit"),
        "ingest.batch.commit_offsets_ms" -> dur(openB, "commitOffsets"),
        "ingest.batch.add_batch_ms" -> dur(drainB, "addBatch"),
        "ingest.kv.puts" -> BenchKV.puts.sum().toDouble,
        "ingest.kv.put_busy_ms" -> BenchKV.busyNs.sum() / 1e6,
        "ingest.state.rows" -> st.map(_.stateOperators.head.numRowsTotal.toDouble).getOrElse(0.0),
        "ingest.state.mem_bytes" -> st.map(_.stateOperators.head.memoryUsedBytes.toDouble).getOrElse(0.0),
        "ingest.state.commit_ms" -> st.map(_.stateOperators.head.commitTimeMs.toDouble).getOrElse(0.0),
        "ingest.gen.late_ms" -> lateMaxNs / 1e6,
        "ingest.backlog.max" -> backlogMax.toDouble)
    }
    RunResult(end, failed, p50, p95, eps, checks, lines, layers)
  }
}
