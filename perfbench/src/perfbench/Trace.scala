package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans around the benchmark's calls into each engine
  * layer, and Spark's public listeners for what the engine did inside them.
  *
  * Before each layer call the span id goes into a Spark local property;
  * jobs inherit it, so the [[SparkListener]] can attribute jobs, stages and
  * task metrics to the enclosing span. Spans are kept in memory and written
  * out by [[writeSpans]] when the run ends. [[Tracer.off]] does nothing and
  * registers nothing: the timed run uses it.
  */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  def this(spark: SparkSession) = this(spark, true)

  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Run `body` as span `name` of request `req`, child of the calling
    * thread's open span. */
  def span[T](name: String, req: Long)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = current.get().longValue
    val prev = sc.getLocalProperty(SpanProp)
    current.set(id)
    sc.setLocalProperty(SpanProp, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parent, req, start - t0, System.nanoTime() - t0))
      current.set(parent)
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  // ---- listeners (registered only when enabled)

  /** Task-level totals for one span. Written on the listener thread,
    * read after [[drain]]. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, launchWaitMs, shuffleWrite, shuffleRead, spill = 0L
    val taskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val aggs = mutable.Map.empty[Long, Agg]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val markerJobs = mutable.Set.empty[Int]
  @volatile private var jobMarker: CountDownLatch = _
  @volatile private var queryMarker: (String, CountDownLatch) = _
  private var planMsTotal, queries = 0L
  private val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
  private var codegen0 = (0L, 0L)

  private def agg(span: Long): Agg = aggs.getOrElseUpdate(span, new Agg)

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties) match {
        case Some(m) if m.startsWith("marker") => markerJobs += e.jobId
        case Some(s) =>
          agg(s.toLong).jobs += 1
          e.stageIds.foreach(st => stageSpan(st) = s.toLong)
        case None =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.remove(e.jobId) && jobMarker != null) jobMarker.countDown()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      spanOf(e.properties).filterNot(_.startsWith("marker")).foreach { s =>
        stageSpan(e.stageInfo.stageId) = s.toLong
        agg(s.toLong).stages += 1
        e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val a = agg(s)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
        stageSubmit.get(e.stageId).foreach(t =>
          a.launchWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val m = queryMarker
      if (m != null && qe.analyzed.output.exists(_.name == m._1)) m._2.countDown()
      else Tracer.this.synchronized {
        planMsTotal += qe.tracker.phases.values.map(_.durationMs).sum
        queries += 1
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((Option(e.progress.name).getOrElse(""), e.progress))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    codegen0 = codegenNow()
  }

  private def codegenNow(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Wait until both listener paths have delivered every earlier event:
    * a marker job and a marker query must come out the other end. */
  def drain(): Unit = if (enabled) {
    val sc = spark.sparkContext
    val n = ids.incrementAndGet()
    jobMarker = new CountDownLatch(1)
    queryMarker = (s"__perfbench_marker_$n", new CountDownLatch(1))
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s"marker$n")
    try {
      sc.parallelize(Seq(1), 1).count()
      spark.range(1).selectExpr(s"1 AS ${queryMarker._1}").collect()
    } finally sc.setLocalProperty(SpanProp, prev)
    jobMarker.await(30, TimeUnit.SECONDS)
    queryMarker._2.await(30, TimeUnit.SECONDS)
  }

  private var closed = false

  def close(): Unit = if (enabled && !closed) {
    closed = true
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- read-out (after close)

  /** Durations in ms of every span called `name`. */
  def durationsMs(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Summed task-level totals of the spans whose name starts with `prefix`. */
  def totals(prefix: String): Agg = synchronized {
    val names = spans.asScala.iterator.map(s => s.id -> s.name).toMap
    val out = new Agg
    aggs.foreach { case (id, a) =>
      if (names.get(id).exists(_.startsWith(prefix))) {
        out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
        out.runMs += a.runMs; out.launchWaitMs += a.launchWaitMs
        out.shuffleWrite += a.shuffleWrite; out.shuffleRead += a.shuffleRead
        out.spill += a.spill
        a.taskRunMs.foreach { case (st, xs) =>
          out.taskRunMs.getOrElseUpdate(st, mutable.ArrayBuffer.empty) ++= xs }
      }
    }
    out
  }

  /** Planning time (analysis + optimization + planning phases) summed
    * over every query, and the number of queries. */
  def planning: (Long, Long) = synchronized((planMsTotal, queries))

  /** Whole-stage codegen (compile ms, compiles) since the tracer started. */
  def codegen: (Double, Long) = {
    val (t, n) = codegenNow()
    ((t - codegen0._1) / 1e6, n - codegen0._2)
  }

  def progresses(query: String): Seq[StreamingQueryProgress] =
    progress.asScala.iterator.filter(_._1 == query).map(_._2).toSeq

  /** Turn the micro-batches of streaming query `query` (from its progress
    * events: trigger start and `triggerExecution` time) into spans called
    * `name`, children of the `root` span they started in. */
  def addBatchSpans(query: String, root: String, name: String): Unit = if (enabled) {
    val roots = spans.asScala.filter(_.name == root).toSeq
    progresses(query).filter(_.numInputRows > 0).foreach { p =>
      val start = (java.time.Instant.parse(p.timestamp).toEpochMilli - wall0) * 1000000L
      val end = start + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000000L
      roots.find(r => r.start <= start && start < r.end).foreach { r =>
        spans.add(Span(ids.incrementAndGet(), name, r.id, r.req, start, end))
      }
    }
  }

  /** Share of the `root` spans' time spent inside layer spans (the
    * leaves below them), in %: what is left is the self time of the roots
    * and of every span between them and the leaves. */
  def coveragePct(root: String): Double = {
    val byParent = spans.asScala.toSeq.groupBy(_.parent)
    def uncovered(s: Span): Long = byParent.get(s.id) match {
      case Some(kids) => selfNs(s, byParent) + kids.map(uncovered).sum
      case None => 0L
    }
    val roots = spans.asScala.filter(_.name == root).toSeq
    val total = roots.map(r => r.end - r.start).sum.toDouble
    val covered = roots.map(r => if (byParent.contains(r.id)) r.end - r.start - uncovered(r) else 0L).sum
    if (total <= 0) 0.0 else 100.0 * covered / total
  }

  /** Write every span as one JSON line; self time = duration minus the
    * part of it covered by child spans. */
  def writeSpans(path: String): Unit = if (enabled) {
    val byParent = spans.asScala.toSeq.groupBy(_.parent)
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "request": ${s.req}, """ +
        s""""start_ms": ${Json.num(s.start / 1e6)}, "end_ms": ${Json.num(s.end / 1e6)}, """ +
        s""""self_ms": ${Json.num(selfNs(s, byParent) / 1e6)}}""")
    } finally w.close()
  }

  private def selfNs(s: Span, byParent: Map[Long, Seq[Span]]): Long = {
    val kids = byParent.getOrElse(s.id, Nil)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    (s.end - s.start) - covered
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, req: Long,
      start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  val off: Tracer = new Tracer(null, false)

  /** Max over median task run time of the heaviest multi-task stage (by
    * total task run time) in `a`; 1.0 when there is none. */
  def skew(a: Tracer#Agg): Double = {
    val multi = a.taskRunMs.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val heavy = multi.maxBy(_.sum)
      val med = Stats.median(heavy.map(_.toDouble).toSeq)
      heavy.max / math.max(1.0, med)
    }
  }
}
