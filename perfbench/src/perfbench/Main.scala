package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of the repo benchmark (see perfbench/README.md).
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --workdir D`
  * `perfbench.Main --train 1 --workdir D` runs every workload once at tiny
  * sizes; the build runs it to record the JVM's class-data archive.
  *
  * One JVM, Spark `local[nproc]`. Set-up (session start, input generation,
  * warm-up) is timed separately from the measured window. `--trace 0`
  * measures the end-to-end metrics untraced; `--trace 1` measures an
  * untraced quarter, a traced half and an untraced quarter of the window,
  * and reports the per-layer metrics of the traced half plus the tracing
  * overhead against the untraced ones. The last stdout line is the result
  * JSON.
  */
object Main {

  /** Rounds of input generation during set-up; `setup_s` counts their
    * median, the one-time session start and the warm-up. */
  val SetupRounds = 3

  val Workloads = Seq("serve", "ingest", "offline")

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** Session settings shared by every workload, as the repo's own bench
    * (`graft.Bench`) sets them. */
  def session(master: String, workdir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workdir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `traces/` next to the run's work dir: spans outlive the work dir. */
  def traceDir(workdir: String): String =
    new java.io.File(new java.io.File(workdir).getAbsoluteFile.getParentFile, "traces").getPath

  def workload(name: String, seed: Long, size: Sizes): Workload = name match {
    case "serve" => new ServeBench(seed, size)
    case "ingest" => new IngestBench(seed, size)
    case "offline" => new OfflineBench(seed, size)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workdir = opts("--workdir")
    if (opts.contains("--selftest")) {
      val ok = SelfTest.run(workdir, opts("--selftest"))
      println(s"""{"correct": $ok, "attempted": 1, "failed": ${if (ok) 0 else 1}, "metrics": {}}""")
      sys.exit(if (ok) 0 else 1)
    }
    if (opts.contains("--train")) {
      val failed = Workloads.map(w => run(w, 7, 1.0, false, s"$workdir/$w", Sizes.Tiny).failed).sum
      println(s"""{"correct": ${failed == 0}, "attempted": ${Workloads.size}, "failed": $failed, "metrics": {}}""")
      sys.exit(if (failed == 0) 0 else 1)
    }
    val name = opts("--workload")
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val out = run(name, seed, seconds, trace, workdir, Sizes.Full)
    out.report.foreach(println)
    println(out.json)
    // non-daemon Spark threads must not keep the JVM up after the result
    sys.exit(0)
  }

  final case class Outcome(attempted: Long, failed: Long,
      metrics: Seq[Metric], report: Seq[String]) {
    def json: String = Json.result(failed == 0, attempted, failed, metrics)
  }

  /** One benchmark run; also used by the self-tests at tiny sizes. */
  def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      workdir: String, size: Sizes): Outcome = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(s"local[$cores]", workdir)
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w = workload(name, seed, size)
    val rounds = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      w.generate(spark, s"$workdir/data/r$r")
      Stats.secondsSince(t0)
    }
    val t0 = System.nanoTime()
    w.warmUp(spark)
    val warmS = Stats.secondsSince(t0)
    // the warm-up's garbage is collected now, not by a full GC in the window
    System.gc()
    val setupS = sessionUpS + Stats.median(rounds) + warmS
    val report = Seq.newBuilder[String]
    report += f"[perfbench] workload=$name seed=$seed cores=$cores trace=$trace"
    report += f"[perfbench] setup: session up ${sessionUpS}%.3f s, inputs ${rounds.map(r => f"$r%.3f").mkString(", ")} s, warm-up ${warmS}%.3f s"

    val (res, metrics) = if (!trace) {
      val r = w.run(spark, seconds, Tracer.off)
      (Seq(r), r.endToEnd(setupS, Stats.peakRssMb()))
    } else {
      // untraced slices before and after the traced one, so drift while
      // the JVM warms further does not read as tracing overhead
      val before = w.run(spark, seconds * 0.25, Tracer.off)
      val tracer = new Tracer(spark)
      val gc0 = Stats.gcMs()
      val traced = w.run(spark, seconds * 0.5, tracer)
      val gcMs = Stats.gcMs() - gc0
      tracer.close()
      tracer.writeSpans(s"${traceDir(workdir)}/$name-seed$seed.jsonl")
      val after = w.run(spark, seconds * 0.25, Tracer.off)
      val untracedP50 = (before.p50Ms + after.p50Ms) / 2
      val extra = w.afterTrace(spark, workdir, after)
      val overhead = 100.0 * (traced.p50Ms / untracedP50 - 1.0)
      val layers = Layers.all(traced.layers ++ extra ++ Map(
        "jvm.gc.ms" -> gcMs,
        "tracing.overhead_pct" -> overhead,
        "tracing.coverage_pct" -> tracer.coveragePct(w.rootSpan)))
      report += f"[perfbench] tracing overhead: p50 ${untracedP50}%.2f ms untraced vs ${traced.p50Ms}%.2f ms traced (${overhead}%+.1f%%)"
      (Seq(before, traced, after), layers)
    }
    val attempted = res.map(_.attempted).sum
    val failed = res.map(_.failed).sum
    res.foreach(r => report ++= r.lines)
    res.flatMap(_.checks).foreach { c =>
      report += s"[perfbench] check ${c.name}: ${if (c.ok) "PASS" else "FAIL"} ${c.detail}"
    }
    report += f"[perfbench] error_rate = ${failed.toDouble / math.max(1L, attempted)}%.6f ratio ($failed of $attempted)"
    metrics.foreach(m => report += f"[perfbench] ${m.name} = ${m.value}%.4f ${m.unit}")
    Outcome(attempted, failed, metrics, report.result())
  }
}

/** Input sizes. `Full` is what the benchmark measures; `Tiny` is for the
  * self-tests. The `warm*` counts size the warm-up: a new JVM runs each
  * workload ~2x slower at first, and without them the window measures
  * the JIT warming, not the steady state (see README). */
final case class Sizes(
    serveUsers: Int, serveItems: Int, serveMeanEvents: Int, dim: Int,
    ingestUsers: Int, ingestRate: Int, ingestBacklog: Int,
    etlUsers: Int, etlItems: Int, etlMeanReviews: Int,
    dedupDocs: Int, dedupFamilies: Int, dedupCopies: Int,
    warmRequests: Int, warmOpenS: Int, warmRounds: Int)

object Sizes {
  val Full = Sizes(
    serveUsers = 5000, serveItems = 2000, serveMeanEvents = 20, dim = 32,
    ingestUsers = 5000, ingestRate = 5000, ingestBacklog = 80000,
    etlUsers = 1500, etlItems = 1200, etlMeanReviews = 20,
    dedupDocs = 2000, dedupFamilies = 80, dedupCopies = 50,
    warmRequests = 14, warmOpenS = 8, warmRounds = 2)
  val Tiny = Sizes(
    serveUsers = 300, serveItems = 400, serveMeanEvents = 10, dim = 8,
    ingestUsers = 50, ingestRate = 500, ingestBacklog = 500,
    etlUsers = 150, etlItems = 120, etlMeanReviews = 16,
    dedupDocs = 200, dedupFamilies = 15, dedupCopies = 10,
    warmRequests = 2, warmOpenS = 1, warmRounds = 1)
}

final case class Metric(name: String, value: Double, unit: String)

final case class Check(name: String, ok: Boolean, detail: String = "")

/** What one measured window of a workload produced. `p50Ms`, `tailMs` and
  * `throughput` are the workload's own end-to-end figures (see README). */
final case class RunResult(
    attempted: Long, failed: Long,
    p50Ms: Double, tailMs: Double, throughput: Double,
    checks: Seq[Check], lines: Seq[String],
    layers: Map[String, Double] = Map.empty,
    passMs: Map[String, Double] = Map.empty) {
  def endToEnd(setupS: Double, rssMb: Double): Seq[Metric] =
    RunResult.EndToEnd.zip(Seq(setupS, rssMb, p50Ms, tailMs, throughput))
      .map { case ((n, u), v) => Metric(n, v, u) }
}

object RunResult {
  /** The end-to-end metrics every workload reports, with units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB",
    "p50_ms" -> "ms", "tail_ms" -> "ms", "throughput_per_s" -> "1/s")
}

trait Workload {
  /** Generate and write this round's inputs under `dir`; the last
    * round's inputs are the ones measured. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Fill caches and compile code on the measured inputs. */
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double, tracer: Tracer): RunResult
  /** Name of the span that wraps one operation (request, pass, phase). */
  def rootSpan: String
  /** Extra per-layer figures measured after the traced window, from a
    * result of this workload's `run`; may stop `spark`. */
  def afterTrace(spark: SparkSession, workdir: String, untraced: RunResult)
      : Map[String, Double] = Map.empty
}


