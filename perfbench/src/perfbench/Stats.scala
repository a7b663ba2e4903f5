package perfbench

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** VmHWM (peak resident set) of this JVM in MB. */
  def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Every per-layer metric the traced run prints, with its unit. A layer
  * the workload does not run reads 0 (measured: no time, no work). */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "serve.asof.ms" -> "ms",
    "serve.user_vec.ms" -> "ms",
    "serve.recall.ms" -> "ms",
    "serve.recall.candidates" -> "count",
    "serve.recall.kept_ratio" -> "ratio",
    "serve.rank.ms" -> "ms",
    "serve.rerank.ms" -> "ms",
    "serve.plan.ms" -> "ms",
    "serve.codegen.ms" -> "ms",
    "serve.codegen.compiles" -> "count",
    "serve.jobs" -> "count",
    "serve.stages" -> "count",
    "serve.tasks" -> "count",
    "serve.task_busy.ms" -> "ms",
    "serve.launch_wait.ms" -> "ms",
    "ingest.parse.rows_in" -> "count",
    "ingest.parse.rows_out" -> "count",
    "ingest.batch.count" -> "count",
    "ingest.batch.rows_p50" -> "count",
    "ingest.batch.trigger_ms" -> "ms",
    "ingest.batch.planning_ms" -> "ms",
    "ingest.batch.wal_commit_ms" -> "ms",
    "ingest.batch.commit_offsets_ms" -> "ms",
    "ingest.batch.add_batch_ms" -> "ms",
    "ingest.kv.puts" -> "count",
    "ingest.kv.put_busy_ms" -> "ms",
    "ingest.state.rows" -> "count",
    "ingest.state.mem_bytes" -> "bytes",
    "ingest.state.commit_ms" -> "ms",
    "ingest.gen.late_ms" -> "ms",
    "ingest.backlog.max" -> "count",
    "etl.split.s" -> "s",
    "etl.excluded.s" -> "s",
    "etl.lightgcn.s" -> "s",
    "etl.item_features.s" -> "s",
    "etl.training.s" -> "s",
    "etl.training.rows_out" -> "count",
    "etl.negatives.kept_ratio" -> "ratio",
    "etl.shuffle.write_bytes" -> "bytes",
    "etl.shuffle.read_bytes" -> "bytes",
    "etl.spill_bytes" -> "bytes",
    "etl.skew.max_over_median" -> "ratio",
    "etl.task_busy.ms" -> "ms",
    "etl.speedup_vs_1core" -> "ratio",
    "dedup.quality.s" -> "s",
    "dedup.exact.s" -> "s",
    "dedup.lsh.s" -> "s",
    "dedup.cc.s" -> "s",
    "dedup.cc.jobs" -> "count",
    "dedup.keep.s" -> "s",
    "dedup.pairs" -> "count",
    "dedup.planted_recall" -> "ratio",
    "dedup.shuffle.write_bytes" -> "bytes",
    "jvm.gc.ms" -> "ms",
    "tracing.overhead_pct" -> "%",
    "tracing.coverage_pct" -> "%")

  def all(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    units.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}
