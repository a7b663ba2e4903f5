package perfbench

import org.apache.spark.sql.SparkSession

/** `offline`: the batch side, one round = one training-data ETL pass
  * ([[EtlBench]]) then one corpus dedup pass ([[DedupBench]]). Rounds
  * repeat until the window ends, at least [[MinRounds]] times; outputs are
  * checked after the window. */
final class OfflineBench(seed: Long, size: Sizes) extends Workload {
  val rootSpan = "offline.round"
  val MinRounds = 3
  val etl = new EtlBench(seed, size)
  val dedup = new DedupBench(seed, size)

  def generate(spark: SparkSession, dir: String): Unit = {
    etl.generate(spark, s"$dir/etl")
    dedup.generate(spark, s"$dir/dedup")
  }

  /** The first pass of a new JVM runs ~3x slower than a warm one and
    * the second still ~20% slower, so [[Sizes.warmRounds]] rounds run
    * before the window. */
  def warmUp(spark: SparkSession): Unit =
    (1 to size.warmRounds).foreach { _ => etl.warmUp(spark); dedup.warmUp(spark) }

  def run(spark: SparkSession, seconds: Double, tr: Tracer): RunResult = {
    val t0 = System.nanoTime()
    val rounds, etlMs, dedupMs, pairs = Seq.newBuilder[Double]
    val etlOuts = Seq.newBuilder[String]
    val kept = Seq.newBuilder[Array[Long]]
    var n = 0
    while (n < MinRounds || Stats.secondsSince(t0) < seconds) {
      tr.span(rootSpan, n) {
        val s = System.nanoTime()
        etlOuts += etl.pass(spark, tr, n)
        val m = System.nanoTime()
        val (k, np) = dedup.pass(spark, tr, n)
        val e = System.nanoTime()
        kept += k; pairs += np.toDouble
        etlMs += (m - s) / 1e6; dedupMs += (e - m) / 1e6; rounds += (e - s) / 1e6
      }
      n += 1
    }
    tr.drain()
    val etlV = etlOuts.result().zipWithIndex.map { case (o, i) => etl.checkAndClean(spark, o, full = i == 0) }
    val dedupV = kept.result().map(dedup.check)
    val ms = rounds.result()
    val p50 = Stats.median(ms)
    val lines = Seq(
      f"[perfbench] offline.round_ms = $p50%.1f ms (median of $n rounds: ${ms.map(r => f"$r%.0f").mkString(", ")})",
      f"[perfbench] etl.wall_s = ${Stats.median(etlMs.result()) / 1000}%.4f s (median pass over ${etl.reviews} reviews)",
      f"[perfbench] dedup.wall_s = ${Stats.median(dedupMs.result()) / 1000}%.4f s (median pass over ${dedup.docs} docs)")
    val checks = etlV.zipWithIndex.map { case (v, i) => Check(s"etl.pass$i", v.ok, v.detail) } ++
      dedupV.zipWithIndex.map { case (v, i) => Check(s"dedup.pass$i", v.ok, v.detail) }
    // a round fails when either of its passes does
    val failed = etlV.zip(dedupV).count { case (a, b) => !a.ok || !b.ok }.toLong
    val layers = if (!tr.enabled) Map.empty[String, Double]
      else etl.layers(tr, n, etlV.head) ++ dedup.layers(tr, n, pairs.result(), dedupV.head)
    RunResult(n.toLong, failed, p50, Stats.percentile(ms, 0.9),
      (etl.reviews + dedup.docs) / (p50 / 1000), checks, lines, layers,
      passMs = Map("etl" -> Stats.median(etlMs.result())))
  }

  override def afterTrace(spark: SparkSession, workdir: String, measured: RunResult)
      : Map[String, Double] =
    Map("etl.speedup_vs_1core" -> etl.speedupVs1Core(spark, workdir, measured.passMs("etl")))
}
