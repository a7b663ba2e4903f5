package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains ([[Bench]], [[Verify]],
  * [[ExplainDump]], [[Smoke]], [[Replay]]) plan under, so their plans
  * and per-query records are comparable:
  *
  *  - `local[cpus]` and `cpus` shuffle partitions, where `cpus` is env
  *    `SPARK_GRAFT_CPUS` if set, else every core; UTC session time
  *    zone; UI off; log level WARN.
  *  - `canChangeCachedPlanOutputPartitioning`: let AQE re-coalesce
  *    partitions INSIDE cached plans. The CC/pagerank fixpoints act on
  *    small persisted frames each round, and without this every round
  *    pays full-width task dispatch on bench hardware.
  *  - `spark.sql.codegen.cache.maxEntries = 4096` (static conf; Spark's
  *    default is 100): the generated-class cache is keyed by source
  *    text, and ~250 distinct plans × several codegen stages evict it
  *    constantly, so shared fragments recompile through Janino. The r8
  *    split-bench A/B measured 4096 entries at −14.6 s total (167.2 →
  *    152.5 s; 88 queries faster ≥50 ms vs 40 slower) at +37 MB code
  *    cache, and ruled out cross-query litter (two half-runs in
  *    separate JVMs summed to 171.7 s ≈ the single-JVM 167.2 s).
  *    PLANS.md round 8. */
private[graft] object LocalSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
