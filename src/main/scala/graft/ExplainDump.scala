package graft

/** Dev tool: write `df.explain("formatted")` output for named registry
  * queries to files — the plan evidence committed under `plans/r15/` —
  * and print one shuffle/join/scan audit line per query (the "would this
  * survive 100×" review loop): hash and single-partition exchanges,
  * broadcast-hash, sort-merge and broadcast-nested-loop joins,
  * cartesian products and scans with pushed filters.
  *
  * Usage: `runMain graft.ExplainDump <outDir> <suffix> q1 q2 ...`
  * (env `SPARK_GRAFT_SF_DIR`; the [[LocalSession]] Bench plans under).
  * Each query writes `<outDir>/<name>_<suffix>.txt`. */
object ExplainDump {
  private val audited = Seq("shuf" -> "Exchange hashpartitioning",
    "single" -> "Exchange SinglePartition", "bhj" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin", "bnlj" -> "BroadcastNestedLoopJoin",
    "cart" -> "CartesianProduct", "pushedFilters" -> "PushedFilters: \\[[^\\]]")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        val plan = df.queryExecution.executedPlan.toString
        println(f"[plan] $name%-22s " + audited.map { case (k, re) =>
          s"$k=${re.r.findAllIn(plan).size}" }.mkString(" "))
      } catch { case e: Throwable =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
