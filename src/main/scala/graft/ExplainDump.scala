package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: write `df.explain("formatted")` output for named registry
  * queries to files — the plan evidence committed under `plans/r15/` —
  * and print one shuffle/join/scan audit line per query (the "would this
  * survive 100×" review loop): hash and single-partition exchanges,
  * broadcast-hash, sort-merge and broadcast-nested-loop joins,
  * cartesian products and scans with pushed filters — counted also over
  * the `eager=` actions a query runs while built, appended to its file.
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
    def plan(qe: QueryExecution) =
      (qe.executedPlan.toString, qe.explainString(FormattedMode))
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        eager.add(plan(qe)): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark)
        val plans = plan(df.queryExecution) +:
          Iterator.continually(eager.poll()).takeWhile(_ != null).toSeq
        val txt = plans.map(_._2).mkString("\n== eager action ==\n")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(f"[plan] $name%-22s " + audited.map { case (k, re) =>
          s"$k=${plans.map(p => re.r.findAllIn(p._1).size).sum}"
        }.mkString(" ") + s" eager=${plans.size - 1}")
      } catch { case e: Throwable =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
      }
      eager.clear()
      LocalSession.quiesce(spark)
    }
    spark.stop()
  }
}
