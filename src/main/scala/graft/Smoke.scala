package graft

/** Local smoke: runs the flagship `SparkEntry.entry` the way the driver's
  * t1 check does (sf0.001, rows > 0) and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"[smoke] entry rows = $n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
