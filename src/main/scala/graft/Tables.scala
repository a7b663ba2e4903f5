package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * All engine operators are `DataFrame => DataFrame` functions; these helpers
  * only bind a scale-factor directory to named tables. Schemas are fixed by
  * the driver (FIXTURES.md §1) so we read without inference — at 100 TB a
  * schema-inferring scan is a full extra pass over the data.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session memo of the loaded table DataFrames.
    *
    * `spark.read.parquet(path)` is NOT free: every call re-lists the
    * path and re-reads a parquet footer for schema inference — measured
    * 58-66 ms of driver time per call on the bench fixtures
    * (OPTIMIZATION_r15.md), and the bench executes every query 3× (cold + 2
    * warm), each execution re-calling the loaders for every table it
    * touches: ~0.1 s of pure metadata re-resolution inside every timed
    * warm run. Memoizing the RESOLVED DataFrame (an immutable analyzed
    * plan over an immutable fixture file) removes that driver-side
    * constant. This caches METADATA only — the scan still reads the
    * parquet bytes at every action, so every bench/oracle invocation
    * still computes from the inputs.
    *
    * Keyed WEAKLY on the session (tests build many short-lived
    * sessions; entries of stopped sessions must not pin them) and
    * strongly on (dir, name) within it. Callers that rewrite a fixture
    * path mid-session (none do — fixtures are driver-provided and
    * immutable) would need an invalidation hook. */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  private def cached(spark: SparkSession, key: String)
      (load: => DataFrame): DataFrame = {
    var m = memo.get(spark)
    if (m == null) {
      memo.synchronized {
        m = memo.get(spark)
        if (m == null) {
          m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
          memo.put(spark, m)
        }
      }
    }
    m.computeIfAbsent(key, _ => load)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, s"$sfDir/$name.parquet") {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  /** `events.ts` arrives as epoch-nanos BIGINT regardless of how the
    * driver generated the file: early fixtures wrote parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — the
    * legacy conf reads it as a lossless long), later regenerations write
    * TIMESTAMP(MICROS) (a real timestamp column, normalized back to
    * ns-longs here). Every event-time operator downstream treats `ts` as
    * a monotonic epoch-ns long and converts to TimestampType only where
    * windowing needs it; the DuckDB oracles' `epoch_ns(ts)` yields the
    * same integers for both encodings. Callers run with
    * `spark.sql.session.timeZone=UTC`, so the NTZ→timestamp cast below
    * is instant-preserving. */
  def events(spark: SparkSession, d: String): DataFrame =
    cached(spark, s"$d/events.parquet#norm") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = table(spark, d, "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => df
        case _ => df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) *
            1000L)
      }
    }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
