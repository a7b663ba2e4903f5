package perfbench

import org.apache.spark.sql.functions._

/** Self-tests at tiny sizes (`run.py --selftest`): every workload runs
  * once timed and once traced, every metric is printed with its unit, and
  * each checker rejects a planted wrong answer. */
object SelfTest {
  /** (name, unit) of each entry of array `key` in the benchmark's JSON. */
  def declared(json: String, key: String): Seq[(String, String)] = {
    val from = json.indexOf("\"" + key + "\"")
    if (from < 0) return Nil
    val body = json.substring(from, json.indexOf("]", from))
    "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
  }

  def run(workdir: String, benchmarkJson: String): Boolean = {
    val results = Seq.newBuilder[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
      results += name -> ok
    }
    val json = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchmarkJson)), "UTF-8")).getOrElse("")
    expect("BENCHMARK.json declares the end-to-end metrics printed", declared(json, "end_to_end") == RunResult.EndToEnd)
    expect("BENCHMARK.json declares the per-layer metrics printed", declared(json, "per_layer") == Layers.units)
    for (w <- Main.Workloads; trace <- Seq(false, true)) {
      val out = Main.run(w, 7, 1.0, trace, s"$workdir/$w-$trace", Sizes.Tiny)
      out.report.foreach(l => println(s"  $l"))
      val want = if (trace) Layers.units else RunResult.EndToEnd
      expect(s"$w trace=$trace runs without failures", out.failed == 0 && out.attempted > 0)
      expect(s"$w trace=$trace prints every metric with its unit",
        out.metrics.map(m => m.name -> m.unit) == want && out.json.startsWith("{\"correct\": true"))
    }
    val spark = Main.session(s"local[${Main.cores}]", s"$workdir/planted")

    // serve: a swapped rerank order differs from the recomputation
    val serve = new ServeBench(7, Sizes.Tiny)
    serve.generate(spark, s"$workdir/planted/serve")
    val q = serve.request(0)
    val rows = serve.serveOne(spark, q, Tracer.off)
    val u = rows.head._1
    val swapped = rows.map {
      case (`u`, i, 1) => (u, i, 2)
      case (`u`, i, 2) => (u, i, 1)
      case r => r
    }
    expect("serve checker accepts the engine's answer", ServeCheck.sameAsReference(serve.data, q, rows, serve))
    expect("serve checker rejects a swapped rerank order",
      ServeCheck.wellFormed(serve.data, q, swapped, serve.N3, serve.HistoryLen) &&
        !ServeCheck.sameAsReference(serve.data, q, swapped, serve))

    // ingest: a dropped KV put
    val ingest = new IngestBench(7, Sizes.Tiny)
    ingest.generate(spark, s"$workdir/planted/ingest")
    BenchKV.dropNext = 1
    val ir = ingest.run(spark, 1.0, Tracer.off)
    expect("ingest checker rejects a dropped KV put",
      ir.failed > 0 && ir.checks.exists(c => c.name == "ingest.kv" && !c.ok))

    // etl: an excluded user leaked into the training output
    val etl = new EtlBench(7, Sizes.Tiny)
    etl.generate(spark, s"$workdir/planted/etl")
    val out = etl.pass(spark, Tracer.off, 0)
    expect("etl checker accepts the engine's output", EtlCheck.check(spark, out, etl.expected, full = true).ok)
    val excluded = spark.read.parquet(s"$out/excluded").head().getString(0)
    spark.read.parquet(s"$out/training").limit(1).withColumn("user_id", lit(excluded))
      .write.mode("append").parquet(s"$out/training")
    expect("etl checker rejects a leaked excluded user",
      !EtlCheck.check(spark, out, etl.expected, full = true).ok)

    // dedup: an exact duplicate kept
    val dedup = new DedupBench(7, Sizes.Tiny)
    dedup.generate(spark, s"$workdir/planted/dedup")
    val (kept, _) = dedup.pass(spark, Tracer.off, 0)
    val e = dedup.expected
    val dup = e.nonFamilyPassing -- e.mustKeep
    expect("dedup checker accepts the engine's survivors", DedupCheck.check(e, kept, dedup.TargetDetectPct).ok)
    expect("dedup corpus has an exact copy to plant", dup.nonEmpty)
    expect("dedup checker rejects a kept exact duplicate",
      dup.nonEmpty && !DedupCheck.check(e, kept :+ dup.head, dedup.TargetDetectPct).ok)
    spark.stop()
    val all = results.result()
    println(s"[selftest] ${all.count(_._2)}/${all.size} passed")
    all.forall(_._2)
  }
}
