package graft

import graft.streaming.BehaviorIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Top-level object so executor-side deserialization resolves back to this
  * JVM singleton (an inner object would be cloned and its writes lost). */
object CountingKV extends BehaviorIngest.KVStore {
  val puts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def put(k: String, v: String): Unit = puts.add(k)
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run `body` under the RocksDB state store provider (the state-v2
    * contract) and restore the session's previous provider after. */
  private def withStateV2(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("IndexMonitor.cellDriftStream: stream ≡ batch, drift joins the fit baseline") {
    implicit val sql = spark.sqlContext
    import graft.streaming.IndexMonitor
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val fit = Seq((0L, 10L, 0.9), (1L, 5L, 0.8))
      .toDF("cell", "n_fit", "mean_cos_fit")
    // two event-time windows; rows 1/2/4 are cell-0-ish, row 3 cell 1
    val rows = Seq(
      (1L, Seq(0.9f, 0.1f), 10L), (2L, Seq(0.8f, 0.2f), 20L),
      (3L, Seq(0.1f, 0.9f), 70L), (4L, Seq(1.0f, 0.0f), 75L))
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.toDF("id", "emb", "sec")
        .withColumn("ts", timestamp_seconds($"sec"))
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val q = IndexMonitor.cellDriftStream(prep(mem.toDF()), "emb", "ts",
        cents, Some(fit), "1 minute", "2 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("cell_drift").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val cols = Seq("window_start", "window_end", "cell", "n_new",
      "mean_cos_new", "n_fit", "mean_cos_fit", "cos_drift")
    val got = spark.table("cell_drift")
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    q.stop()
    val batch = IndexMonitor.cellDriftStream(prep(rows.toDF()), "emb",
        "ts", cents, Some(fit), "1 minute", "2 minutes")
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    assert(got == batch, s"stream $got\nbatch $batch")
    // shape: window 0 holds the two cell-0 rows, window 1 one row per
    // cell; every row carries its baseline delta
    assert(batch.size == 3)
    assert(batch.forall(r => r(7) != null), "every cell has a fit baseline")
  }

  test("IndexMonitor.pqDistortionStream: stream ≡ batch, drift joins the 1-row baseline") {
    implicit val sql = spark.sqlContext
    import graft.streaming.IndexMonitor
    // 2 subspaces × 2 centroids over 4-dim vectors
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val fit = Seq((10L, 0.05)).toDF("n_fit", "mean_err_fit")
    // rows split across two 1-minute windows; nonzero reconstruction
    // error so the drift column is informative
    val rows = Seq(
      (1L, Seq(0.9f, 0.1f, 0.8f, 0.2f), 10L),
      (2L, Seq(0.8f, 0.2f, 0.9f, 0.1f), 20L),
      (3L, Seq(0.1f, 0.9f, 0.2f, 0.8f), 70L))
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.toDF("id", "emb", "sec")
        .withColumn("ts", timestamp_seconds($"sec"))
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val q = IndexMonitor.pqDistortionStream(prep(mem.toDF()), "emb", "ts",
        cb, Some(fit), "1 minute", "2 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("pq_distortion").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val cols = Seq("window_start", "window_end", "n_new", "mean_err_new",
      "n_fit", "mean_err_fit", "err_drift")
    val got = spark.table("pq_distortion")
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    q.stop()
    val batch = IndexMonitor.pqDistortionStream(prep(rows.toDF()), "emb",
        "ts", cb, Some(fit), "1 minute", "2 minutes")
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    assert(got == batch, s"stream $got\nbatch $batch")
    assert(batch.size == 2, "two event-time windows")
    assert(batch.forall(r => r(6) != null), "every window carries drift")
  }

  test("IndexMonitor.cellDriftStream: UPDATE mode with fitStats — the production shape") {
    // the drift-join path (stream-static join AFTER the windowed
    // aggregation) in the output mode a real monitor runs: update +
    // watermark eviction, across two triggers where the second trigger
    // RE-UPDATES an open window — pins that Spark accepts the
    // post-aggregation join there and re-emits joined rows
    implicit val sql = spark.sqlContext
    import graft.streaming.IndexMonitor
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val fit = Seq((0L, 10L, 0.9), (1L, 5L, 0.8))
      .toDF("cell", "n_fit", "mean_cos_fit")
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.toDF("id", "emb", "sec")
        .withColumn("ts", timestamp_seconds($"sec"))
    val batch1 = Seq((1L, Seq(0.9f, 0.1f), 10L), (2L, Seq(0.8f, 0.2f), 20L))
    val batch2 = Seq((3L, Seq(1.0f, 0.0f), 40L), // window 0 again → update
      (4L, Seq(0.1f, 0.9f), 70L), (5L, Seq(1.0f, 0.0f), 75L))
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val q = IndexMonitor.cellDriftStream(prep(mem.toDF()), "emb", "ts",
        cents, Some(fit), "1 minute", "2 minutes")
      .writeStream.outputMode("update")
      .format("memory").queryName("cell_drift_upd").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val cols = Seq("window_start", "window_end", "cell", "n_new",
      "mean_cos_new", "n_fit", "mean_cos_fit", "cos_drift")
    val emitted = spark.table("cell_drift_upd")
      .selectExpr(cols: _*).collect().map(_.toSeq)
    q.stop()
    val expected = IndexMonitor.cellDriftStream(
        prep((batch1 ++ batch2).toDF()), "emb", "ts",
        cents, Some(fit), "1 minute", "2 minutes")
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    // every final (batch-computed) row was emitted, joined columns
    // included, and the update stream covered exactly the final key set
    assert(expected.subsetOf(emitted.toSet),
      s"final rows missing from updates:\n${expected -- emitted.toSet}")
    assert(emitted.map(r => (r(0), r(2))).toSet ==
      expected.map(r => (r(0), r(2))))
    // window 0 / cell 0 was emitted TWICE — n_new 2 then 3 — proving a
    // genuine update re-passed through the stream-static drift join
    val w0c0 = emitted.filter(r => r(2) == 0L &&
      r(0).asInstanceOf[java.sql.Timestamp].getTime == 0L).map(_(3)).toSet
    assert(w0c0 == Set(2L, 3L), s"got $w0c0")
    assert(emitted.forall(r => r(7) != null))
  }

  private val msgs = Seq(
    """{"user_id":"u1","history_items":["i1","i2"],"timestamp":100}""",
    """{"user_id":"u2","history_items":["i3"],"timestamp":200}""",
    """{"user_id":"u1","history_items":["i1","i2","i4"],"timestamp":300}""",
    """not json at all""",
    """{"user_id":null,"history_items":["x"],"timestamp":1}""")

  test("parse applies the reference schema and null guards") {
    val parsed = BehaviorIngest.parse(msgs.toDF("value"))
    val rows = parsed.as[(String, Seq[String], Long)].collect().sortBy(_._3)
    assert(rows.map(_._1).toSeq == Seq("u1", "u2", "u1"))
    assert(rows.head._2 == Seq("i1", "i2"))
  }

  test("profileSink writes versioned user_profile keys executor-side") {
    BehaviorIngest.InMemoryKV.clear()
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(msgs: _*)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = BehaviorIngest.profileSink(
      BehaviorIngest.parse(mem.toDF()), BehaviorIngest.InMemoryKV, ckpt).start()
    q.processAllAvailable(); q.stop()
    val kv = BehaviorIngest.InMemoryKV.data
    assert(kv.get("user_profile:u1:100") == """["i1","i2"]""")
    assert(kv.get("user_profile:u1:300") == """["i1","i2","i4"]""")
    assert(kv.get("user_profile:u2:200") == """["i3"]""")
    assert(kv.size() == 3) // malformed + null rows dropped
  }

  test("latestProfiles keeps the max-timestamp profile per user across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val profiles = BehaviorIngest.latestProfiles(
      BehaviorIngest.parse(mem.toDF()))
    val q = profiles.writeStream.outputMode("update")
      .format("memory").queryName("latest_profiles").start()
    mem.addData(msgs(0), msgs(1))
    q.processAllAvailable()
    mem.addData(msgs(2)) // newer u1
    q.processAllAvailable()
    val out = spark.table("latest_profiles")
      .groupBy($"user_id").agg(max($"timestamp").as("ts"))
      .as[(String, Long)].collect().toMap
    q.stop()
    assert(out("u1") == 300L && out("u2") == 200L)
  }

  test("latestProfiles re-emits the stored profile when an older event re-arrives") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("rearrival_ck").toString
    val q = BehaviorIngest.latestProfiles(BehaviorIngest.parse(mem.toDF()))
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .format("memory").queryName("rearrival_profiles").start()
    mem.addData(msgs(2)) // u1 @ ts 300
    q.processAllAvailable()
    mem.addData(msgs(0)) // u1 again, with an OLDER timestamp (100)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("rearrival_profiles")
      .as[(String, Seq[String], Long)].collect().toSeq
    // one emit per batch, both the ts=300 profile: the incoming row loses
    // the fold against the stored one
    assert(out == Seq.fill(2)(("u1", Seq("i1", "i2", "i4"), 300L)),
      out.toString)
    // and the engine's state still holds ts=300 after the re-arrival
    val stored = spark.read.format("statestore").load(ckpt)
      .select($"key.value", $"value.groupState.timestamp")
      .as[(String, Long)].collect().toSeq
    assert(stored == Seq(("u1", 300L)), stored.toString)
  }

  test("latestProfiles with a TTL drops a stale user's state after the timeout") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val profiles = BehaviorIngest.latestProfiles(
      BehaviorIngest.parse(mem.toDF()), ttl = Some("100 milliseconds"))
    val q = profiles.writeStream.outputMode("update")
      .format("memory").queryName("ttl_profiles").start()
    // NOTE: with ProcessingTimeTimeout the engine schedules batches
    // continuously (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    // always true), so `processAllAvailable` never latches its no-new-data
    // flag — poll the sink table with a deadline instead. The continuous
    // empty batches are also what FIRES the expired timer between our adds.
    def awaitTs(ts: Long): Boolean = {
      val deadline = System.currentTimeMillis + 20000
      def seen = spark.table("ttl_profiles")
        .where($"user_id" === "u1" && $"timestamp" === ts).count() > 0
      while (!seen && System.currentTimeMillis < deadline) Thread.sleep(50)
      seen
    }
    mem.addData(msgs(2)) // u1 @ ts 300
    assert(awaitTs(300L), "u1@300 never reached the sink")
    Thread.sleep(1000) // >> TTL: u1's timer expires and an empty batch
    // fires it, removing the state (the removal itself emits nothing)
    mem.addData(msgs(0)) // u1 again, with an OLDER timestamp (100)
    // With state dropped, the re-arrival emits ts=100; surviving state
    // would have pinned the max at 300 (the NoTimeout test above).
    val dropped = awaitTs(100L)
    q.stop()
    assert(dropped, "stale state survived the TTL: ts=100 never emitted")
  }

  test("runningTopK (state-v2) converges to the batch graft_topk answer") {
    implicit val sql = spark.sqlContext
    withStateV2 {
      val batch1 = Seq(("u1", "a", 1.0), ("u1", "b", 3.0), ("u2", "x", 5.0))
      val batch2 = Seq(("u1", "c", 2.0), ("u1", "d", 0.5), ("u2", "x", 5.0),
        ("u1", "e", 3.0)) // u2 re-arrival duplicates x (multiset, like the agg)
      val mem = MemoryStream[(String, String, Double)]
      val updates = BehaviorIngest.runningTopK(
        mem.toDF().toDF("user_id", "item_id", "score")
          .as[BehaviorIngest.Scored], k = 3)
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName("tws_topk").start()
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val snaps = spark.table("tws_topk")
        .as[(String, Seq[String], Seq[Double])].collect().toSeq
      q.stop()
      // both users updated in both batches (u2's duplicate row changes
      // its top-k multiset exactly as the batch aggregate would keep it)
      assert(snaps.count(_._1 == "u1") == 2)
      assert(snaps.count(_._1 == "u2") == 2)
      val finalByUser = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      // batch twin over ALL rows via the native aggregate
      val expect = (batch1 ++ batch2).toDF("user_id", "item_id", "score")
        .groupBy($"user_id")
        .agg(graft.functions.TopKAgg.topK(struct($"score", $"item_id"), 3).as("t"))
        .select($"user_id", transform($"t", x => x.getField("item_id")).as("items"),
          transform($"t", x => x.getField("score")).as("scores"))
        .as[(String, Seq[String], Seq[Double])].collect()
        .map(r => r._1 -> r).toMap
      assert(finalByUser("u1") == expect("u1"))
      assert(finalByUser("u2") == expect("u2"))
    }
  }

  test("rollingFeaturesStream (state-v2) equals batch rollingFeatures") {
    implicit val sql = spark.sqlContext
    withStateV2 {
      // per-user event-time order across batches (the streaming contract);
      // batch 1 arrives shuffled WITHIN the batch to exercise the re-sort
      val batch1 = Seq(("u1", 3L, 30L, 6.0), ("u1", 1L, 10L, 2.0),
        ("u2", 4L, 15L, 1.0), ("u1", 2L, 20L, 4.0))
      val batch2 = Seq(("u1", 5L, 45L, 8.0), ("u2", 6L, 90L, 3.0))
      val mem = MemoryStream[(String, Long, Long, Double)]
      val feats = BehaviorIngest.rollingFeaturesStream(
        mem.toDF().toDF("user_id", "event_id", "ts", "value")
          .as[BehaviorIngest.FeatEvent], lastN = 2)
      val q = feats.writeStream.outputMode("append")
        .format("memory").queryName("tws_rollfeat").start()
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("tws_rollfeat")
        .as[(Long, String, Option[Long], Long, Double, Double)]
        .collect().toSet
      q.stop()
      val expect = graft.ops.PrefixWindow.rollingFeatures(
          (batch1 ++ batch2).toDF("user_id", "event_id", "ts", "value"),
          "user_id", "ts", "value", lastN = 2, tieBreak = Seq($"event_id"))
        .select($"event_id", $"user_id", $"gap", $"roll_n", $"roll_sum",
          $"roll_mean")
        .as[(Long, String, Option[Long], Long, Double, Double)]
        .collect().toSet
      assert(got == expect)
    }
  }

  test("funnelStream (state-v2) final state equals the batch funnel") {
    implicit val sql = spark.sqlContext
    withStateV2 {
      // u1 full funnel split across batches; u2 purchases before
      // clicking (depth stalls at 2); u3 views only; u4 clicks with no
      // view (never enters). Batch 1 arrives shuffled within the batch.
      val batch1 = Seq(("u1", 2L, 20L, "click"), ("u1", 1L, 10L, "view"),
        ("u2", 4L, 10L, "view"), ("u2", 5L, 15L, "purchase"),
        ("u4", 9L, 5L, "click"))
      val batch2 = Seq(("u1", 3L, 30L, "purchase"), ("u2", 6L, 20L, "click"),
        ("u3", 7L, 12L, "view"), ("u2", 8L, 25L, "view"))
      val mem = MemoryStream[(String, Long, Long, String)]
      val rows = BehaviorIngest.funnelStream(
        mem.toDF().toDF("user_id", "event_id", "ts", "event_type")
          .as[BehaviorIngest.FunnelEvent])
      val q = rows.writeStream.outputMode("update")
        .format("memory").queryName("tws_funnel").start()
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // update-mode memory sink keeps every emission: the LAST row per
      // user is the converged funnel state
      val got = spark.table("tws_funnel")
        .withColumn("__r", monotonically_increasing_id())
        .groupBy($"user_id").agg(max_by(
          struct($"t_view", $"t_click", $"t_purchase", $"depth"), $"__r")
          .as("s"))
        .select($"user_id", $"s.*")
        .as[(String, Option[Long], Option[Long], Option[Long], Long)]
        .collect().map(r => r._1 -> r).toMap
      q.stop()
      val batch = graft.ops.Behavior.funnel(
          (batch1 ++ batch2).toDF("user_id", "event_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .select($"user_id", $"t_view", $"t_click", $"t_purchase", $"depth")
        .as[(String, Option[Long], Option[Long], Option[Long], Long)]
        .collect().map(r => r._1 -> r).toMap
      assert(got == batch)
      assert(got("u1")._5 == 3L && got("u2")._5 == 2L &&
        got("u3")._5 == 1L && !got.contains("u4"))
    }
  }

  test("cdcApplySink merges a change feed into the snapshot across batches") {
    implicit val sql = spark.sqlContext
    val tableDir = java.nio.file.Files.createTempDirectory("cdc_tbl").toString
    new java.io.File(tableDir).delete() // sink creates it on first batch
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ck").toString
    val mem = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q = BehaviorIngest.cdcApplySink(
        mem.toDF().toDF("k", "s", "v", "seq", "del"),
        "k", "seq", "del", tableDir, ckpt)
      .start()
    // batch 1: three inserts (one of them deleted-before-seen → dropped)
    mem.addData((1L, "a", 1.0, 10L, false), (2L, "b", 2.0, 11L, false),
      (9L, "x", 9.0, 12L, true))
    q.processAllAvailable()
    // batch 2: update k1, delete k2, insert k3, and TWO changes for k4
    // in one batch (seq 20 then 21 — latest must win)
    mem.addData((1L, "a2", 1.5, 20L, false), (2L, "b", 2.0, 21L, true),
      (3L, "c", 3.0, 22L, false),
      (4L, "d-old", 4.0, 20L, false), (4L, "d-new", 4.5, 21L, false))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(tableDir)
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a2", 1.5), (3L, "c", 3.0), (4L, "d-new", 4.5)))
  }

  test("partitionedTableSink restates only touched partitions on replay") {
    implicit val sql = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("ptsink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ptsink_ck").toString
    val mem = MemoryStream[String]
    val q = BehaviorIngest.partitionedTableSink(
      BehaviorIngest.parse(mem.toDF()), "user_id", out, ckpt).start()
    mem.addData(msgs(0), msgs(1)) // u1@100, u2@200 → partitions u1, u2
    q.processAllAvailable()
    def rows() = spark.read.parquet(out)
      .select($"user_id", $"timestamp").as[(String, Long)].collect().toSet
    assert(rows() == Set(("u1", 100L), ("u2", 200L)))
    mem.addData(msgs(2)) // u1@300 → dynamic overwrite of partition u1 ONLY
    q.processAllAvailable()
    q.stop()
    // u1's partition was RESTATED (100 replaced by 300); u2 untouched —
    // append mode would have kept both u1 rows
    assert(rows() == Set(("u1", 300L), ("u2", 200L)), rows().toString)
  }

  test("nearDupsPlanned: the band planner drives the streaming dedup") {
    implicit val sql = spark.sqlContext
    // at (16 hashes, j=0.5, target 80%) the plan is (8, 2) — pin that
    // the planned stream equals the explicit-bands stream on the same
    // input (same claims, same matches), i.e. the planner only CHOOSES,
    // the operator semantics are untouched
    assert(graft.llmops.Dedup.bandPlan(16, 0.5, 80) == ((8, 2)))
    withStateV2 {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().take(200)
    def run(name: String,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[
          graft.streaming.StreamingDedup.DupCandidate]): Set[(Long, Long, Double)] = {
      val mem = MemoryStream[(Long, String)]
      val q = mk(mem.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      mem.addData(docs: _*); q.processAllAvailable(); q.stop()
      spark.table(name).as[(Long, Long, Double)].collect().toSet
    }
    val planned = run("sdp_planned", df =>
      graft.streaming.StreamingDedup.nearDupsPlanned(df, "doc_id", "text",
        shingleN = 3, numHashes = 16, minJaccard = 0.5,
        targetDetectPct = 80, maxClaimants = 100000))
    val explicit = run("sdp_explicit", df =>
      graft.streaming.StreamingDedup.nearDups(df, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 8, minJaccard = 0.5,
        maxClaimants = 100000))
    assert(planned == explicit,
      s"planned ${planned.size} pairs vs explicit ${explicit.size}")
    }
  }

  test("bandReplanIfUndershot as a foreachBatch maintenance caller: the decision flips mid-stream") {
    implicit val sql = spark.sqlContext
    import graft.llmops.Dedup
    // the policy's operational form — a periodic maintenance job over
    // the ingested-so-far corpus, run per micro-batch via foreachBatch
    // (exactly the caller the scaladoc's quiet-interval gate exists
    // for). Batch 1 ships only an exact-dup pair: the (16, 8) planned
    // layout detects it → KEEP. Batch 2 ships low-overlap docs whose
    // pairs qualify at the j ≥ 0.05 operating point but the banding
    // can't see → the SAME caller now decides REPLAN. Pins that the
    // decision is a pure function of corpus-so-far (no hidden state)
    // and flips exactly when the evidence does.
    val seen = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        corpus ++= batch.as[(Long, String)].collect()
        seen += Dedup.bandReplanIfUndershot(
          corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 8, minJaccardPct = 5,
          targetDetectPct = 80).collect().head
        ()
      }.start()
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"))
    q.processAllAvailable()
    mem.addData(
      (3L, "x y z a1 a2 a3 a4 a5 a6 a7"),
      (4L, "x y z b1 b2 b3 b4 b5 b6 b7"))
    q.processAllAvailable()
    q.stop()
    assert(seen.size == 2)
    assert(seen(0).getLong(0) == 0L, "exact-dup-only corpus must KEEP")
    assert(seen(1).getLong(0) == 1L,
      "the undetected low-j bucket must flip the decision to REPLAN")
    assert(seen(1).getLong(1) == 2L, "remedy is LENGTHEN at 16 hashes")
  }

  test("MinHash band end-to-end maintenance rehearsal: plan → quiet KEEP → " +
      "undershoot → REPLAN adopted by the serving layout → audit re-passes " +
      "and the missed pair is detected") {
    implicit val sql = spark.sqlContext
    import graft.llmops.Dedup
    // the IVF rehearsal's twin for the banding family: the flip test
    // above pins that the DECISION fires; this drives the full loop —
    // the mandated layout is ADOPTED, the audit re-runs under it until
    // KEEP (the ladder guarantees analytic qualification; the re-audit
    // confirms it on the actual corpus and takes a further rung when
    // practice still undershoots), and the serving pair generator under
    // the final layout detects the pair the old layout missed.
    var nh = 16
    var bands = 8 // the PLAN stage's (16, 8) layout
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    // (replan, action, nh-after, bands-after) per audit invocation
    val decisions =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        corpus ++= batch.as[(Long, String)].collect()
        var acted = true
        var guard = 0
        while (acted && guard < 4) {
          val d = Dedup.bandReplanIfUndershot(
            corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text",
            shingleN = 3, numHashes = nh, bands = bands,
            minJaccardPct = 5, targetDetectPct = 80).collect().head
          acted = d.getLong(0) == 1L
          if (acted) {
            nh = d.getLong(8).toInt    // new_num_hashes
            bands = d.getLong(9).toInt // new_bands
          }
          decisions += ((d.getLong(0), d.getLong(1), nh, bands))
          guard += 1
        }
        ()
      }.start()
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"))
    q.processAllAvailable()
    assert(decisions.toSeq == Seq((0L, 0L, 16, 8)),
      s"exact-dup-only corpus must KEEP the planned layout: $decisions")
    mem.addData(
      (3L, "x y z a1 a2 a3 a4 a5 a6 a7"),
      (4L, "x y z b1 b2 b3 b4 b5 b6 b7"))
    q.processAllAvailable()
    q.stop()
    val after = decisions.drop(1)
    assert(after.head._1 == 1L && after.head._2 == 2L &&
      after.head._3 == 32 && after.head._4 == 32,
      s"the j≈0.07 pair must fire LENGTHEN to (32, 32): $after")
    assert(after.last._1 == 0L,
      s"the maintenance loop must converge to KEEP: $after")
    // ENFORCE: the adopted serving layout detects the pair the plan-time
    // layout missed (threshold 0 = banding candidates, the audit's own
    // detection definition)
    def servedPairs(h: Int, b: Int): Set[(Long, Long)] =
      Dedup.minHashPairsPortable(corpus.toSeq.toDF("doc_id", "text"),
          "doc_id", "text", shingleN = 3, numHashes = h, bands = b,
          minJaccard = 0.0)
        .select($"doc_a", $"doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!servedPairs(16, 8).contains((3L, 4L)),
      "fixture invariant: the plan-time layout misses the low-j pair")
    assert(servedPairs(nh, bands).contains((3L, 4L)),
      s"the adopted ($nh, $bands) layout must detect the missed pair")
  }

  test("signReplanIfUndershot as a foreachBatch maintenance caller: the decision flips mid-stream") {
    implicit val sql = spark.sqlContext
    import graft.llmops.SimSearch
    // the sign-LSH twin of the bandReplanIfUndershot caller test:
    // batch 1 ships only spread vectors with no qualifying pair — the
    // quiet-interval gate KEEPs (no evidence, never a vacuous fire).
    // Batch 2 ships a near-collinear family whose c ≈ 0.97 pairs the
    // single-band (16, 1) layout misses → the SAME caller decides
    // REPLAN with the ladder's k = 0 REBAND (16, 8 × 2). Pins that the
    // decision is a pure function of corpus-so-far.
    val seen = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])]()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        corpus ++= batch.as[(Long, Seq[Double])].collect()
        seen += SimSearch.signReplanIfUndershot(
          corpus.toSeq.toDF("id", "v"), "id", "v", dim = 4,
          nBits = 16, bands = 1, minCosinePct = 40,
          targetDetectPct = 80).collect().head
        ()
      }.start()
    mem.addData((10L, Seq(1.0, 0.0, 0.0, -1.0)),
      (11L, Seq(0.0, 1.0, -1.0, 0.0)), (12L, Seq(-1.0, 0.0, 0.0, -1.0)))
    q.processAllAvailable()
    mem.addData((0 to 4).map(i =>
      (i.toLong, Seq(1.0, 0.05 * i, 0.03 * i, 1.0))): _*)
    q.processAllAvailable()
    q.stop()
    assert(seen.size == 2)
    assert(seen(0).getLong(0) == 0L && seen(0).getLong(2) == 0L,
      "no qualifying pairs must KEEP via the quiet gate")
    assert(seen(1).getLong(0) == 1L && seen(1).getLong(1) == 1L,
      "the undetected collinear bucket must flip the decision to REBAND")
    assert(seen(1).getLong(9) == 8L, "remedy is 8 bands at 16 bits")
  }

  test("sign-LSH end-to-end maintenance rehearsal: quiet KEEP → undershoot → " +
      "REBAND adopted by the serving pair generator → audit re-passes and " +
      "detection is complete at the operating point") {
    implicit val sql = spark.sqlContext
    import graft.llmops.SimSearch
    // the banding rehearsal's sign-LSH twin: the flip test above pins
    // the decision; here the mandated layout is ADOPTED, the audit
    // loops to KEEP under it, and the serving candidate generator under
    // the final layout detects EVERY exact pair at the operating point
    // (completeness — the property the trigger measures per bucket).
    var nBits = 16
    var bands = 1 // the under-banded plan the drift exposes
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])]()
    val decisions =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        corpus ++= batch.as[(Long, Seq[Double])].collect()
        var acted = true
        var guard = 0
        while (acted && guard < 4) {
          val d = SimSearch.signReplanIfUndershot(
            corpus.toSeq.toDF("id", "v"), "id", "v", dim = 4,
            nBits = nBits, bands = bands, minCosinePct = 40,
            targetDetectPct = 80).collect().head
          acted = d.getLong(0) == 1L
          if (acted) {
            nBits = d.getLong(8).toInt // new_n_bits
            bands = d.getLong(9).toInt // new_bands
          }
          decisions += ((d.getLong(0), d.getLong(1), nBits, bands))
          guard += 1
        }
        ()
      }.start()
    mem.addData((10L, Seq(1.0, 0.0, 0.0, -1.0)),
      (11L, Seq(0.0, 1.0, -1.0, 0.0)), (12L, Seq(-1.0, 0.0, 0.0, -1.0)))
    q.processAllAvailable()
    assert(decisions.toSeq == Seq((0L, 0L, 16, 1)),
      s"no qualifying pairs must KEEP via the quiet gate: $decisions")
    mem.addData((0 to 4).map(i =>
      (i.toLong, Seq(1.0, 0.05 * i, 0.03 * i, 1.0))): _*)
    q.processAllAvailable()
    q.stop()
    val after = decisions.drop(1)
    assert(after.head._1 == 1L && after.head._2 == 1L &&
      after.head._3 == 16 && after.head._4 == 8,
      s"the collinear family must fire REBAND to (16, 8): $after")
    assert(after.last._1 == 0L,
      s"the maintenance loop must converge to KEEP: $after")
    // ENFORCE: detection completeness at the operating point under the
    // adopted layout; the plan-time layout provably was not complete
    val embs = corpus.toSeq.toDF("id", "v")
    val truth = SimSearch.cosinePairs(embs, "id", "v", minCosine = 0.4)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    def served(nb: Int, b: Int): Set[(Long, Long)] =
      SimSearch.lshPairs(embs, "id", "v", dim = 4, minCosine = 0.4,
          nBits = nb, bands = b)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!truth.subsetOf(served(16, 1)),
      "fixture invariant: the single-band layout misses qualifying pairs")
    assert(truth.subsetOf(served(nBits, bands)),
      s"the adopted ($nBits, $bands) layout must detect every exact " +
        s"pair at cos ≥ 0.4")
  }

  test("PQ codebook end-to-end maintenance rehearsal: quiet KEEP → " +
      "distortion drift → REFIT → serving codebooks adopt the emitted " +
      "source → reconstruction error improves over the stale codebooks") {
    implicit val sql = spark.sqlContext
    import graft.llmops.{IndexMaintenance, SimSearch}
    import graft.functions.VectorOps
    // the fifth family's composition scenario (IVF cells, MinHash bands
    // and sign-LSH rehearse above; PQ codebooks rehearse here): the
    // serving codebooks are the md5-pulled fit-time source; an
    // incoming slice that quantizes ≥ ratioPct/100 worse fires REFIT,
    // whose emission IS the new codebook source; adopting it must
    // strictly improve reconstruction error over the full served
    // corpus. dim=8, m=2 subspaces, k=4 codes.
    val dim = 8; val m = 2; val k = 4; val subDim = dim / m
    def vecOf(seed: Int, scale: Double): Seq[Double] =
      Seq.tabulate(dim)(i => (((seed * 7 + i * 3) % 11) - 5) * 0.1 * scale)
    val fitRows = (0 until 8).map(i => (i.toLong, vecOf(i, 1.0)))
    val iidRows = (0 until 8).map(i => (100L + i, vecOf(i, 1.0)))
    val driftRows = (0 until 8).map(i => (200L + i, vecOf(i, 3.0)))
    val idToVec: Map[Long, Seq[Double]] =
      (fitRows ++ iidRows ++ driftRows).toMap
    val fit = fitRows.toDF("item_id", "vec")
    def policy(f: org.apache.spark.sql.DataFrame,
        inc: org.apache.spark.sql.DataFrame) =
      SimSearch.pqRefitIfDistorted(f, inc, "item_id", "vec",
        dim = dim, m = m, k = k, ratioPct = 150).collect()
    def cbOf(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Seq[Double]]] = {
      val ids = rows.sortBy(_.getLong(5)).map(_.getLong(6)) // cb_rank, id
      (0 until m).map(sub => ids.map(id =>
        idToVec(id).slice(sub * subDim, sub * subDim + subDim)).toSeq)
    }
    // PLAN: bootstrap through the policy's quiet interval — the KEEP
    // emission is the fit-time md5-pulled codebook source
    val bootstrap = policy(fit, fit.limit(0))
    assert(bootstrap.head.getLong(0) == 0L && bootstrap.length == k)
    var fitCorpus = fit
    var servingCb = cbOf(bootstrap)
    val staleCb = servingCb
    val decisions = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("item_id", "vec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val rows = policy(fitCorpus, batch)
          decisions += rows.head.getLong(0)
          if (rows.head.getLong(0) == 1L) {
            servingCb = cbOf(rows)
            fitCorpus = fitCorpus.unionAll(batch)
          }
        }
        ()
      }.start()
    // ── 1. iid interval: EXACT copies of the fit population, so
    //       mean_err_new = mean_err_fit (ratio 100 < 150) → KEEP,
    //       serving source unchanged ──
    mem.addData(iidRows: _*)
    q.processAllAvailable()
    assert(decisions.toSeq == Seq(0L),
      s"an iid slice must KEEP the codebooks: $decisions")
    assert(servingCb == staleCb, "KEEP must not move the serving source")
    // ── 2. drift interval: every coordinate ×3 → squared error ×9 vs
    //       the fit codebooks → REFIT; the emission prefers the
    //       union's md5 pull over fit ∪ incoming ──
    mem.addData(driftRows: _*)
    q.processAllAvailable()
    q.stop()
    assert(decisions.toSeq == Seq(0L, 1L),
      s"the scaled slice must fire REFIT: $decisions")
    assert(servingCb != staleCb, "REFIT must re-derive the codebooks")
    // ── 3. ENFORCE (the v9 bound discipline): over the full served
    //       corpus, the adopted codebooks must reconstruct strictly
    //       better than the stale fit-time ones ──
    val corpusNow = (fitRows ++ iidRows ++ driftRows).toDF("item_id", "vec")
    def meanErr(cb: Seq[Seq[Seq[Double]]]): Double = corpusNow
      .select(VectorOps.pqSqError(
        VectorOps.pqAssign($"vec".cast("array<double>"), cb)).as("e"))
      .agg(avg($"e")).head().getDouble(0)
    val (stale, adopted) = (meanErr(staleCb), meanErr(servingCb))
    assert(adopted < stale,
      f"adopted codebooks must beat the stale ones on the served " +
        f"corpus: adopted=$adopted%.6f stale=$stale%.6f")
  }

  test("simHashWidenIfUndershot as a foreachBatch maintenance caller: the decision flips mid-stream") {
    implicit val sql = spark.sqlContext
    import graft.llmops.Dedup
    // batch 1: unique docs, no h ≤ 3 pair → quiet KEEP; batch 2: two
    // exact-dup triples under a cap of 1 — every pair's buckets are
    // starved, the SAME caller decides WIDEN (64 → 128)
    val seen = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        corpus ++= batch.as[(Long, String)].collect()
        seen += Dedup.simHashWidenIfUndershot(
          corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text",
          maxHamming = 3, targetDetectPct = 99, maxBucket = 1)
          .collect().head
        ()
      }.start()
    mem.addData(
      (100L, "completely different words about seven red foxes jumping"),
      (101L, "unrelated prose concerning twelve blue whales swimming deep"))
    q.processAllAvailable()
    mem.addData(((0 to 2).map(i => (i.toLong, "alpha beta gamma delta")) ++
      (10 to 12).map(i => (i.toLong, "epsilon zeta eta theta iota"))): _*)
    q.processAllAvailable()
    q.stop()
    assert(seen.size == 2)
    assert(seen(0).getLong(0) == 0L && seen(0).getLong(1) == 0L,
      "no qualifying pairs must KEEP via the quiet gate")
    assert(seen(1).getLong(0) == 1L && seen(1).getLong(7) == 128L,
      "starved dup pairs must flip the decision to WIDEN")
  }

  test("IndexMonitor.recallFloorEachBatch: stream ≡ batch per micro-batch, the floor flips when the index goes stale") {
    implicit val sql = spark.sqlContext
    import graft.llmops.{IndexMaintenance, SimSearch}
    import graft.streaming.IndexMonitor
    // a serving-index snapshot that covers only HALF the corpus — the
    // staleness a continuously-enforced recall floor exists to catch.
    // Batch 1's queries hit the covered half (recall 100% ≥ floor 80
    // → above_floor 1); batch 2's queries' true neighbors live only in
    // the uncovered half (recall 0% → above_floor 0): the SAME caller
    // flips mid-stream, the replan-policy KEEP→ACT discipline applied
    // to the ENFORCE stage. Orthogonal basis vectors make every truth
    // assignment exact — no cosine knife edges.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 0.0, 1.0)))
      .toDF("item_id", "vec")
    val serving = corpus.where($"item_id" <= 2L)
    def approxOf(q: org.apache.spark.sql.DataFrame) =
      SimSearch.bruteForceTopK(q, serving, "qid", "qv",
        "item_id", "vec", k = 1)
    def truthOf(q: org.apache.spark.sql.DataFrame) =
      SimSearch.bruteForceTopK(q, corpus, "qid", "qv",
        "item_id", "vec", k = 1)
        .select($"query_id", $"item_id")
    val keys = Seq("query_id", "item_id")
    val seen = scala.collection.mutable
      .ArrayBuffer[(Long, org.apache.spark.sql.Row)]()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = IndexMonitor.recallFloorEachBatch(
        mem.toDF().toDF("qid", "qv"), approxOf, truthOf, keys, 80) {
      (bid, row) => seen += ((bid, row)); ()
    }.start()
    val b1 = Seq((10L, Seq(0.9, 0.1, 0.0, 0.0)),
      (11L, Seq(0.1, 0.9, 0.0, 0.0)))
    val b2 = Seq((20L, Seq(0.0, 0.0, 0.9, 0.1)),
      (21L, Seq(0.0, 0.0, 0.1, 0.9)))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(seen.size == 2)
    assert(seen(0)._2.getLong(0) == 2L && seen(0)._2.getLong(1) == 1L,
      s"covered-half queries must sit above the floor: ${seen(0)}")
    assert(seen(1)._2.getLong(0) == 2L && seen(1)._2.getLong(1) == 0L,
      s"uncovered-half queries must trip the floor: ${seen(1)}")
    // stream ≡ batch: each micro-batch's decision row IS the batch
    // recallFloor over exactly that batch's query slice — no hidden
    // state, no accumulation
    Seq(b1, b2).zipWithIndex.foreach { case (slice, i) =>
      val qs = slice.toDF("qid", "qv")
      val batchRow = IndexMaintenance.recallFloor(
        approxOf(qs), truthOf(qs), keys, 80).head()
      assert(batchRow == seen(i)._2,
        s"batch $i: stream ${seen(i)._2} vs batch $batchRow")
    }
  }

  test("IVF end-to-end maintenance rehearsal: plan → quiet KEEP → drift → " +
      "audit fires → REFIT → serving probe adopts the emitted index → " +
      "recall floor re-passes (the IndexMaintenance lifecycle in sequence)") {
    implicit val sql = spark.sqlContext
    import graft.llmops.{IndexMaintenance, SimSearch}
    import graft.streaming.IndexMonitor
    // Every lifecycle stage is individually registered and oracle-checked
    // (sim15 plan sizing, sim19 audit, sim22/23 act, sim28/29 enforce,
    // ivfTopKWithCents serving); this scenario drives ONE index through
    // all of them IN SEQUENCE over streams — the r14 verdict's missing
    // composition test. Fixture geometry (4-dim, three orthogonal
    // directions) makes every decision exact:
    //  - fit world: 6 docs ≈ e1 (+ tiny distinct e2 leans), 6 docs ≈ e2
    //  - iid batch: 4 more of the same — balanced load, no cosine drift
    //  - drift batch: 12 identical vectors along e3 (+0.2·e1) — a
    //    direction NO fit-time centroid covers: all land in one cell
    //    (skew) at cosine ≈0.2 vs the cell's ≈0.999 fit mean (drift)
    //  - the e3 QUERY leans e2 (+0.2·e2), so under the STALE index it
    //    probes an e2-ish cell while the e3 corpus rows sit in an
    //    e1-ish cell — recall 0; under the refit index both rank the
    //    pulled e3 centroid first (cos ≈0.96 vs ≤0.2) — recall 100.
    def lean(main: Int, minor: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(i =>
        (if (i == main) 1.0 else 0.0) + (if (i == minor) eps else 0.0))
    val fitRows = (0 until 6).map(i => (100L + i, lean(0, 1, 0.01 * (i + 1)))) ++
      (0 until 6).map(i => (200L + i, lean(1, 0, 0.01 * (i + 1))))
    val iidRows = Seq((300L, lean(0, 1, 0.015)), (301L, lean(0, 1, 0.025)),
      (302L, lean(1, 0, 0.015)), (303L, lean(1, 0, 0.025)))
    val driftRows = (0 until 12).map(i => (400L + i, lean(2, 0, 0.2)))
    val idToVec: Map[Long, Seq[Double]] =
      (fitRows ++ iidRows ++ driftRows).toMap
    val fit = fitRows.toDF("item_id", "vec")
    val targetCell = 2L // autoCells(12, 2) = 6 cells; post-drift 28/2 = 14

    // PLAN: bootstrap the serving index through the SAME policy a
    // maintenance loop runs — a quiet (empty) interval is a KEEP that
    // emits the fit-time md5-pulled centroid source at autoCells size
    val bootstrap = SimSearch.refitIfDrifted(fit, fit.limit(0),
      "item_id", "vec", targetCell, skewFactor = 4, driftMilli = 50,
      minCellN = 2).collect()
    assert(bootstrap.head.getLong(0) == 0L &&
      bootstrap.head.getLong(3) == 6L,
      s"quiet bootstrap must KEEP at 6 cells: ${bootstrap.head}")
    def centsOf(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Double]] =
      rows.sortBy(_.getLong(4)).map(r => idToVec(r.getLong(5))).toSeq

    var corpusNow = fit
    var servingCents = centsOf(bootstrap)
    val staleCents = servingCents
    val decisions = scala.collection.mutable
      .ArrayBuffer[(Long, Long, Long, Long)]() // refit, skew, drift, nCells

    // the ingest stream drives the ACT policy per micro-batch; the
    // emitted index source replaces the serving centroids on REFIT
    val ingest = MemoryStream[(Long, Seq[Double])]
    val maint = ingest.toDF().toDF("item_id", "vec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val rows = SimSearch.refitIfDrifted(corpusNow, batch,
            "item_id", "vec", targetCell, skewFactor = 4,
            driftMilli = 50, minCellN = 2).collect()
          val h = rows.head
          decisions += ((h.getLong(0), h.getLong(1), h.getLong(2),
            h.getLong(3)))
          corpusNow = corpusNow.unionAll(batch)
          if (h.getLong(0) == 1L) servingCents = centsOf(rows)
        }
        ()
      }.start()

    // the query stream drives ENFORCE: per batch of queries, the floor
    // decision over the CURRENT serving index (the vars the maintenance
    // stream maintains) against brute truth on the CURRENT corpus
    val keys = Seq("query_id", "item_id")
    def approxOf(q: org.apache.spark.sql.DataFrame) =
      SimSearch.ivfTopKWithCents(q, corpusNow, "qid", "qv",
        "item_id", "vec", k = 1, servingCents, nProbe = 1)
        .select($"query_id", $"item_id")
    def truthOf(q: org.apache.spark.sql.DataFrame) =
      SimSearch.bruteForceTopK(q, corpusNow, "qid", "qv",
        "item_id", "vec", k = 1).select($"query_id", $"item_id")
    val floors = scala.collection.mutable
      .ArrayBuffer[(Long, org.apache.spark.sql.Row)]()
    val queries = MemoryStream[(Long, Seq[Double])]
    val enforce = IndexMonitor.recallFloorEachBatch(
      queries.toDF().toDF("qid", "qv"), approxOf, truthOf, keys, 80) {
      (bid, row) => floors += ((bid, row)); ()
    }.start()

    // ── 1. iid interval: audit quiet → KEEP, floor passes ──
    ingest.addData(iidRows: _*)
    maint.processAllAvailable()
    assert(decisions.last == ((0L, 0L, 0L, 6L)),
      s"iid batch must KEEP the 6-cell index: ${decisions.last}")
    // identical-to-corpus query vectors: probe and assignment share the
    // same argmax, so the floor isolates INDEX health from geometry luck
    queries.addData((1L, idToVec(100L)), (2L, idToVec(200L)))
    enforce.processAllAvailable()
    assert(floors.last._2.getLong(0) == 2L &&
      floors.last._2.getLong(1) == 1L,
      s"fit-time floor must pass: ${floors.last}")

    // ── 2. drift interval: both triggers fire → REFIT at 14 cells ──
    ingest.addData(driftRows: _*)
    maint.processAllAvailable()
    assert(decisions.last._1 == 1L && decisions.last._4 == 14L,
      s"drift batch must REFIT at autoCells(28,2)=14: ${decisions.last}")
    assert(decisions.last._2 == 1L,
      s"12 rows into one of 6 cells must trip load skew: ${decisions.last}")
    assert(decisions.last._3 == 1L,
      s"cos ≈0.2 vs ≈0.999 fit mean must trip drift: ${decisions.last}")
    assert(servingCents.size == 14 &&
      servingCents.exists(_(2) == 1.0),
      "the refit emission must carry e3-direction centroids")

    // ── 3. ENFORCE re-passes on the refit index; the stale index would
    //      have failed the SAME floor query ──
    val e3Query = Seq((3L, lean(2, 1, 0.2)))
    queries.addData(e3Query: _*)
    enforce.processAllAvailable()
    assert(floors.last._2.getLong(0) == 1L &&
      floors.last._2.getLong(1) == 1L,
      s"post-REFIT floor must pass on the e3 query: ${floors.last}")
    val q3 = e3Query.toDF("qid", "qv")
    val stale = IndexMaintenance.recallFloor(
      SimSearch.ivfTopKWithCents(q3, corpusNow, "qid", "qv",
        "item_id", "vec", k = 1, staleCents, nProbe = 1)
        .select($"query_id", $"item_id"),
      truthOf(q3), keys, 80).head()
    assert(stale.getLong(1) == 0L,
      s"the pre-ACT index must fail the same floor (staleness is what " +
        s"the lifecycle exists to catch): $stale")
    // stream ≡ batch: the enforced decision row is the batch recallFloor
    // over exactly that batch's query slice (sim28's registered shape)
    val batchRow = IndexMaintenance.recallFloor(
      approxOf(q3), truthOf(q3), keys, 80).head()
    assert(batchRow == floors.last._2,
      s"stream ${floors.last._2} vs batch $batchRow")

    maint.stop(); enforce.stop()
  }

  test("residual IVF-PQ composition rehearsal: a cell REFIT forces the " +
      "codebook refit — the coupled (cents, codebooks) adoption beats both " +
      "the stale pair and the incoherent half-update") {
    implicit val sql = spark.sqlContext
    import graft.llmops.{IndexMaintenance, SimSearch}
    import graft.functions.VectorOps
    import graft.functions.GraftFunctions.rankCells
    // The IndexMaintenance matrix documents the residual layout (sim33)
    // as the COMPOSITION of the IVF and PQ rows: cell drift is detected
    // and acted on by refitIfDrifted, and because codes store y − c(y), a cell
    // REFIT invalidates the residual space — the maintenance caller must
    // re-derive codebooks against the NEW cells in the same step. This
    // scenario makes that executable: same fit/iid geometry as the IVF
    // rehearsal (decisions proven exact there), but the drift cluster
    // carries WITHIN-cluster spread along e3 (0.3·(i%4)) so post-refit
    // residuals are non-trivial and the codebooks genuinely matter. The
    // md5-pulled 14-cell emission covers drift classes {0,2,3} but NOT
    // class 1 (ids 401/405/409), so class-1 rows keep a (0,0,0,−0.3)
    // residual — representable only by a codebook fit on the new
    // residual space (stale codebooks saw e0/e1-lean residuals whose
    // (e2,e3) subspace is identically zero).
    def lean(main: Int, minor: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(i =>
        (if (i == main) 1.0 else 0.0) + (if (i == minor) eps else 0.0))
    val fitRows = (0 until 6).map(i => (100L + i, lean(0, 1, 0.01 * (i + 1)))) ++
      (0 until 6).map(i => (200L + i, lean(1, 0, 0.01 * (i + 1))))
    val iidRows = Seq((300L, lean(0, 1, 0.015)), (301L, lean(0, 1, 0.025)),
      (302L, lean(1, 0, 0.015)), (303L, lean(1, 0, 0.025)))
    val driftRows = (0 until 12).map(i =>
      (400L + i, Seq(0.2, 0.0, 1.0, 0.3 * (i % 4))))
    val idToVec: Map[Long, Seq[Double]] =
      (fitRows ++ iidRows ++ driftRows).toMap
    val fit = fitRows.toDF("item_id", "vec")

    // residual frame + codebook derivation against a given centroid set.
    // Codebooks here are the k most frequent distinct residual
    // subvectors (deterministic mode pull — the fixture's residual
    // support is discrete); production fits VectorOps.pqTrain on the
    // same frame. Either way the INPUT is the point: residuals w.r.t.
    // the centroids currently serving.
    def residualsOf(df: org.apache.spark.sql.DataFrame,
        cents: Seq[Seq[Double]]): org.apache.spark.sql.DataFrame = {
      val centArr = array(cents.map(cv => array(cv.map(lit): _*)): _*)
      df.select($"item_id", $"vec".cast("array<double>").as("__v"))
        .withColumn("__res", zip_with($"__v",
          element_at(centArr,
            element_at(rankCells($"__v", cents, 1), 1) + 1),
          (a, b) => a - b))
        .select($"item_id", $"__res".as("vec"))
    }
    def cbOf(res: org.apache.spark.sql.DataFrame): Seq[Seq[Seq[Double]]] =
      (0 until 2).map { s =>
        res.select(slice($"vec", s * 2 + 1, 2).as("sv"))
          .groupBy($"sv").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"sv".asc)
          .limit(2).collect().map(_.getSeq[Double](0).toSeq).toSeq
      }
    def centsOf(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Double]] =
      rows.sortBy(_.getLong(4)).map(r => idToVec(r.getLong(5))).toSeq

    // PLAN: bootstrap (cents, codebooks) TOGETHER through a quiet KEEP
    val bootstrap = SimSearch.refitIfDrifted(fit, fit.limit(0),
      "item_id", "vec", 2, skewFactor = 4, driftMilli = 50,
      minCellN = 2).collect()
    assert(bootstrap.head.getLong(0) == 0L)
    var corpusNow = fit
    var servingCents = centsOf(bootstrap)
    var servingCb = cbOf(residualsOf(corpusNow, servingCents))
    val staleCents = servingCents
    val staleCb = servingCb
    val acts = scala.collection.mutable.ArrayBuffer[Long]()

    val ingest = MemoryStream[(Long, Seq[Double])]
    val maint = ingest.toDF().toDF("item_id", "vec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val rows = SimSearch.refitIfDrifted(corpusNow, batch,
            "item_id", "vec", 2, skewFactor = 4, driftMilli = 50,
            minCellN = 2).collect()
          acts += rows.head.getLong(0)
          corpusNow = corpusNow.unionAll(batch)
          if (rows.head.getLong(0) == 1L) {
            // the composition contract: adopt cells AND re-derive the
            // codebooks from the residual space those cells induce
            servingCents = centsOf(rows)
            servingCb = cbOf(residualsOf(corpusNow, servingCents))
          }
        }
        ()
      }.start()

    // ── 1. iid interval: KEEP — neither half of the pair moves ──
    ingest.addData(iidRows: _*)
    maint.processAllAvailable()
    assert(acts.toSeq == Seq(0L), s"iid must KEEP: $acts")
    assert(servingCents == staleCents && servingCb == staleCb)
    // ── 2. drift interval: REFIT adopts the coupled pair ──
    ingest.addData(driftRows: _*)
    maint.processAllAvailable()
    maint.stop()
    assert(acts.toSeq == Seq(0L, 1L), s"drift must REFIT: $acts")
    assert(servingCents.size == 14 && servingCents != staleCents)
    assert(servingCb != staleCb,
      "a cell refit must force the codebook refit")
    // the new codebooks must carry the e3-residual support the stale
    // ones cannot express (their (e2,e3) subspace entries are all-zero)
    assert(servingCb(1).exists(e => e(1) != 0.0),
      s"refit codebooks must span the e3 residual direction: ${servingCb(1)}")

    // ── 3. ENFORCE, codebook axis: mean residual quantization error
    //       over the served corpus — the coupled adoption must beat the
    //       incoherent half-update (new cells + stale codebooks), which
    //       must itself beat the fully stale pair ──
    def meanResErr(cents: Seq[Seq[Double]],
        cb: Seq[Seq[Seq[Double]]]): Double =
      residualsOf(corpusNow, cents)
        .select(VectorOps.pqSqError(
          VectorOps.pqAssign($"vec".cast("array<double>"), cb)).as("e"))
        .agg(avg($"e")).head().getDouble(0)
    val eAdopted = meanResErr(servingCents, servingCb)
    val eHalfway = meanResErr(servingCents, staleCb)
    val eStale = meanResErr(staleCents, staleCb)
    assert(eAdopted < eHalfway,
      f"coupled refit must beat cells-only adoption: " +
        f"adopted=$eAdopted%.6f halfway=$eHalfway%.6f")
    assert(eHalfway < eStale,
      f"new cells alone must still beat the stale pair: " +
        f"halfway=$eHalfway%.6f stale=$eStale%.6f")

    // ── 4. ENFORCE, serving axis: the e3 class-1 query (e1-lean, so the
    //       stale index probes a B-ish cell while every drift row sits
    //       in an A-ish cell) — adopted pair serves the true neighbor
    //       at rank 1 and passes a 100% floor; the stale pair fails it ──
    val q = Seq((1L, Seq(0.0, 0.2, 1.0, 0.3))).toDF("qid", "qv")
    val keys = Seq("query_id", "item_id")
    def face(cents: Seq[Seq[Double]], cb: Seq[Seq[Seq[Double]]]) =
      SimSearch.ivfPqResidualTopKWithCents(q, corpusNow, "qid", "qv",
          "item_id", "vec", k = 1, nProbe = 1, cents, cb)
        .select($"query_id", $"item_id")
    val truth = SimSearch.bruteForceTopK(q, corpusNow, "qid", "qv",
      "item_id", "vec", k = 1).select($"query_id", $"item_id")
    assert(face(servingCents, servingCb).as[(Long, Long)].collect()
      .toSeq == Seq((1L, 401L)),
      "the adopted pair must rank the true class-1 neighbor first")
    val okRow = IndexMaintenance.recallFloor(
      face(servingCents, servingCb), truth, keys, 100).head()
    assert(okRow.getLong(1) == 1L, s"adopted floor must pass: $okRow")
    val staleRow = IndexMaintenance.recallFloor(
      face(staleCents, staleCb), truth, keys, 100).head()
    assert(staleRow.getLong(1) == 0L,
      s"the stale pair must fail the same floor: $staleRow")
  }

  test("streaming near-dup (state-v2) matches the batch incremental dedup") {
    implicit val sql = spark.sqlContext
    withStateV2 {
      val docs = Tables.documents(spark, TestSpark.sf)
        .select($"doc_id".cast("long"), $"text").as[(Long, String)].collect()
      val base = docs.filter(_._1 % 2 == 0)
      val incoming = docs.filter(_._1 % 2 == 1)
      val mem = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamingDedup.nearDups(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, minJaccard = 0.2,
        maxClaimants = 100000)
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("sdedup").start()
      mem.addData(base: _*); q.processAllAvailable()
      mem.addData(incoming: _*); q.processAllAvailable()
      q.stop()
      val baseIds = base.map(_._1).toSet
      val newIds = incoming.map(_._1).toSet
      // batch-2 docs matched against batch-1 claims; intra-batch matches
      // (new×new, base×base) are out of the cross-set twin's scope
      val got = spark.table("sdedup").as[(Long, Long, Double)].collect()
        .toSet.filter(t => newIds(t._1) && baseIds(t._2))
      val expect = graft.llmops.Dedup.minHashMatchesAgainst(
        Tables.documents(spark, TestSpark.sf).where($"doc_id" % 2 === 1),
        Tables.documents(spark, TestSpark.sf).where($"doc_id" % 2 === 0),
        "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        minJaccard = 0.2, maxBucket = 100000)
        .as[(Long, Long, Double)].collect().toSet
      assert(expect.nonEmpty, "fixture produced no cross-side near-dups")
      assert(got == expect,
        s"stream ${got.size} pairs vs batch ${expect.size}")
    }
  }

  test("streaming near-dup TTL re-baselines: expired claims stop matching") {
    implicit val sql = spark.sqlContext
    withStateV2 {
      val text = "the quick brown fox jumps over the lazy dog tonight"
      val mem = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamingDedup.nearDups(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, minJaccard = 0.9,
        // wide enough that batch scheduling latency can't eat the window
        ttl = Some(java.time.Duration.ofSeconds(3)))
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("sdedup_ttl").start()
      def rows() = spark.table("sdedup_ttl")
        .as[(Long, Long, Double)].collect().toSeq
      def await(pred: => Boolean): Boolean = {
        val deadline = System.currentTimeMillis + 20000
        while (!pred && System.currentTimeMillis < deadline) Thread.sleep(50)
        pred
      }
      mem.addData((1L, text)) // claims its band buckets
      mem.addData((2L, text)) // identical while claims are live → matches 1
      assert(await(rows().exists(r => r._1 == 2L && r._2 == 1L)),
        s"live claim did not match: ${rows()}")
      Thread.sleep(4500) // > TTL: doc 1 AND doc 2's claims expire
      mem.addData((3L, text)) // buckets empty again → no match, re-claims
      Thread.sleep(800) // give a wrong match a chance to (not) appear
      assert(rows().forall(_._1 != 3L),
        s"doc 3 matched an expired claim: ${rows()}")
      mem.addData((4L, text)) // matches the RE-claimed doc 3, not 1/2
      assert(await(rows().exists(r => r._1 == 4L && r._2 == 3L)),
        s"re-claim did not match: ${rows()}")
      assert(rows().forall(r => r._1 != 4L || r._2 == 3L),
        s"doc 4 matched an expired claim: ${rows()}")
      q.stop()
    }
  }

  test("kafkaSink wires the producer format, topic and payload contract (S4)") {
    val parsed = BehaviorIngest.parse(msgs.toDF("value"))
    // payload contract: key = user id, value = JSON of the full record
    val payload = BehaviorIngest.kafkaPayload(parsed)
    assert(payload.columns.toSeq == Seq("key", "value"))
    val u1Values = payload.where($"key" === "u1")
      .select($"value").as[String].collect().toSeq
    assert(u1Values.size == 2) // both u1 records, keyed by user id
    assert(u1Values.exists(v => v.contains(""""history_items":["i1","i2"]""")
      && v.contains(""""timestamp":100""")))
    assert(u1Values.forall(_.contains(""""user_id":"u1"""")))
    // writer wiring: format + broker/topic options, checked via the
    // writer's own state (no broker in this container to start against)
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val w = BehaviorIngest.kafkaSink(BehaviorIngest.parse(mem.toDF()),
      servers = "broker:9092", topic = "user_behavior", checkpoint = "/tmp/ck")
    val fields = w.getClass.getDeclaredFields.map { f =>
      f.setAccessible(true); f.getName -> f.get(w)
    }.toMap
    assert(fields.values.exists(_ == "kafka"), "format not set to kafka")
    val opts = fields.values.collectFirst {
      case m: scala.collection.Map[_, _]
        if m.asInstanceOf[scala.collection.Map[String, String]]
          .exists(_._1.toLowerCase == "topic") =>
        m.asInstanceOf[scala.collection.Map[String, String]]
          .map { case (k, v) => k.toLowerCase -> v }
    }
    assert(opts.isDefined, "no options map with a topic on the writer")
    assert(opts.get("topic") == "user_behavior")
    assert(opts.get("kafka.bootstrap.servers") == "broker:9092")
  }

  test("recoverSwap heals both crash windows of the snapshot commit") {
    def mkTable(dir: java.io.File, marker: String, success: Boolean): Unit = {
      dir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(dir, "part-00000").toPath, marker)
      if (success)
        java.nio.file.Files.writeString(
          new java.io.File(dir, "_SUCCESS").toPath, "")
    }
    def marker(dir: java.io.File): String =
      java.nio.file.Files.readString(
        new java.io.File(dir, "part-00000").toPath)
    val root = java.nio.file.Files.createTempDirectory("swap").toFile
    // window 1 — crash BETWEEN the two renames: live absent, .old holds
    // the prior snapshot, .next is _SUCCESS-complete (its merge already
    // happened) → roll FORWARD, the replayed batch must see .next
    val t1 = new java.io.File(root, "t1")
    mkTable(new java.io.File(root, "t1.next"), "merged", success = true)
    mkTable(new java.io.File(root, "t1.old"), "prior", success = true)
    BehaviorIngest.recoverSwap(t1.getPath)
    assert(t1.exists() && marker(t1) == "merged")
    // window 2 — live absent but .next incomplete (no _SUCCESS): the
    // merge never finished → roll BACK to the prior snapshot
    val t2 = new java.io.File(root, "t2")
    mkTable(new java.io.File(root, "t2.next"), "torn", success = false)
    mkTable(new java.io.File(root, "t2.old"), "prior", success = true)
    BehaviorIngest.recoverSwap(t2.getPath)
    assert(t2.exists() && marker(t2) == "prior")
    // healthy table: recoverSwap must be a no-op even with stale .next
    val t3 = new java.io.File(root, "t3")
    mkTable(t3, "live", success = true)
    mkTable(new java.io.File(root, "t3.next"), "stale", success = true)
    BehaviorIngest.recoverSwap(t3.getPath)
    assert(marker(t3) == "live")
  }

  // The one gap the container can't close by itself: a real-broker
  // round-trip. Runs only when the driver provides a broker via
  // KAFKA_BOOTSTRAP (and the spark-sql-kafka connector jar); otherwise
  // cancels with a clear reason. Produce goes through the SAME
  // (key, value) payload contract the streaming kafkaSink uses, consume
  // through the S1 source → S2 parse → S3 executor-side profile upsert.
  test("Kafka E2E: produce -> readStream -> profileSink round-trip " +
      "(S1/S3/S4, gated on KAFKA_BOOTSTRAP)") {
    assume(sys.env.contains("KAFKA_BOOTSTRAP"),
      "set KAFKA_BOOTSTRAP=<host:port> to run the real-broker round-trip")
    assume(
      try {
        Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
        true
      } catch { case _: ClassNotFoundException => false },
      "spark-sql-kafka connector jar not on the classpath")
    val servers = sys.env("KAFKA_BOOTSTRAP")
    val topic = s"graft_e2e_${java.util.UUID.randomUUID().toString.take(8)}"
    BehaviorIngest.kafkaPayload(BehaviorIngest.parse(msgs.toDF("value")))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()
    BehaviorIngest.InMemoryKV.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("kafka_e2e").toString
    val q = BehaviorIngest.profileSink(
      BehaviorIngest.parse(
        BehaviorIngest.kafkaSource(spark, servers, topic,
          startingOffsets = "earliest")),
      BehaviorIngest.InMemoryKV, ckpt).start()
    try {
      // poll: broker publish→fetch latency is real, processAllAvailable
      // only drains offsets the source has already discovered
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (BehaviorIngest.InMemoryKV.data.size() < 3 &&
          System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
    } finally q.stop()
    val kv = BehaviorIngest.InMemoryKV.data
    assert(kv.containsKey("user_profile:u1:100"), s"missing u1:100 in $kv")
    assert(kv.containsKey("user_profile:u2:200"), s"missing u2:200 in $kv")
    assert(kv.containsKey("user_profile:u1:300"), s"missing u1:300 in $kv")
    assert(kv.get("user_profile:u2:200") == """["i3"]""")
  }

  test("observe counters report per-batch ingest metrics (A8)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(msgs: _*)
    val counted = BehaviorIngest.withCounters(
      BehaviorIngest.parse(mem.toDF()))
    val q = counted.writeStream.outputMode("append")
      .format("memory").queryName("obs_out").start()
    q.processAllAvailable()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest"))).lastOption
    q.stop()
    assert(metrics.isDefined)
    assert(metrics.get.getAs[Long]("events_consumed") == 3L)
    assert(metrics.get.getAs[Long]("items_seen") == 6L)
  }

  test("checkpoint restart resumes offsets without reprocessing (S13)") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val puts = CountingKV.puts
    puts.clear()
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes)
    def run(): Unit = {
      val src = spark.readStream.text(dir)
      val q = BehaviorIngest.profileSink(
        BehaviorIngest.parse(src, "value"), CountingKV, ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    writeFile("a.json", msgs.take(2))
    run()
    assert(puts.size() == 2)
    writeFile("b.json", msgs.drop(2))
    run() // restart from checkpoint: only the new file is processed
    val all = puts.toArray.map(_.toString).toSeq
    assert(all.size == 3, s"reprocessed or lost rows: $all")
    assert(all.distinct.size == 3)
  }

  test("Trigger.AvailableNow drains a file source and terminates (§2.12)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("avnow_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avnow_ckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.json"),
      msgs.take(3).mkString("\n").getBytes)
    BehaviorIngest.InMemoryKV.clear()
    val q = BehaviorIngest.profileSink(
        BehaviorIngest.parse(spark.readStream.text(dir), "value"),
        BehaviorIngest.InMemoryKV, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow query did not terminate")
    assert(BehaviorIngest.InMemoryKV.data.size() == 3)
  }

  test("watermarked dedup drops re-delivered (user, ts) events") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val q = BehaviorIngest.dedupedEvents(
        BehaviorIngest.parse(mem.toDF()), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    mem.addData(msgs(0), msgs(0), msgs(1)) // duplicate delivery of msg 0
    q.processAllAvailable()
    mem.addData(msgs(0)) // late re-delivery in a later batch
    q.processAllAvailable()
    val out = spark.table("dedup_out")
      .select($"user_id", $"timestamp").as[(String, Long)].collect()
    q.stop()
    assert(out.length == 2 && out.toSet == Set(("u1", 100L), ("u2", 200L)))
  }

  test("salted join equals plain join on skewed keys (scale tool)") {
    val big = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_id")
    val small = Tables.events(spark, TestSpark.sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val plain = big.join(small, "user_id")
      .select($"event_id", $"n").as[(Long, Long)].collect().toSet
    val salted = ops.Skew.saltedJoin(big, small, "user_id", 8)
      .select($"event_id", $"n").as[(Long, Long)].collect().toSet
    assert(salted == plain && salted.nonEmpty)
  }

  test("purchaseAttribution stream-stream join equals the batch twin (J6)") {
    implicit val sql = spark.sqlContext
    val ev = Tables.events(spark, TestSpark.sf)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"ts_t".as("ts"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_t".as("ts"))
    val batch = BehaviorIngest.purchaseAttribution(views, purchases)
      .select($"event_id", $"v_ts")
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(batch.nonEmpty)

    val vMem = MemoryStream[(Long, java.sql.Timestamp)]
    val pMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    vMem.addData(views.as[(Long, java.sql.Timestamp)].collect().toSeq: _*)
    pMem.addData(purchases.as[(Long, Long, java.sql.Timestamp)].collect().toSeq: _*)
    val q = BehaviorIngest.purchaseAttribution(
        vMem.toDF().toDF("user_id", "ts"),
        pMem.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    q.processAllAvailable()
    val streamed = spark.table("attr_out").select($"event_id", $"v_ts")
      .as[(Long, java.sql.Timestamp)].collect().toSet
    q.stop()
    assert(streamed == batch)
  }

  test("seeded random fan-out is deterministic (X4)") {
    val users = Tables.events(spark, TestSpark.sf).select($"user_id").distinct()
    // pick 10 rows pseudo-randomly (reference `api_service/main.py:66-68`)
    def fanout(seed: Long) =
      users.orderBy(rand(seed)).limit(10).as[Long].collect().toSet
    val a = fanout(42L)
    val b = fanout(42L)
    assert(a == b && a.size == 10)
    val c = fanout(7L)
    assert(a != c)
  }

  test("session_window groups match manual gap-based sessionization") {
    val gapNs = 3600L * 1000 * 1000 * 1000
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"ts")
    val got = ev
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window($"ts_t", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val manual = ev.as[(Long, Long)].collect().groupBy(_._1).map { case (u, rows) =>
      val ts = rows.map(_._2).sorted.toSeq
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      var cur = 1L
      ts.zip(ts.drop(1)).foreach { case (a, b) =>
        if (b - a >= gapNs) { sizes += cur; cur = 1 } else cur += 1
      }
      sizes += cur
      u -> sizes.sorted.toSeq
    }
    assert(got == manual)
  }

  test("windowedActivity on a stream equals the batch plan") {
    implicit val sql = spark.sqlContext
    val ev = Tables.events(spark, TestSpark.sf)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .select($"user_id", $"ts_t", ($"event_id" % 7).as("item"))
    val batch = BehaviorIngest.windowedActivity(ev, "ts_t", "1 hour", "1 hour",
        itemCol = Some("item"))
      .select($"w_start", $"user_id", $"n_events", $"n_distinct_items")
      .as[(java.sql.Timestamp, Long, Long, Long)].collect().toSet

    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    mem.addData(ev.as[(Long, java.sql.Timestamp, Long)].collect().toSeq: _*)
    val sdf = mem.toDF().toDF("user_id", "ts_t", "item")
    val q = BehaviorIngest.windowedActivity(sdf, "ts_t", "1 hour", "1 hour",
        watermark = "0 seconds", itemCol = Some("item"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("win_counts").start()
    q.processAllAvailable()
    val streamed = spark.table("win_counts")
      .select($"w_start", $"user_id", $"n_events", $"n_distinct_items")
      .as[(java.sql.Timestamp, Long, Long, Long)].collect().toSet
    q.stop()
    assert(streamed == batch)
    // HLL++ is near-exact at these tiny cardinalities (≤ 7 distinct);
    // sanity-pin the estimate against true distinct within ±1
    val exact = ev.groupBy(window($"ts_t", "1 hour"), $"user_id")
      .agg(countDistinct($"item").as("d"))
      .select($"window.start", $"user_id", $"d")
      .as[(java.sql.Timestamp, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(batch.forall(t => math.abs(t._4 - exact((t._1, t._2))) <= 1))
  }

  test("streaming next-event predictions equal the batch m14 rows") {
    implicit val sql = spark.sqlContext
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val trans = ops.Behavior.transitionTopK(ev, "user_id", "ts",
      "event_id", "event_type", 3)
    val batch = SparkEntry.queries("m14_markov_next")(spark, TestSpark.sf)
      .as[(Long, String, String, Double, Long)].collect().toSet
    assert(batch.nonEmpty)

    val mem = MemoryStream[(Long, String, Long, Long)]
    mem.addData(ev.select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, Long, Long)].collect().toSeq: _*)
    val q = BehaviorIngest.nextEventPredictions(
        mem.toDF().toDF("user_id", "event_type", "ts", "event_id"), trans)
      .writeStream.outputMode("update").format("memory")
      .queryName("next_pred").start()
    q.processAllAvailable()
    val streamed = spark.table("next_pred")
      .select($"user_id", $"cur_type", $"next_type",
        round($"p", 6).as("p"), $"rank".cast("long"))
      .as[(Long, String, String, Double, Long)].collect().toSet
    q.stop()
    assert(streamed == batch)
  }
}
