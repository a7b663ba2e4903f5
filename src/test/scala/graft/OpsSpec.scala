package graft

import graft.ops.{AsOf, Layout, PrefixWindow, Sampling, TopK}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("historyAsOf equals the naive filter+sort+lastN per query") {
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_id", $"ts")
    val queries = ev.where($"event_id" % 7 === 0)
      .select($"user_id", $"event_id".as("query_id"), $"ts")
    val got = AsOf.historyAsOf(queries, ev.where($"event_id" % 7 =!= 0),
        "user_id", "ts", "ts", $"event_id", "hist", n = 5,
        tieBreak = $"event_id")
      .select($"query_id", $"hist").as[(Long, Seq[Long])].collect().toMap

    val behaviors = ev.where($"event_id" % 7 =!= 0)
      .as[(Long, Long, Long)].collect()
    val qs = queries.as[(Long, Long, Long)].collect()
    qs.foreach { case (u, qid, qts) =>
      val expect = behaviors.filter(b => b._1 == u && b._3 <= qts)
        .sortBy(b => (b._3, b._2)).map(_._2).takeRight(5).toSeq
      assert(got(qid) == expect, s"query $qid")
    }
  }

  test("nearestAsOf: direction choice, ties backward, exact hit, no-behavior null") {
    val behaviors = Seq((1L, 100L, 10L), (1L, 200L, 20L))
      .toDF("user_id", "bid", "bts")
    val queries = Seq(
      (1L, 1L, 12L),  // closer to 10 (backward)
      (1L, 2L, 17L),  // closer to 20 (forward)
      (1L, 3L, 15L),  // equidistant → backward
      (1L, 4L, 20L),  // exact hit → backward, distance 0
      (2L, 5L, 10L))  // user with no behaviors → null
      .toDF("user_id", "qid", "qts")
    val got = AsOf.nearestAsOf(queries, behaviors, "user_id", "qts", "bts",
        $"bid", "n")
      .select($"qid", $"n.p", $"n.ts")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((Some(100L), Some(10L))))
    assert(got(2L) == ((Some(200L), Some(20L))))
    assert(got(3L) == ((Some(100L), Some(10L))))
    assert(got(4L) == ((Some(200L), Some(20L))))
    assert(got(5L) == ((None, None)))
  }

  test("as-of key prefilter: a broadcast LeftSemi join under the window exchange only for a small deterministic query side") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new AdaptiveSparkPlanHelper {}
    def semi(p: SparkPlan): Boolean = h.find(p) {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    }.isDefined
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_id", $"ts")
    val local = ev.where($"event_id" % 7 === 0).as[(Long, Long, Long)]
      .collect().take(8).toSeq.toDF("user_id", "query_id", "ts")
    // rows and the executed (AQE-final) plan
    def run(q: DataFrame): (Map[Long, List[Long]], SparkPlan) = {
      val df = AsOf.historyAsOf(q, ev, "user_id", "ts", "ts", $"event_id",
        "hist", n = 5, tieBreak = $"event_id")
      val rows = df.collect().map(r =>
        r.getAs[Long]("query_id") ->
          r.getAs[scala.collection.Seq[Long]]("hist").toList).toMap
      (rows, df.queryExecution.executedPlan)
    }
    val (pre, prePlan) = run(local)
    val underExchange = h.collect(prePlan) { case w: WindowExec => w }
      .exists(w => h.collect(w) { case e: ShuffleExchangeLike => e }.exists(semi))
    assert(underExchange, s"expected a LeftSemi broadcast join under the window exchange:\n$prePlan")
    assert(pre.size == 8 && pre.values.exists(_.nonEmpty))
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    val (plain, plainPlan) =
      try { spark.conf.set(conf, "-1"); run(local) }
      finally spark.conf.set(conf, saved)
    assert(!semi(plainPlan), s"threshold -1 must plan the plain union:\n$plainPlan")
    // a nondeterministic query side would differ between its two reads
    val (nondet, nondetPlan) = run(local.where(rand(7) >= 0))
    assert(!semi(nondetPlan), s"a rand() query side must not be read twice:\n$nondetPlan")
    assert(pre == plain && pre == nondet)
  }

  test("prefix-window histories are strict time-prefixes capped at maxHistory") {
    val ev = Tables.events(spark, TestSpark.sf)
    val out = PrefixWindow.samples(ev, "user_id", "ts", $"event_id",
        minHistory = 3, stride = 2, maxHistory = 5, tieBreak = Seq($"event_id"))
      .select($"user_id", $"idx", $"history")
      .as[(Long, Int, Seq[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, idx, h) =>
      assert(h.size == math.min(idx - 1, 5))
      assert(idx > 3 && (idx - 4) % 2 == 0)
    }
  }

  test("padded pads to fixed length and reports true length") {
    val df = Seq(Seq("a", "b"), Seq("a", "b", "c", "d", "e", "f")).toDF("s")
    val (p, n) = PrefixWindow.padded($"s", 4, lit("UNK"))
    val rows = df.select(p.as("p"), n.as("n")).as[(Seq[String], Int)].collect()
    assert(rows(0) == ((Seq("a", "b", "UNK", "UNK"), 2)))
    assert(rows(1) == ((Seq("a", "b", "c", "d"), 4)))
  }

  test("hashSplit is disjoint, exhaustive and ~80/20") {
    val users = Tables.events(spark, TestSpark.sf).select($"user_id").distinct()
    val (tr, te) = Sampling.hashSplit(users, $"user_id", 10, 8)
    val nTr = tr.count(); val nTe = te.count()
    assert(nTr + nTe == users.count())
    assert(tr.join(te, "user_id").count() == 0)
    assert(nTr.toDouble / (nTr + nTe) > 0.6 && nTr.toDouble / (nTr + nTe) < 0.95)
  }

  test("mixtureSample shifts group shares toward the target weights") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = Sampling.mixtureSample(docs, "doc_id", "lang",
      Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
        "zh" -> 0.15), targetFrac = 0.5)
    val shares = out.groupBy($"lang").count().as[(String, Long)]
      .collect().toMap
    val n = shares.values.sum.toDouble
    // 16-bit rate granularity + md5 noise on a few hundred rows: generous
    // tolerance, but the en share must land near 0.4 (corpus is ~0.44 en,
    // so the sampler must actually move it) and no group may vanish
    assert(shares.keySet == Set("en", "de", "es", "fr", "zh"))
    assert(math.abs(shares("en") / n - 0.4) < 0.1)
    // repartitioning must not change membership (pure row-local predicate)
    val out2 = Sampling.mixtureSample(docs.repartition(7), "doc_id", "lang",
      Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
        "zh" -> 0.15), targetFrac = 0.5)
    assert(out2.select($"doc_id").except(out.select($"doc_id")).count() == 0)
    assert(out.select($"doc_id").except(out2.select($"doc_id")).count() == 0)
  }

  test("int8 quantization: codes in range, reconstruction within scale/2") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = graft.functions.VectorOps.quantizeInt8($"embedding")
    val checked = emb.select(
      aggregate(q.getField("codes"), lit(true),
        (ok, c) => ok && c >= 0.0 && c <= 255.0).as("in_range"),
      aggregate(zip_with($"embedding".cast("array<double>"),
          graft.functions.VectorOps.dequantize(q), (x, y) => abs(x - y)),
        lit(0.0), (a, e) => greatest(a, e)).as("max_err"),
      (q.getField("scale") / 2 + lit(1e-12)).as("bound"))
      .as[(Boolean, Double, Double)].collect()
    assert(checked.forall(_._1), "codes must stay within 0..255")
    assert(checked.forall(r => r._2 <= r._3), "|x - dequant| must be <= scale/2")
    // constant vector → scale 0, all-zero codes, exact reconstruction
    val const = Seq(Tuple1(Seq(2.5, 2.5, 2.5))).toDF("embedding")
    val r = const.select(
      graft.functions.VectorOps.quantizeInt8($"embedding").as("q"))
      .select($"q.codes", $"q.mn", $"q.scale")
      .as[(Seq[Double], Double, Double)].head()
    assert(r == ((Seq(0.0, 0.0, 0.0), 2.5, 0.0)))
  }

  test("negative samples never collide with positives") {
    val pos = Tables.events(spark, TestSpark.sf)
      .select($"user_id", ($"event_id" % 50).as("item")).distinct()
    val negs = Sampling.negatives(pos, "user_id", "item", 3, 0, 49)
    val bad = negs.join(
      pos.select($"user_id", $"item".as("neg_item")),
      Seq("user_id", "neg_item"), "left_semi")
    assert(bad.count() == 0)
    assert(negs.count() > 0)
    // deterministic across runs
    assert(Sampling.negatives(pos, "user_id", "item", 3, 0, 49).count() == negs.count())
  }

  test("global topK equals sort-limit") {
    val o = Tables.orders(spark, TestSpark.sf)
    val got = TopK.global(o, Seq($"o_totalprice".desc, $"o_orderkey"), 5)
      .select($"o_orderkey").as[Long].collect().toSeq
    val expect = o.orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(5).select($"o_orderkey").as[Long].collect().toSeq
    assert(got == expect)
  }

  test("rangeJoin matches naive band predicate") {
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_id", $"ts")
    val radius = 3600L * 1000 * 1000 * 1000
    val q = ev.where($"event_id" % 11 === 0)
      .select($"user_id", $"event_id".as("qid"), $"ts")
    val b = ev.select($"user_id", $"event_id".as("bid"), $"ts".as("bts"))
    val got = AsOf.rangeJoin(q, b, "user_id", "ts", "bts", radius)
      .where($"qid" =!= $"bid")
      .select($"qid", $"bid").as[(Long, Long)].collect().toSet
    val naive = q.as("q").join(b.as("b"),
        $"q.user_id" === $"b.user_id" && $"qid" =!= $"bid" &&
          $"bts" >= $"q.ts" - radius && $"bts" <= $"q.ts" + radius)
      .select($"qid", $"bid").as[(Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty)
  }

  test("zValue16 interleaves bits; clusterByZ yields contiguous curve ranges") {
    // x=0b11, y=0b01 → z bits: x0@0, y0@1, x1@2, y1@3 → 0b0111 = 7
    val known = Seq((3L, 1L, 7L), (0L, 0L, 0L), (65535L, 0L, 0x55555555L),
      (0L, 65535L, 0xAAAAAAAAL), (65535L, 65535L, 0xFFFFFFFFL))
    val got = known.map(_._1).zip(known.map(_._2)).toDF("x", "y")
      .select(Layout.zValue16($"x", $"y")).as[Long].collect().toSeq
    assert(got == known.map(_._3))
    // scramble row order, cluster into 8 range partitions: every
    // partition's z-interval must be disjoint from and ordered against
    // the next (that contiguity is what makes file-level min/max tight)
    val df = (1L to 4000L).map(i => (i * 2654435761L % 65536L,
      i * 40503L % 65536L)).toDF("x", "y").repartition(13)
    val ranges = Layout.clusterByZ(df, $"x", $"y", 8)
      .select(Layout.zValue16($"x", $"y").as("z"))
      .mapPartitions(it => {
        val zs = it.map(_.getLong(0)).toSeq
        if (zs.isEmpty) Iterator.empty
        else Iterator((zs.min, zs.max, zs == zs.sorted))
      }).collect().sortBy(_._1)
    assert(ranges.nonEmpty && ranges.forall(_._3), "rows sorted within files")
    ranges.sliding(2).foreach {
      case Array((_, hi, _), (lo, _, _)) => assert(hi <= lo, "overlapping ranges")
      case _ =>
    }
  }

  test("PQ: known assignments, decode round-trip, trained codebooks beat k=1") {
    import graft.functions.VectorOps
    // 4-dim vectors, m=2 subspaces × 2 dims, k=2 centroids per subspace
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), // subspace 0
      Seq(Seq(0.0, 1.0), Seq(1.0, 0.0))) // subspace 1
    val df = Seq(
      (1L, Seq(0.1, 0.1, 0.9, 0.1)), // → codes (0, 1)
      (2L, Seq(0.9, 0.8, 0.1, 0.9))) // → codes (1, 0)
      .toDF("id", "v")
    val a = VectorOps.pqAssign($"v", cb)
    val got = df.select($"id", VectorOps.pqCodes(a).as("c"),
        VectorOps.pqSqError(a).as("e"),
        VectorOps.pqDecode(VectorOps.pqCodes(a), cb).as("r"))
      .as[(Long, Seq[Long], Double, Seq[Double])].collect().sortBy(_._1)
    assert(got(0)._2 == Seq(0L, 1L) && got(1)._2 == Seq(1L, 0L))
    assert(got(0)._4 == Seq(0.0, 0.0, 1.0, 0.0))
    // v1: sub0 → (0,0) at 0.01+0.01; sub1 (0.9,0.1) → (1,0) at 0.01+0.01
    assert(math.abs(got(0)._3 - 0.04) < 1e-9)
    // ADC identity: Σ_s lut[s][code_s] = squared distance to the decoded
    // vector — q=(0.2,0,0.5,0.5) vs item 1's decode (0,0,1,0) → 0.54
    val adc = df.where($"id" === 1)
      .select(VectorOps.pqAdcDist(
        VectorOps.pqAdcLut(typedLit(Seq(0.2, 0.0, 0.5, 0.5)), cb),
        VectorOps.pqCodes(a)))
      .as[Double].head()
    assert(math.abs(adc - 0.54) < 1e-9)
    // trained k=4 codebooks reduce quantization error vs the optimal
    // single centroid (k=1 k-means = the subspace mean)
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val trained = VectorOps.pqTrain(emb, "embedding", dim = 64, m = 4, k = 4)
    assert(trained.length == 4 && trained.forall(_.length == 4) &&
      trained.forall(_.forall(_.length == 16)))
    val meanVec = emb.select(posexplode($"embedding".cast("array<double>"))
        .as(Seq("p", "v")))
      .groupBy($"p").agg(avg($"v").as("m")).orderBy($"p")
      .select($"m").as[Double].collect().toSeq
    val mean1 = (0 until 4).map(s => Seq(meanVec.slice(s * 16, s * 16 + 16)))
    def totalErr(c: Seq[Seq[Seq[Double]]]): Double = emb.select(
        VectorOps.pqSqError(VectorOps.pqAssign($"embedding", c)))
      .as[Double].collect().sum
    assert(totalErr(trained) < totalErr(mean1))
  }

  test("randomProject: JL norm/inner-product preservation, deterministic") {
    import graft.functions.{GraftFunctions, VectorOps}
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val proj = emb.select($"vec_id",
      $"embedding".cast("array<double>").as("x"),
      VectorOps.randomProject($"embedding", 64, 16).as("y"))
    // E[‖y‖²] = ‖x‖² under the scaled sign matrix; corpus-averaged the
    // ratio must concentrate near 1 (16 output dims → sd ≈ √(2/16))
    val ratio = proj.select(
        (GraftFunctions.dot($"y", $"y") / GraftFunctions.dot($"x", $"x"))
          .as("r"))
      .agg(avg($"r")).as[Double].head()
    assert(ratio > 0.7 && ratio < 1.3, s"mean norm ratio $ratio")
    assert(proj.select($"y").head().getSeq[Double](0).length == 16)
    // plan-time literal matrix → bit-identical across runs
    val a = proj.select($"vec_id", $"y").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).take(5).toSeq
    val b = proj.select($"vec_id", $"y").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).take(5).toSeq
    assert(a == b)
  }

  test("shardAssign: total, reproducible, positions dense per shard") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, TestSpark.sf).select($"doc_id")
    def run() = Sampling.shardAssign(docs, $"doc_id", 8)
      .as[(Long, Long, Long)].collect().toSet
    val a = run()
    assert(a.size == docs.count()) // total: every row sharded once
    assert(a == run())             // pure function of the key
    a.groupBy(_._2).foreach { case (_, rows) =>
      val ps = rows.map(_._3).toSeq.sorted
      assert(ps == (1L to ps.size)) // dense 1..n within each shard
    }
  }

  test("w10_scd2: intervals chain gaplessly, exactly one current per user") {
    val rows = SparkEntry.queries("w10_scd2")(spark, TestSpark.sf)
      .select($"user_id", $"valid_from", $"valid_to")
      .as[(Long, Long, Option[Long])].collect()
    val byUser = rows.groupBy(_._1)
    byUser.values.foreach { vs =>
      assert(vs.count(_._3.isEmpty) == 1) // one open (current) version
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, Some(to)), (_, from, _)) => assert(to == from)
        case _ =>
      }
      assert(sorted.last._3.isEmpty) // the open version is the latest
    }
  }

  test("v4_pq_trained: trained codebooks never lose to v3's literal ones") {
    // the registered rows-only twin (v4) must beat-or-match its
    // oracle-exact twin (v3) on total quantization error — k-means
    // centers fit the corpus, v3's pseudo-random sample rows don't
    def total(q: String): Double =
      SparkEntry.queries(q)(spark, TestSpark.sf)
        .agg(sum($"sq_err")).as[Double].head()
    assert(total("v4_pq_trained") <= total("v3_pq_encode"))
  }

  test("compact coalesces a many-small-files dir, preserving the data") {
    val src = java.nio.file.Files.createTempDirectory("compact_in").toString
    val dst = java.nio.file.Files.createTempDirectory("compact_out").toString
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"event_id", $"user_id", $"value")
    ev.repartition(32).write.mode("overwrite").parquet(src)
    def files(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(src) == 32)
    val n = Layout.compact(spark, src, dst, targetBytes = 512L * 1024)
    assert(files(dst) == n && n < 32, s"wrote $n files")
    // byte-for-byte same rows
    val a = spark.read.parquet(src).as[(Long, Long, Option[Double])]
      .collect().sortBy(r => (r._1, r._2))
    val b = spark.read.parquet(dst).as[(Long, Long, Option[Double])]
      .collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq)
  }

  test("PrefixSum ranges equal the naive cumsum at any partition count") {
    import graft.ops.PrefixSum
    val df = Seq((5L, 3L), (1L, 2L), (9L, 7L), (4L, 1L))
      .toDF("item", "weight").repartition(3)
    for (np <- Seq(1, 2, 5)) {
      val got = PrefixSum.ranges(df, Seq("item"), $"weight", "lo", "hi", np)
        .select($"item", $"lo", $"hi")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 0L, 2L), (4L, 2L, 3L), (5L, 3L, 6L),
        (9L, 6L, 13L)), s"numPartitions=$np")
    }
  }

  test("weightedNegatives samples proportional to weight, k per user") {
    val users = (1L to 500L).toDF("user")
    val items = Seq((100L, 9L), (200L, 1L)).toDF("item", "weight")
    val out = Sampling.weightedNegatives(users, items, k = 4)
    val counts = out.groupBy($"item").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.values.sum == 2000) // every (user, draw) lands somewhere
    // expectation 1800/200; md5 draws are fixed, so the band is stable
    assert(counts(100L) > 1650 && counts(100L) < 1950, counts.toString)
    // deterministic: same inputs, same samples
    val again = Sampling.weightedNegatives(users, items, k = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == out.as[(Long, Long, Long)].collect().toSet)
  }

  test("partitioned fact scan is dynamically pruned by the dim join (L3)") {
    val orders = Tables.orders(spark, TestSpark.sf)
      .withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
    Layout.writePartitioned(orders, "graft_part_spec", "month")
    val dim = orders.groupBy($"month").agg(count(lit(1)).as("n"))
      .where($"month".isin("1995-01", "1995-02")).select($"month")
    val j = spark.table("graft_part_spec").join(dim, "month")
    // the runtime IN-subquery must reach the fact scan's partition
    // filters — that is what makes the read skip 78 of 80 month dirs
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected DPP in fact scan:\n$plan")
    assert(j.count() ==
      orders.where($"month".isin("1995-01", "1995-02")).count())
  }

  test("bucketed tables sort-merge join with zero exchanges (L2)") {
    val orders = Tables.orders(spark, TestSpark.sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val customer = Tables.customer(spark, TestSpark.sf)
      .select($"c_custkey", $"c_mktsegment")
    Layout.writeBucketed(orders, "graft_bkt_spec_o", "o_custkey", 4)
    Layout.writeBucketed(customer, "graft_bkt_spec_c", "c_custkey", 4)
    // disable broadcast so the fixture-sized dim can't sidestep the claim:
    // the join must be a sort-merge over co-located bucket files
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedOrd = spark.conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sorted-scan reporting is opt-in since 3.0 because it is only safe
      // with ≤1 file per bucket — exactly the layout writeBucketed's
      // pre-repartition guarantees, so the flag's precondition holds
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true")
      val j = spark.table("graft_bkt_spec_o")
        .join(spark.table("graft_bkt_spec_c"), $"o_custkey" === $"c_custkey")
      j.count() // execute so AQE finalizes the physical plan
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free join:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // one file per bucket (writeBucketed repartitions first), so the
      // on-disk sortBy order is trusted and no per-task sort is planned
      assert(!plan.contains("Sort "), s"expected sort-free join:\n$plan")
      // layout must not change values: equal to the plain parquet join
      val got = j.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("rev"))
        .as[(String, Long, Double)].collect().toSet
      val plain = orders.join(customer, $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("rev"))
        .as[(String, Long, Double)].collect().toSet
      assert(got == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        savedOrd)
    }
  }

  test("preferencePairs: capped sides, gap filter, deterministic ties") {
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 9.0), (1L, 3L, 5.0), (1L, 4L, 1.0),
      (1L, 5L, 0.0),
      // key 2: all scores equal — top/bottom overlap, every gap is 0
      (2L, 6L, 3.0), (2L, 7L, 3.0), (2L, 8L, 3.0))
      .toDF("k", "id", "s")
    val got = Sampling.preferencePairs(df, "k", "id", "s",
        k = 2, minGap = 8.0)
      .select($"k", $"pos_id", $"neg_id", $"gap")
      .as[(Long, Long, Long, Double)].collect().toSet
    // pos cap: {1, 2}; neg cap: {5, 4}; all four pairs clear gap ≥ 8
    assert(got == Set((1L, 1L, 5L, 10.0), (1L, 1L, 4L, 9.0),
      (1L, 2L, 5L, 9.0), (1L, 2L, 4L, 8.0)))
    // zero-gap key produces nothing; ties capped by smallest id
    val tied = Sampling.preferencePairs(df, "k", "id", "s", 2, 0.0)
      .where($"k" === 2)
      .select($"pos_id", $"neg_id").as[(Long, Long)].collect().toSet
    assert(tied == Set((6L, 6L), (6L, 7L), (7L, 6L), (7L, 7L)))
  }

  test("rollingFeatures: bounded frame, gap null on first event") {
    val ev = Seq((1L, 1L, 10L, 2.0), (1L, 2L, 20L, 4.0), (1L, 3L, 30L, 6.0),
      (2L, 4L, 15L, 1.0)).toDF("u", "eid", "t", "v")
    val got = PrefixWindow.rollingFeatures(ev, "u", "t", "v", lastN = 2,
        tieBreak = Seq($"eid"))
      .select($"eid", $"gap", $"roll_n", $"roll_sum", $"roll_mean")
      .as[(Long, Option[Long], Long, Double, Double)].collect().toSet
    assert(got == Set(
      (1L, None, 1L, 2.0, 2.0),       // first event: no gap, frame = itself
      (2L, Some(10L), 2L, 6.0, 3.0),  // last-2 frame = {2,4}
      (3L, Some(10L), 2L, 10.0, 5.0), // frame slides: {4,6}
      (4L, None, 1L, 1.0, 1.0)))      // other user isolated
  }

  test("curriculumOrder: equal-width bins, interleaved positions") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L),
      (6L, 60L)).toDF("id", "d")
    // width 3 over [10,60]: (d-10)*3 div 51 → {10,20}=b0 {30,40}=b1 {50,60}=b2
    val got = Sampling.curriculumOrder(df, "id", "d", nBuckets = 3)
      .select($"id", $"bucket", $"intra_rank", $"pos")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 0L, 0L), (3L, 1L, 0L, 1L), (5L, 2L, 0L, 2L),
      (2L, 0L, 1L, 3L), (4L, 1L, 1L, 4L), (6L, 2L, 1L, 5L)))
    // curriculum order by pos = perfect difficulty round-robin
    val order = Sampling.curriculumOrder(df, "id", "d", 3)
      .orderBy($"pos").select($"d").as[Long].collect().toSeq
    assert(order == Seq(10L, 30L, 50L, 20L, 40L, 60L))
    // all ranks dense within bucket, positions globally unique
    val all = Sampling.curriculumOrder(df, "id", "d", 3)
    assert(all.select($"pos").distinct().count() == 6)
  }

  test("funnel: strict ordering, partial depths, out-of-order excluded") {
    val ev = Seq(
      // u1 completes the full funnel in order
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2 purchases BEFORE clicking → depth 2, no t_purchase
      (2L, 10L, "view"), (2L, 15L, "purchase"), (2L, 20L, "click"),
      // u3 views only
      (3L, 10L, "view"),
      // u4 clicks without viewing → not in the funnel at all
      (4L, 10L, "click"),
      // u5: click at the SAME ts as view is not strictly after → depth 1
      (5L, 10L, "view"), (5L, 10L, "click"))
      .toDF("user_id", "ts", "event_type")
    val got = ops.Behavior.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select($"user_id", $"t_view", $"t_click", $"t_purchase", $"depth")
      .as[(Long, Option[Long], Option[Long], Option[Long], Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, Some(10L), Some(20L), Some(30L), 3L)))
    assert(got(2L) == ((2L, Some(10L), Some(20L), None, 2L)))
    assert(got(3L) == ((3L, Some(10L), None, None, 1L)))
    assert(!got.contains(4L))
    assert(got(5L) == ((5L, Some(10L), None, None, 1L)))
  }

  test("mergeUpsert: update, insert, delete, delete-missing, provenance") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    val changes = Seq(
      (2L, "b2", 22.0, false),  // update
      (3L, "c", 30.0, true),    // delete existing
      (5L, "e", 50.0, false),   // insert
      (6L, "f", 60.0, true))    // delete of a missing key → no-op
      .toDF("k", "s", "v", "del")
    val got = Layout.mergeUpsert(base, changes, Seq("k"), $"del",
        provenance = Some("src"))
      .as[(Long, String, Double, String)].collect().toSet
    assert(got == Set(
      (1L, "a", 10.0, "base"),
      (2L, "b2", 22.0, "changes"),
      (4L, "d", 40.0, "base"),
      (5L, "e", 50.0, "changes")))
    // without provenance the schema is exactly the base schema
    val plain = Layout.mergeUpsert(base, changes, Seq("k"), $"del")
    assert(plain.columns.toSeq == Seq("k", "s", "v"))
    assert(plain.count() == 4)
  }

  test("mergeUpsert: matched change row with a NULL column wins verbatim") {
    // full-row-image semantics: a change that legitimately NULLs a
    // column must not resurrect the stale base value (the coalesce
    // trap — a per-column coalesce passes the l4 fixture, which has no
    // nulls, and silently corrupts streaming CDC)
    val base = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0))
      .toDF("k", "s", "v")
    val changes = Seq((1L, None: Option[String], 11.0, false))
      .toDF("k", "s", "v", "del")
    val got = Layout.mergeUpsert(base, changes, Seq("k"), $"del")
      .as[(Long, Option[String], Double)].collect().toSet
    assert(got == Set((1L, None, 11.0), (2L, Some("b"), 20.0)))
  }

  test("labelPropagation: two triangles with a bridge stay separate communities") {
    // triangle {1,2,3} — bridge 3-4 — triangle {4,5,6}; 3 sync rounds
    // with min tie-breaks resolve to label 1 and label 3 (hand-traced)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = ops.Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation ≡ a driver-side majority model, across the every-8 snapshot cadence") {
    // synchronous majority LPA, ties to the smallest label, on the
    // hand-traced bridge fixture AND a denser ring + chords graph whose
    // rounds exercise real ties; 17 rounds cross two cadence snapshots
    def model(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val nbrs = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2) }
      (1 to rounds).foldLeft(nbrs.map { case (n, _) => n -> n }) { (lbl, _) =>
        nbrs.map { case (n, ms) => n -> ms.groupBy(lbl).toSeq
          .map { case (l, xs) => (-xs.size, l) }.min._2 }
      }
    }
    val bridge = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val ring = (0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (0L until 40L by 4).map(i => (i, (i + 13) % 40))
    for (edges <- Seq(bridge, ring); rounds <- Seq(0, 1, 3, 17)) {
      val got = ops.Graph.labelPropagation(edges.toDF("a", "b"), "a", "b",
        rounds).as[(Long, Long)].collect().toMap
      assert(got == model(edges, rounds), s"rounds = $rounds")
    }
  }

  test("labelPropagation at rounds = 0 leaves no CacheManager entry (it used to leak its edge pin)") {
    def entries = org.apache.spark.sql.graftshim.CacheProbe.entries(spark)
    val before = entries
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = ops.Graph.labelPropagation(edges, "a", "b", rounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(entries == before, "leaked a cache entry")
  }

  test("labelPropagation fails fast on string node ids (negate tie-break)") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      ops.Graph.labelPropagation(edges, "a", "b", rounds = 1)
    }
    assert(e.getMessage.contains("numeric node ids"))
  }

  test("pageRank iters=0 returns the personalization vector, no edge work") {
    // the edge table (and its pin) must not be built at iters=0 — the
    // observable contract: seeds come back deduped with rank 1.0 and
    // no node outside the seed set appears
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val seeds = Seq(1L, 1L, 9L).toDF("seed")
    val got = ops.Graph.pageRank(edges, "s", "t", seeds, "seed",
        iters = 0, damping = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 9L -> 1.0))
  }

  test("connectedComponents fails loudly at its round cap, leaking no cache") {
    // a 40-node path needs 39 label-moving rounds plus one quiet round;
    // the default cap of 25 used to return 15 components silently
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      ops.Graph.connectedComponents(path, "a", "b")
    }
    assert(e.getMessage.contains("maxIter = 25"), e.getMessage)
    assert(e.getMessage.contains("(15 labels changed"), e.getMessage)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "leaked caches")
    val got = ops.Graph.connectedComponents(path, "a", "b", maxIter = 40)
      .select($"component").distinct().as[Long].collect()
    assert(got.toSeq == Seq(0L))
  }

  test("retention: cohort from first event, offsets count distinct users") {
    // bucket = 10: u1 first at 5 (cohort 0), active in buckets 0,1,3;
    // u2 first at 12 (cohort 1), active in 1,3; u3 first at 5, only 0
    val ev = Seq(
      (1L, 5L), (1L, 15L), (1L, 17L), (1L, 35L),
      (2L, 12L), (2L, 33L),
      (3L, 5L))
      .toDF("user_id", "ts")
    val got = ops.Behavior.retention(ev, "user_id", "ts", 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 2L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("snapshotDiff: added/removed/changed with exact column lists, null-safe") {
    val base = Seq((1L, Some("a"), Some(10.0)), (2L, Some("b"), None),
      (3L, Some("c"), Some(30.0)), (5L, None: Option[String], Some(50.0)))
      .toDF("k", "s", "v")
    val next = Seq((2L, Some("b2"), None), (3L, Some("c"), Some(30.0)),
      (4L, Some("d"), Some(40.0)), (5L, None: Option[String], None))
      .toDF("k", "s", "v")
    val got = Layout.snapshotDiff(base, next, Seq("k"))
      .as[(Long, String, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> (("removed", Seq())),
      2L -> (("changed", Seq("s"))),     // null v == null v (null-safe)
      4L -> (("added", Seq())),
      5L -> (("changed", Seq("v")))))    // value→NULL IS a change
    // unchanged key 3 emits nothing
    assert(!got.contains(3L))
  }

  test("leaveOneOut: latest row per user held out, n_train counts the rest") {
    val df = Seq(
      (1L, 101L, 10L), (1L, 102L, 20L), (1L, 103L, 20L), // tie on ts →
      (2L, 201L, 5L))                                    // id breaks it
      .toDF("u", "id", "ts")
    val got = Sampling.leaveOneOut(df, "u", Seq(col("ts"), col("id")))
      .select($"u", $"id", $"n_train").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 103L, 2L), (2L, 201L, 0L)))
  }

  test("quantileBins: 1..8 into 4 equi-depth bins of 2, boundary goes up") {
    val df = (1 to 8).map(_.toDouble).toDF("x")
    val got = graft.functions.Features.quantileBins(df, "x", 4, "bin")
      .select($"x", $"bin".cast("long")).as[(Double, Long)]
      .collect().toMap
    // interpolated bounds 2.75 / 4.5 / 6.25
    assert(got == Map(1.0 -> 1L, 2.0 -> 1L, 3.0 -> 2L, 4.0 -> 2L,
      5.0 -> 3L, 6.0 -> 3L, 7.0 -> 4L, 8.0 -> 4L))
  }

  test("targetEncode: shrinks rare categories toward the global prior") {
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 0.0), ("b", 1.0))
      .toDF("c", "y")
    val got = graft.functions.Features.targetEncode(df, "c", "y", m = 1.0)
      .select($"c", $"n", $"enc").as[(String, Long, Double)]
      .collect().map { case (c, n, e) => c -> ((n, e)) }.toMap
    assert(got == Map("a" -> ((3L, 0.6875)), "b" -> ((1L, 0.875))))
  }

  test("hits: star source is the top hub, shared sink the top authority") {
    // s1 supplies p1,p2,p3; s2 supplies p1 only → p1's authority is
    // boosted by both; after round 2, a(p1)=1 (max-normalized), and the
    // other parts tie below it. Hand-computed: a1=(2,1,1)/2=(1,.5,.5);
    // h1=(2,1)/2=(1,.5); a2=(1.5,1,1)/1.5=(1,2/3,2/3).
    val e = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.hits(e, "src", "dst", rounds = 2)
      .select($"dst", round($"authority", 6)).as[(Long, Double)]
      .collect().toMap
    assert(got(101L) == 1.0)
    assert(got(102L) == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    assert(got(103L) == got(102L))
  }

  test("hits: broadcast-scores plan ≡ shuffling plan, value for value") {
    // the zero-|E|-exchange variant (scores broadcast into the
    // receiving-key edge pin) must reproduce the shuffling plan's
    // authorities exactly at 6 dp — checked on the hand-traced star
    // AND a denser two-hub graph where round-2 mass actually mixes.
    // maxBroadcastNodes = 0 forces the shuffling plan; the default
    // budget broadcasts at this size
    val star = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L))
    val dense = (0L until 12L).flatMap(s =>
      (0L until 4L).map(j => (s, 100L + (s * 3 + j * 5) % 9)))
    for (edges <- Seq(star, dense)) {
      val e = edges.toDF("src", "dst")
      def run(maxNodes: Long) = graft.ops.Graph
        .hits(e, "src", "dst", rounds = 2, maxBroadcastNodes = maxNodes)
        .select($"dst", round($"authority", 6)).as[(Long, Double)]
        .collect().toMap
      assert(run(1000000L) == run(0L))
    }
  }

  test("Iterate.rounds: a round that throws drops its pin and live snapshot (a failed fixpoint used to leak both)") {
    val sc = spark.sparkContext
    def entries = org.apache.spark.sql.graftshim.CacheProbe.entries(spark)
    val rdds = sc.getPersistentRDDs.keySet
    val before = entries
    val df = spark.range(100).toDF("__n")
    val pinned = graft.ops.Iterate.pin(df, $"__n")
    assert(entries == before + 1)
    val e = intercept[IllegalStateException] {
      graft.ops.Iterate.rounds(df, 5, snapInit = true,
          pins = Seq(pinned)) { (cur, i) =>
        if (i == 2) throw new IllegalStateException("round 2")
        Some(cur.join(pinned, "__n"))
      }
    }
    assert(e.getMessage == "round 2")
    assert(sc.getPersistentRDDs.keySet == rdds, "leaked persisted RDDs")
    assert(entries == before, "leaked a cache entry")
  }

  test("Iterate.snapshot truncates the plan and release frees the blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val snap = graft.ops.Iterate.snapshot(
      Tables.orders(spark, TestSpark.sf).limit(100)
        .groupBy($"o_orderstatus").agg(count(lit(1)).as("n")))
    // plan collapsed to a single leaf — no scan, no aggregate nodes
    assert(snap.queryExecution.optimizedPlan.collectLeaves().size == 1)
    assert(snap.queryExecution.optimizedPlan.toString.contains("LogicalRDD") ||
      snap.queryExecution.optimizedPlan.collect { case _ => 1 }.size == 1)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "snapshot should register persisted blocks")
    assert(snap.count() > 0)
    graft.ops.Iterate.release(snap)
    val after = sc.getPersistentRDDs.keySet
    assert(added.forall(id => !after.contains(id)),
      "release should drop the snapshot's persisted RDD")
  }

  test("Iterate.pin advertises partitioning+ordering: no Exchange/Sort on the pinned join side") {
    // the r8 scale finding, pinned as an invariant: a fixpoint's static
    // side must NOT re-shuffle or re-sort per round. localCheckpoint
    // regressed exactly this (LogicalRDD -> UnknownPartitioning); the
    // pin's InMemoryRelation must keep both properties visible to the
    // planner. Broadcast disabled so the join actually exercises the
    // shuffle requirement (at test scale the small side would broadcast
    // and hide a regression).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val edges = Tables.orders(spark, TestSpark.sf).limit(5000)
        .select($"o_orderkey".as("__m"), $"o_custkey".as("__n"))
      val pinned = graft.ops.Iterate.pin(edges, $"__m")
      try {
        val labels = pinned.select($"__m").distinct()
          .withColumn("__lbl", lit(1L))
        val round = pinned.join(labels, "__m")
          .groupBy($"__n").agg(count(lit(1)).as("c"))
        val plan = round.queryExecution.executedPlan.toString
        val joinLine = plan.linesIterator
          .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        assert(joinLine.nonEmpty, s"expected a shuffle join in:\n$plan")
        // the pinned (left) side between the join and its InMemoryTableScan
        // must contain no Exchange and no Sort: both were paid at pin time
        val lines = plan.linesIterator.toSeq
        val jIdx = lines.indexWhere(l =>
          l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        val leftSide = lines.drop(jIdx + 1)
          .takeWhile(l => !l.contains("InMemoryTableScan"))
        assert(!leftSide.exists(_.contains("Exchange")),
          s"pinned side re-shuffled:\n${leftSide.mkString("\n")}")
        assert(!leftSide.exists(_.contains("Sort ")),
          s"pinned side re-sorted:\n${leftSide.mkString("\n")}")
        // and the result is right: every order key pairs with its customer
        assert(round.count() == edges.select($"__n").distinct().count())
      } finally graft.ops.Iterate.unpin(pinned)
    } finally spark.conf.set(key, saved)
  }
}
