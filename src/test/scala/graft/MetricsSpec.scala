package graft

import graft.evalx.Metrics
import graft.multimodal.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** [[Multimodal.sampleFramesPortable]]'s explode with an xxhash64 frame
    * digest: one row per `everyMs` step of `duration_ms`. */
  private def sampleFrames(assets: DataFrame, everyMs: Long): DataFrame =
    assets.where(col("duration_ms").isNotNull)
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))
      .select(col("asset_id"), col("frame_ms"),
        xxhash64(col("content"), col("frame_ms")).as("frame_digest"))

  test("ranking@K matches hand-computed fixture incl. idcg edge cases") {
    // user A: ranked (i1,i2,i3), relevant {i1,i3} →
    //   P@3 = 2/3, R@3 = 1, dcg = 1/log2(2) + 1/log2(4) = 1.5,
    //   idcg = 1/log2(2) + 1/log2(3) ≈ 1.6309, ndcg ≈ 0.9197
    // user B: ranked (i1), relevant {i9} → all zeros
    val ranked = Seq(("A", "i1", 1), ("A", "i2", 2), ("A", "i3", 3),
      ("B", "i1", 1)).toDF("u", "i", "rank")
    val rel = Seq(("A", "i1"), ("A", "i3"), ("B", "i9")).toDF("u", "i")
    val got = Metrics.rankingAtK(ranked, rel, "u", "i", "rank", 3)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (pA, rA, nA) = got("A")
    assert(math.abs(pA - 2.0 / 3) < 1e-9)
    assert(math.abs(rA - 1.0) < 1e-9)
    assert(math.abs(nA - 1.5 / (1.0 + 1.0 / (math.log(3) / math.log(2)))) < 1e-9)
    assert(got("B") == ((0.0, 0.0, 0.0)))
  }

  test("MRR@K: first-hit reciprocal, zero on miss, k cutoff honored") {
    // A: relevant {i2, i3}, first hit at rank 2 → mrr 0.5
    // B: relevant {i9} never ranked → first_rank 0, mrr 0
    // C: only hit at rank 4 > k=3 → excluded by cutoff → mrr 0
    val ranked = Seq(("A", "i1", 1), ("A", "i2", 2), ("A", "i3", 3),
      ("B", "i1", 1), ("C", "i1", 1), ("C", "i2", 4)).toDF("u", "i", "rank")
    val rel = Seq(("A", "i2"), ("A", "i3"), ("B", "i9"), ("C", "i2"))
      .toDF("u", "i")
    val got = Metrics.mrrAtK(ranked, rel, "u", "i", "rank", 3)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("A") == ((2L, 0.5)))
    assert(got("B") == ((0L, 0.0)))
    assert(got("C") == ((0L, 0.0)))
  }

  test("AUC matches hand-computed rank-sum incl. ties") {
    // scores: pos {0.9, 0.5}, neg {0.5, 0.1} → pairs: (0.9>0.5)=1, (0.9>0.1)=1,
    // (0.5=0.5)=0.5, (0.5>0.1)=1 → AUC = 3.5/4 = 0.875
    val df = Seq((0.9, 1), (0.5, 1), (0.5, 0), (0.1, 0)).toDF("score", "y")
    val auc = Metrics.auc(df, "score", "y").as[Double].head()
    assert(math.abs(auc - 0.875) < 1e-9)
  }

  test("log-loss and accuracy match hand computation") {
    val df = Seq((0.9, 1), (0.2, 0)).toDF("score", "y")
    val (ll, acc) = Metrics.classification(df, "score", "y")
      .as[(Double, Double)].head()
    val expect = -(math.log(0.9) + math.log(0.8)) / 2
    assert(math.abs(ll - expect) < 1e-9)
    assert(acc == 1.0)
  }

  test("pairwise accuracy") {
    val df = Seq((2.0, 1.0), (1.0, 3.0), (5.0, 0.0)).toDF("p", "n")
    assert(math.abs(Metrics.pairwiseAccuracy(df, "p", "n")
      .as[Double].head() - 2.0 / 3) < 1e-9)
  }

  test("calibration (ECE) and PSI match hand-computed values") {
    // bins at nBins=10: 0.1-scores → bin 1 (conf .1, acc 0 → gap .1, n 2);
    // 0.9-scores → bin 9 (conf .9, acc .5 → gap .4, n 2); ece = .25
    val scored = Seq((0.1, 0.0), (0.1, 0.0), (0.9, 1.0), (0.9, 0.0))
      .toDF("score", "y")
    val (ece, nb) = Metrics.calibration(scored, "score", "y", 10)
      .as[(Double, Long)].head()
    assert(math.abs(ece - 0.25) < 1e-9 && nb == 2)
    // total separation across 2 bins with +0.5 smoothing:
    // psi = 2 · ((10.5 − 0.5)/11) · ln(10.5/0.5)
    val base = Seq.fill(10)(10.0).toDF("value")
    val cur = Seq.fill(10)(90.0).toDF("value")
    val psi = Metrics.psi(base, cur, "value", nBins = 2, lo = 0.0,
      hi = 100.0).as[Double].head()
    val expect = 2.0 * (10.0 / 11.0) * math.log(21.0)
    assert(math.abs(psi - (math.rint(expect * 1e6) / 1e6)) < 1e-9, psi)
    // identical distributions → psi 0
    val same = Metrics.psi(base, base, "value", 2, 0.0, 100.0)
      .as[Double].head()
    assert(same == 0.0)
  }

  test("bootstrap CI brackets the point mean, deterministic across runs") {
    val ev = Tables.events(spark, TestSpark.sf)
    def run() = Metrics.bootstrapCiMean(ev, col("event_id"), col("value"),
        nReplicates = 40)
      .as[(Long, Double, Double, Double)].head()
    val (n, pm, lo, hi) = run()
    assert(n == 40L)
    assert(lo <= pm && pm <= hi)
    assert(lo < hi) // replicate means genuinely vary
    // resampling the mean of thousands of rows: the CI must be tight
    assert((hi - lo) / math.abs(pm) < 0.2)
    assert(run() == ((n, pm, lo, hi))) // hash-derived, not RNG-derived
  }

  test("paired bootstrap delta == bootstrap of the per-row difference") {
    val ev = Tables.events(spark, TestSpark.sf)
    val a = col("value") / 500.0
    val b = lit(1.0) / (lit(1.0) + exp(-(col("value") - 250.0) / 100.0))
    // sharing weights means mean_w(a) - mean_w(b) = mean_w(a - b), so
    // the paired CI must be BIT-identical to resampling the difference
    val paired = Metrics.bootstrapCiDelta(ev, col("event_id"), a, b, 40)
      .as[(Long, Double, Double, Double)].head()
    val diff = Metrics.bootstrapCiMean(ev, col("event_id"), a - b, 40)
      .as[(Long, Double, Double, Double)].head()
    assert(paired == diff)
    val (_, pd, lo, hi) = paired
    assert(lo <= pd && pd <= hi)
  }

  test("multimodal feature extraction is deterministic with fixed shape") {
    import graft.multimodal.RealCodecs
    val docs = Tables.documents(spark, TestSpark.sf)
    val f1 = RealCodecs.imageQuadFeatures(docs, "doc_id")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val f2 = RealCodecs.imageQuadFeatures(docs, "doc_id")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(f1.length == 500)
    assert(f1.forall(_._3 == 4L))
    assert(f1.toSeq == f2.toSeq)
    // quadrant sums re-add to the codec-roundtrip channel sums — the
    // pooled features really come from the same decoded pixels
    val id = f1.head._1
    val (_, _, sr, sg, sb) = RealCodecsSpec.decodePngSums(RealCodecs.encodePng(id))
    assert(f1.head._4 + f1.head._5 + f1.head._6 + f1.head._7 == sr + sg + sb)
    // frame sampling plumbing
    val vids = Multimodal.videoAssetsFromText(docs, "doc_id", "text")
      .withColumn("duration_ms", lit(2500L))
    val frames = sampleFrames(vids, 1000L)
    assert(frames.count() == 500 * 3) // 0,1000,2000
  }

  test("KS statistic matches hand-computed CDF gap") {
    val base = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
    val cur = Seq(3.0, 4.0, 5.0, 6.0).toDF("value")
    // F_a − F_b peaks at x ∈ {2, 3, 4}: |0.5 − 0| = 0.5
    val (ks, na, nb) = Metrics.ksTest(base, cur, "value")
      .as[(Double, Long, Long)].head()
    assert(ks == 0.5 && na == 4L && nb == 4L)
    // identical samples → 0; disjoint supports → 1
    assert(Metrics.ksTest(base, base, "value")
      .as[(Double, Long, Long)].head()._1 == 0.0)
    val far = Seq(100.0, 101.0).toDF("value")
    assert(Metrics.ksTest(base, far, "value")
      .as[(Double, Long, Long)].head()._1 == 1.0)
  }

  test("auc, averagePrecision and ksTest match brute-force formulas across range partitions") {
    // 200 rows over 25 distinct scores: every score is a tie block
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200) {
      val s = rnd.nextInt(25) / 4.0
      (s, if (rnd.nextDouble() < 0.2 + s / 10) 1 else 0)
    }
    val pos = rows.collect { case (s, 1) => s }
    val neg = rows.collect { case (s, 0) => s }
    val auc = pos.map(p => neg.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum).sum /
      (pos.size.toDouble * neg.size)
    // threshold-step AP: blocks of equal score, descending
    val blocks = rows.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (_, b) => (b.size.toLong, b.count(_._2 == 1).toLong) }
    val cum = blocks.scanLeft((0L, 0L)) { case ((n, p), (bn, bp)) =>
      (n + bn, p + bp) }.tail
    val ap = blocks.zip(cum).map { case ((_, bp), (n, p)) =>
      bp * p.toDouble / n }.sum / pos.size
    val ks = rows.map(_._1).distinct.map(x =>
      math.abs(neg.count(_ <= x).toDouble / neg.size -
        pos.count(_ <= x).toDouble / pos.size)).max
    val df = rows.toDF("score", "y")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      for (np <- Seq(1, 7)) {
        spark.conf.set("spark.sql.shuffle.partitions", np.toString)
        // the scans range-partition the 25-row score histogram
        val used = df.select($"score").distinct().repartitionByRange($"score")
          .select(spark_partition_id()).distinct().count()
        assert(if (np == 1) used == 1 else used > 1, s"partitions used: $used")
        assert(math.abs(Metrics.auc(df, "score", "y").as[Double].head() - auc)
          < 1e-12, s"auc at $np partitions")
        val (n, nPos, gotAp) = Metrics.averagePrecision(df, "score", "y")
          .as[(Long, Long, Double)].head()
        assert(n == 200 && nPos == pos.size && math.abs(gotAp - ap) < 1e-12,
          s"average precision at $np partitions")
        val (gotKs, na, nb) = Metrics.ksTest(df.where($"y" === 0),
          df.where($"y" === 1), "score").as[(Double, Long, Long)].head()
        assert(math.abs(gotKs - ks) <= 5e-7 && na == neg.size && nb == pos.size,
          s"ks at $np partitions: $gotKs vs $ks")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("groupAuc/gauc: hand-computed per-user rank-sums, one-class drop") {
    val df = Seq(
      (1L, 0.1, 0.0), (1L, 0.4, 1.0), (1L, 0.3, 0.0), (1L, 0.2, 1.0),
      (2L, 0.5, 1.0), (2L, 0.5, 0.0), (2L, 0.9, 0.0), // tie → avg rank 1.5
      (3L, 0.3, 1.0), (3L, 0.7, 1.0),                 // all-pos → dropped
      (4L, 0.6, 0.0))                                 // all-neg → dropped
      .toDF("u", "s", "y")
    val per = Metrics.groupAuc(df, "u", "s", "y")
      .as[(Long, Long, Long, Double)].collect().toSet
    // u1: pos ranks {2,4} → (6−3)/4 = 0.75; u2: pos avg-rank 1.5 → (1.5−1)/2
    assert(per == Set((1L, 2L, 2L, 0.75), (2L, 1L, 2L, 0.25)))
    val (n, g) = Metrics.gauc(df, "u", "s", "y").as[(Long, Double)].head()
    assert(n == 2L && g == (4.0 * 0.75 + 3.0 * 0.25) / 7.0)
  }

  test("spearman: monotone ±1, tie-averaged ranks, null rows excluded") {
    // compare at the query contract's 6-dp rounding (the raw ratio can
    // sit one ulp off ±1 after the sqrt product)
    def rho6(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      Metrics.spearman(df, a, b)
        .select($"n", round($"rho", 6)).as[(Long, Double)].head()
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0)).toDF("a", "b")
    assert(rho6(mono, "a", "b") == ((3L, 1.0)))
    val anti = Seq((1.0, 9.0), (2.0, 4.0), (3.0, 1.0)).toDF("a", "b")
    assert(rho6(anti, "a", "b")._2 == -1.0)
    // ties in a → avg ranks (1.5, 1.5, 3); b ranks (1, 3, 2) → ρ = 0
    val tied = Seq((1.0, 3.0), (1.0, 5.0), (2.0, 4.0)).toDF("a", "b")
    assert(rho6(tied, "a", "b")._2 == 0.0)
    val withNull = Seq((Some(1.0), Some(1.0)), (Some(2.0), None),
      (Some(3.0), Some(4.0))).toDF("a", "b")
    assert(rho6(withNull, "a", "b") == ((2L, 1.0)))
  }

  test("averagePrecision: threshold-step AP with block-exact ties") {
    // blocks desc: 0.9 (1 pos) P=1; 0.8 (neg); 0.7 (2 pos tie) P=3/4;
    // 0.6 (neg) → AP = (1·1 + 2·0.75) / 3 = 0.833333…
    val scored = Seq((0.9, 1.0), (0.8, 0.0), (0.7, 1.0), (0.7, 1.0),
      (0.6, 0.0)).toDF("score", "y")
    val (n, np, ap) = Metrics.averagePrecision(scored, "score", "y")
      .select($"n", $"n_pos", round($"average_precision", 6))
      .as[(Long, Long, Double)].head()
    assert(n == 5L && np == 3L && ap == 0.833333)
    // perfect ranking → AP 1.0; all-negative scores above → AP = 0.5
    val perfect = Seq((0.9, 1.0), (0.8, 1.0), (0.1, 0.0)).toDF("score", "y")
    assert(Metrics.averagePrecision(perfect, "score", "y")
      .select($"average_precision").as[Double].head() == 1.0)
    val inverted = Seq((0.9, 0.0), (0.8, 1.0)).toDF("score", "y")
    assert(Metrics.averagePrecision(inverted, "score", "y")
      .select($"average_precision").as[Double].head() == 0.5)
  }

  test("exposureStats: uniform exposure gini 0, concentration raises it") {
    val catalog = Seq(10L).toDF("n").agg(first($"n"))
    def stats(recs: Seq[(Long, Long)]) =
      Metrics.exposureStats(recs.toDF("u", "item"), "item", catalog)
        .as[(Long, Double, Double, Long)].head()
    // 5 items exposed once each: coverage 5/10, gini exactly 0
    val uniform = (1L to 5L).map(i => (i, 100L + i))
    assert(stats(uniform) == ((5L, 0.5, 0.0, 5L)))
    // one item takes 99 of 103 exposures → gini ≈ 0.761165
    val skewed = (1L to 99L).map(u => (u, 100L)) ++
      Seq((1L, 101L), (2L, 102L), (3L, 103L), (4L, 104L))
    val (n, cov, gini, tot) = stats(skewed)
    assert(n == 5L && tot == 103L && cov == 0.5)
    assert(gini == 0.761165)
  }
}
