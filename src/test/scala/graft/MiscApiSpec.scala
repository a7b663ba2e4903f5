package graft

import graft.functions.TextFunctions
import graft.llmops.Dedup
import graft.ops.{AsOf, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Coverage for the remaining public API surface not exercised by the
  * oracle queries. */
class MiscApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("w25 streaks: totals reconcile with the raw distinct-day frame") {
    val out = SparkEntry.queries("w25_streaks")(spark, TestSpark.sf)
      .select($"user_id", $"n_active_days", $"n_streaks", $"max_streak")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val expected = Tables.events(spark, TestSpark.sf)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .distinct().groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    out.foreach { case (u, days, streaks, mx) =>
      assert(days == expected(u), s"user $u active-day total")
      assert(mx >= 1 && streaks >= 1 && mx <= days && streaks <= days)
    }
  }

  test("a39 PR curve: recall monotone in threshold, edges consistent") {
    val rows = SparkEntry.queries("a39_pr_curve")(spark, TestSpark.sf)
      .select($"thr_decile", $"n_pred", $"tp", $"recall")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 9L))
    val total = Tables.events(spark, TestSpark.sf).count()
    assert(rows.head._2 == total, "threshold 0 predicts every row")
    assert(rows.head._4 == 1.0, "threshold 0 has recall 1")
    rows.foreach { case (_, np, tp, _) => assert(tp <= np) }
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3 && hi._4 <= lo._4,
        s"raising the cut can only shrink predictions: $lo -> $hi")
      case _ => ()
    }
  }

  test("a40 reliability bins partition the scored frame; gap is signed") {
    val rows = SparkEntry.queries("a40_reliability_bins")(
        spark, TestSpark.sf)
      .select($"bin", $"n", $"mean_score", $"pos_rate", $"gap")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.map(_._2).sum == Tables.events(spark, TestSpark.sf).count())
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (b, _, ms, pr, gap) =>
      assert(b >= 0 && b <= 9)
      assert(pr >= 0.0 && pr <= 1.0)
      assert(math.abs(gap - BigDecimal(pr - ms).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6,
        s"bin $b gap must be pos_rate - mean_score")
    }
  }

  test("x32 cluster split: duplicate clusters never straddle the split") {
    val rows = SparkEntry.queries("x32_cluster_split")(spark, TestSpark.sf)
      .select($"doc_id", $"rep_id", $"n_members", $"split")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.length ==
      Tables.documents(spark, TestSpark.sf).count())
    val byRep = rows.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._4).distinct.length == 1,
        s"cluster $rep split across train/test")
      assert(members.exists(_._1 == rep), s"rep $rep not a member")
      assert(members.forall(_._3 == members.length),
        s"cluster $rep n_members mismatch")
      assert(rep == members.map(_._1).min, "rep is the min doc_id")
    }
    // the small fixture may hold no verbatim copies, so plant some:
    // 3 copies of one text + 2 of another must co-travel with their rep
    val dir = java.nio.file.Files.createTempDirectory("x32").toString
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (7L, "alpha beta gamma"), (3L, "delta epsilon"),
      (9L, "delta epsilon"), (5L, "unique text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("x32_cluster_split")(spark, dir)
      .select($"doc_id", $"rep_id", $"n_members", $"split")
      .as[(Long, Long, Long, String)].collect()
    val c1 = planted.filter(r => Set(1L, 2L, 7L)(r._1))
    val c2 = planted.filter(r => Set(3L, 9L)(r._1))
    assert(c1.forall(r => r._2 == 1L && r._3 == 3L) &&
      c1.map(_._4).distinct.length == 1, "planted cluster 1 co-travels")
    assert(c2.forall(r => r._2 == 3L && r._3 == 2L) &&
      c2.map(_._4).distinct.length == 1, "planted cluster 2 co-travels")
    assert(planted.filter(_._1 == 5L).forall(r => r._2 == 5L && r._3 == 1L))
  }

  test("w31 cohort matrix: age-0 diagonal is full and masses reconcile") {
    val rows = SparkEntry.queries("w31_cohort_matrix")(spark, TestSpark.sf)
      .select($"cohort_week", $"age_weeks", $"n_users", $"retention")
      .as[(Long, Long, Long, Double)].collect()
    val uw = Tables.events(spark, TestSpark.sf)
      .select($"user_id", expr("(ts div 86400000000000) div 7").as("w"))
      .distinct()
    assert(rows.map(_._3).sum == uw.count(),
      "cells partition the (user, week) frame")
    assert(rows.filter(_._2 == 0).map(_._3).sum ==
      uw.select($"user_id").distinct().count(),
      "age-0 cells partition the user set")
    rows.filter(_._2 == 0).foreach { r =>
      assert(r._4 == 1.0, s"age-0 retention must be 1: $r")
    }
    rows.foreach { r => assert(r._4 > 0.0 && r._4 <= 1.0) }
  }

  test("a41 CAP curve: gains accumulate to 1 and lift ends at base rate") {
    val rows = SparkEntry.queries("a41_cap_curve")(spark, TestSpark.sf)
      .select($"decile", $"cum_rows", $"cum_pos", $"gain", $"cum_lift")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 9L))
    assert(rows.last._2 == Tables.events(spark, TestSpark.sf).count(),
      "decile 9 accumulates every row")
    assert(rows.last._4 == 1.0 && rows.last._5 == 1.0,
      "full coverage captures all positives at exactly base-rate lift")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 > lo._2 && hi._3 >= lo._3 && hi._4 >= lo._4,
        s"cumulative masses only grow: $lo -> $hi")
      case _ => ()
    }
    rows.foreach { r => assert(r._4 >= 0.0 && r._4 <= 1.0) }
  }

  test("w32 survival: KM is a non-increasing product over full risk sets") {
    val rows = SparkEntry.queries("w32_survival_curve")(spark, TestSpark.sf)
      .select($"duration_days", $"n_risk", $"n_churned", $"n_censored",
        $"survival")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, TestSpark.sf)
      .select($"user_id").distinct().count()
    assert(rows.head._2 == nUsers, "the first risk set holds every user")
    assert(rows.map(r => r._3 + r._4).sum == nUsers,
      "every user churns or is censored exactly once")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 == lo._2 - lo._3 - lo._4,
        "risk set shrinks by the previous duration's exits")
      assert(hi._5 <= lo._5, s"survival cannot rise: $lo -> $hi")
      case _ => ()
    }
    // hand-check the first step: S(t0) = (n - d0) / n
    val expected0 = BigDecimal((nUsers - rows.head._3).toDouble / nUsers)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head._5 - expected0) <= 1e-6)
    rows.foreach { r => assert(r._5 >= 0.0 && r._5 <= 1.0) }
  }

  test("a42 Brier decomposition: terms close the identity via residual") {
    val r = SparkEntry.queries("a42_brier_decomposition")(
        spark, TestSpark.sf)
      .select($"n", $"brier", $"reliability", $"resolution",
        $"uncertainty", $"residual")
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(r.length == 1)
    val (n, brier, rel, res, unc, resid) = r.head
    assert(n == Tables.events(spark, TestSpark.sf).count())
    assert(brier >= 0.0 && rel >= 0.0 && res >= 0.0)
    assert(unc >= 0.0 && unc <= 0.25, "Bernoulli variance bound")
    // Murphy: brier = reliability - resolution + uncertainty + residual
    assert(math.abs(brier - (rel - res + unc + resid)) <= 5e-6,
      s"identity must close: $brier vs ${rel - res + unc + resid}")
  }

  test("t38 Zipf fit matches a hand-computed OLS over the token ranks") {
    val r = SparkEntry.queries("t38_zipf_fit")(spark, TestSpark.sf)
      .select($"n_tokens", $"zipf_slope", $"intercept", $"r2")
      .as[(Long, Double, Double, Double)].collect()
    assert(r.length == 1)
    val (n, slope, intercept, r2) = r.head
    assert(n >= 2 && n <= 200)
    assert(slope < 0.0, "frequency must fall with rank")
    // r2 is NOT asserted large: the synthetic fixture corpus is
    // deliberately non-Zipfian, and a low r2 is the query doing its
    // "synthetic-vs-natural" job. Instead pin the regression itself:
    val counts = Tables.documents(spark, TestSpark.sf)
      .select(explode(filter(split(lower($"text"), "\\s+"),
        t => length(t) > 0)).as("tok"))
      .groupBy($"tok").count()
      .as[(String, Long)].collect()
      .sortBy { case (t, c) => (-c, t) }.take(200)
    val pts = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val m = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val expSlope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    val expIcpt = (sy - sx * expSlope) / m
    val expR2 = (m * sxy - sx * sy) * (m * sxy - sx * sy) /
      ((m * sxx - sx * sx) * (m * syy - sy * sy))
    assert(pts.length == n)
    assert(math.abs(slope - expSlope) <= 1e-5, s"$slope vs $expSlope")
    assert(math.abs(intercept - expIcpt) <= 1e-5)
    assert(math.abs(r2 - expR2) <= 1e-5)
  }

  test("w33 peak concurrency matches a naive driver-side sweep") {
    val r = SparkEntry.queries("w33_peak_concurrency")(spark, TestSpark.sf)
      .select($"n_sessions", $"peak_concurrency", $"peak_ts")
      .as[(Long, Long, Long)].collect()
    assert(r.length == 1)
    val (ns, peak, peakTs) = r.head
    val sess = SparkEntry.queries("w6_sessionize")(spark, TestSpark.sf)
      .select($"t_start", $"t_end").as[(Long, Long)].collect()
    assert(ns == sess.length)
    val events = (sess.map(s => (s._1, 1)) ++ sess.map(s => (s._2 + 1, -1)))
      .sortBy { case (t, d) => (t, -d) }
    var cur = 0L; var best = 0L; var bestTs = Long.MaxValue
    events.foreach { case (t, d) =>
      cur += d
      if (cur > best) { best = cur; bestTs = t }
    }
    assert(peak == best, s"peak $peak vs naive $best")
    assert(peakTs == bestTs, s"peak ts $peakTs vs naive $bestTs")
    assert(peak >= 1 && peak <= ns)
  }

  test("x34 weighted resample picks exactly the 100 smallest clock keys") {
    val out = SparkEntry.queries("x34_weighted_resample")(
        spark, TestSpark.sf)
      .select($"rank", $"doc_id", $"weight")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 100)
    assert(out.map(_._1).toSeq == (1L to 100L))
    // recompute every doc's exponential clock key on the driver and
    // confirm the query returned the global 100 smallest, in order
    val all = Tables.documents(spark, TestSpark.sf)
      .where($"n_chars" > 0)
      .select($"doc_id", $"n_chars",
        (conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
          .cast("long").cast("double") + 0.5) / 281474976710656.0)
      .as[(Long, Long, Double)].collect()
      .map { case (id, w, u) => (id, w, -math.log(u) / w) }
    val expected = all.sortBy { case (id, _, k) => (k, id) }.take(100)
    assert(out.map(_._2).toSeq == expected.map(_._1).toSeq,
      "selected ids must be the 100 smallest keys in key order")
    assert(out.map(_._3).toSeq == expected.map(_._2).toSeq)
    // weighting must bias selection toward heavy docs
    val meanSel = out.map(_._3).sum.toDouble / out.length
    val meanAll = all.map(_._2).sum.toDouble / all.length
    assert(meanSel > meanAll,
      s"weighted pick should skew heavy: $meanSel vs $meanAll")
  }

  test("w30 growth accounting satisfies the WAU flow identity") {
    // WAU(w) = new + retained + resurrected, and
    // WAU(w) = WAU(prev active week) + new + resurrected − churned(w)
    // cannot be checked over gap weeks, so pin the per-week identity
    // plus conservation: Σ new = |users|
    val g = SparkEntry.queries("w30_growth_accounting")(spark, TestSpark.sf)
      .select($"week", $"n_new", $"n_retained", $"n_resurrected",
        $"n_churned")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val wau = Tables.events(spark, TestSpark.sf)
      .select($"user_id",
        expr("(ts div 86400000000000) div 7").as("week"))
      .distinct().groupBy($"week").count()
      .as[(Long, Long)].collect().toMap
    g.foreach { case (w, nw, rt, rs, _) =>
      assert(nw + rt + rs == wau.getOrElse(w, 0L),
        s"week $w: $nw+$rt+$rs != WAU ${wau.get(w)}")
    }
    val totalUsers = Tables.events(spark, TestSpark.sf)
      .select($"user_id").distinct().count()
    assert(g.map(_._2).sum == totalUsers, "every user is new exactly once")
    // every activity RUN starts as new-or-resurrected and, under
    // right-censoring, ends in exactly one churn event
    assert(g.map(_._5).sum == g.map(_._2).sum + g.map(_._4).sum,
      "churn events must equal run starts (new + resurrected)")
  }

  test("d21 threshold sweep is monotone non-increasing in the threshold") {
    val rows = SparkEntry.queries("d21_threshold_sweep")(spark, TestSpark.sf)
      .select($"threshold", $"n_pairs", $"n_docs")
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    // thresholds with zero surviving pairs drop out of the aggregate,
    // so only the PRESENT prefix is pinned — monotone over what exists
    assert(rows.nonEmpty && rows.head._1 == 0.3)
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi._2 <= lo._2 && hi._3 <= lo._3,
          s"pairs/docs must shrink: $lo -> $hi")
      case _ => ()
    }
  }

  test("sim14: recall is monotone in nProbe and exhaustive probing is exact") {
    val rows = SparkEntry.queries("sim14_nprobe_curve")(spark, TestSpark.sf)
      .select($"n_probe", $"mean_recall")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 >= lo._2, s"recall must not drop: $lo -> $hi")
    }
    // nProbe = nCells probes every cell — the index degenerates to
    // exact search, so recall must be exactly 1
    assert(rows.last._2 == 1.0, s"exhaustive probe recall ${rows.last._2}")
  }

  test("j16: every planted typo resolves rank-1 to its source at lev 1") {
    val rows = SparkEntry.queries("j16_fuzzy_join")(spark, TestSpark.sf)
      .where($"rank" === 1)
      .select($"probe_key", $"cand_key", $"lev")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p, c, lev) =>
      assert(p == c && lev == 1,
        s"probe $p rank-1 matched $c at lev $lev (expected itself at 1)")
    }
  }

  test("x31 temporal split: masses reconcile and splits are time-ordered") {
    val rows = SparkEntry.queries("x31_temporal_split")(spark, TestSpark.sf)
      .select($"split", $"n_events", $"first_day", $"last_day")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val total = Tables.events(spark, TestSpark.sf).count()
    assert(rows.values.map(_._2).sum == total)
    assert(rows("train")._4 < rows("val")._3 ||
      rows("train")._4 + 1 == rows("val")._3,
      "train ends before val begins")
    assert(rows("val")._4 < rows("test")._3 ||
      rows("val")._4 + 1 == rows("test")._3,
      "val ends before test begins")
  }

  test("iterative fixpoints release superseded per-round caches") {
    // g12's 3 peel rounds persist a frame per round; only the FINAL
    // round's frame (plus nothing else) may survive the terminal action
    // — a leaked round would show up as extra entries here. Delta-based
    // so frames persisted by other suites don't interfere.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    SparkEntry.queries("g12_kcore")(spark, TestSpark.sf).collect()
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 1,
      s"k-core peel leaked caches: before=$before after=$after")
  }

  test("mmrRerank greedy walk releases superseded per-step caches") {
    val emb = (1L to 12L)
      .map(i => (i, Seq(math.cos(i * 0.5), math.sin(i * 0.5))))
      .toDF("id", "v")
    val q = Seq((100L, Seq(1.0, 0.0))).toDF("id", "v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val out = graft.llmops.SimSearch.mmrRerank(q, emb,
      "id", "v", "id", "v", nCand = 8, k = 4, lam = 0.5)
    assert(out.count() == 4)
    val after = sc.getPersistentRDDs.size
    // cands + final selected may remain; no per-step frame may
    assert(after - before <= 2,
      s"mmr walk leaked caches: before=$before after=$after")
  }

  test("subwordCount splits words, digits and punctuation") {
    val df = Seq("Hello, world! 42 tokens-here").toDF("t")
    // BPE-ish pre-tokenizer count: word chunks + digits + punctuation
    val subwordCount = size(filter(split(lower($"t"), "([^a-z0-9]+)"),
      t => length(t) > 0)) + regexp_count($"t", lit("[^a-zA-Z0-9\\s]"))
    // chunks: hello, world, 42, tokens, here = 5; punct: , ! - = 3
    assert(df.select(subwordCount).as[Int].head() == 8)
  }

  test("simHashPairs finds near-identical docs, skips unrelated ones") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the warm sun today"),
      (2L, "the quick brown fox jumps over the lazy dog in the warm sun tonight"),
      (3L, "completely different words about catalyst plans and shuffle exchanges"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("skewReport surfaces the hottest keys with shares") {
    val df = (Seq.fill(60)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(10)(3L)).toDF("k")
    // per-key frequency report: the topN hottest keys with their share
    val rep = df.groupBy($"k".as("key")).agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"key").limit(2)
      .withColumn("share", round($"n" / df.count().toDouble, 6))
      .as[(Long, Long, Double)].collect()
    assert(rep.map(r => (r._1, r._2)).toSeq == Seq((1L, 60L), (2L, 30L)))
    assert(math.abs(rep.head._3 - 0.6) < 1e-9)
  }

  test("tfidfKeywords ranks by rounded score with token tie-break (T9)") {
    val docs = Seq(
      (1L, "spark spark spark shuffle join"),
      (2L, "shuffle join join scan scan scan scan"),
      (3L, "vector vector spark scan")).toDF("doc_id", "text")
    val out = graft.llmops.TextAnalysis.tfidfKeywords(docs, "doc_id", "text", 2)
      .as[(Long, String, Long, Long, Double, Long)].collect()
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    assert(out.forall(r => r._6 >= 1 && r._6 <= 2))
    // recompute tf·ln(N/df) from the reported tf/df and corpus size 3
    out.foreach { case (_, _, tf, df, tfidf, _) =>
      val expect = BigDecimal(tf * math.log(3.0 / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(tfidf - expect) < 1e-9)
    }
    // "spark" is doc 1's defining token (tf 3, df 2)
    assert(byDoc(1L).minBy(_._6)._2 == "spark")
    // within a doc, ranks follow (tfidf desc, token asc)
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_._6)
      assert(sorted.zip(sorted.drop(1)).forall { case (a, b) =>
        a._5 > b._5 || (a._5 == b._5 && a._2 < b._2) })
    }
  }

  test("propagateVec matches the scalar-row propagate plan (G3/G8)") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
      .toDF("src", "dst")
    val nodes = Seq(
      (1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 5.0)), (3L, Seq(-1.0, 0.5)))
      .toDF("id", "emb")
    val norm = graft.ops.Graph.normalizeEdges(edges, "src", "dst")
    def rounded(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", round(element_at($"emb", 1), 9).as("e1"),
        round(element_at($"emb", 2), 9).as("e2"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val scalar =
      rounded(graft.ops.Graph.propagate(norm, nodes, "src", "dst", "id", "emb"))
    val vec =
      rounded(graft.ops.Graph.propagateVec(norm, nodes, "src", "dst", "id", "emb"))
    assert(scalar.nonEmpty && vec == scalar)
  }

  test("pageRank matches the hand-computed walk (G5)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    // d=0.5: r1 = {1:.5, 2:.25, 3:.25}
    // r2: 1 = .5; 2 = .5·(.5/2) = .125; 3 = .5·(.5/2 + .25/1) = .25
    val out = graft.ops.Graph.pageRank(edges, "src", "dst", seeds, "seed", 2, 0.5)
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 0.5, 2L -> 0.125, 3L -> 0.25))
  }

  test("bpePairCounts weights adjacent char pairs by word frequency (T11)") {
    val docs = Seq((1L, "abab ab"), (2L, "abab")).toDF("doc_id", "text")
    // dictionary: abab(wc 2) → pairs ab,ba,ab; ab(wc 1) → ab
    // totals: ab = 2·2 + 1 = 5, ba = 2·1 = 2
    val out = graft.llmops.TextAnalysis.bpePairCounts(docs, "doc_id", "text", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("ab", 5L, 1L), ("ba", 2L, 2L)))
  }

  test("unigramLogProb scores rare phrasing above common phrasing (T10)") {
    val docs = Seq(
      (1L, "the the the the"), // most common token only
      (2L, "the zzz"),         // half rare
      (3L, "")).toDF("doc_id", "text")
    val out = graft.llmops.TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 4 && out(2L)._1 == 2 && out(3L) == ((0L, 0.0)))
    assert(out(2L)._2 > out(1L)._2)
    // doc 1: p(the)=5/6 → -ln(5/6); doc 2: mean of -ln(5/6), -ln(1/6)
    val pThe = -math.log(5.0 / 6); val pZzz = -math.log(1.0 / 6)
    assert(math.abs(out(1L)._2 - BigDecimal(pThe).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(out(2L)._2 - BigDecimal((pThe + pZzz) / 2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("sampleFramesPortable expands duration/40ms + 1 frames per asset (MM2)") {
    val docs = Seq((1L, "a" * 85), (2L, "xyz")).toDF("doc_id", "text")
    val assets = graft.multimodal.Multimodal.videoAssetsFromText(docs, "doc_id", "text")
    val frames = graft.multimodal.Multimodal.sampleFramesPortable(assets, 40L)
      .as[(Long, Long, String)].collect()
    val perAsset = frames.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perAsset == Map(1L -> 3, 2L -> 1)) // 0,40,80 | 0
    assert(frames.map(_._3).distinct.length == frames.length) // digests differ
    assert(frames.forall(_._3.length == 16))
  }

  test("audioWindowEnergy: real WAV decode, framing math, formula-exact (MM3)") {
    val ids = Seq(3L, 4L).toDF("doc_id")
    val out = graft.multimodal.RealCodecs
      .audioWindowEnergy(ids, "doc_id", winSamples = 160, hopSamples = 80)
      .as[(Long, Long, Long)].collect()
    // 800 decoded samples, win 160 hop 80 → starts 0..640 → 9 windows
    assert(out.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map(3L -> 9, 4L -> 9))
    // each window energy replays the sample formula exactly — any
    // endianness/offset bug in the real RIFF parse would shift it
    def s(id: Long, t: Int): Long = ((id * 7919 + t.toLong * 104729) % 65536) - 32768
    out.foreach { case (id, ws, e) =>
      val want = (ws.toInt until ws.toInt + 160).map(t => s(id, t) * s(id, t)).sum
      assert(e == want, s"asset $id window $ws")
    }
  }

  test("imageAHashes: real decode, formula-exact aHash, banding complete (MM4)") {
    val ids = (1L to 20L).toDF("doc_id")
    val h = graft.multimodal.RealCodecs.imageAHashes(ids, "doc_id")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(h.size == 40) // original + perturbed variant per id
    // recompute the aHash from the pixel FORMULA (no codec) — exact
    // equality proves the PNG encode→decode roundtrip preserved every
    // pixel and the block/threshold math matches
    def expected(id: Long, perturb: Boolean): (Long, Long) = {
      val blocks = new Array[Long](64)
      for (y <- 0 until 16; x <- 0 until 16) {
        val r0 = (id * 31 + x * 7 + y * 13) % 256
        val r = if (perturb && x == 0 && y == 0) (r0 + 8) % 256 else r0
        blocks((y / 2) * 8 + (x / 2)) +=
          r + (id * 17 + x * 11 + y * 3) % 256 + (id * 29 + x * 5 + y * 19) % 256
      }
      val t = blocks.sum
      var lo = 0L; var hi = 0L
      for (j <- 0 until 64 if 64L * blocks(j) > t)
        if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
      (lo, hi)
    }
    (1L to 20L).foreach { id =>
      assert(h(2 * id) == expected(id, perturb = false), s"id $id orig")
      assert(h(2 * id + 1) == expected(id, perturb = true), s"id $id variant")
    }
    // banding completeness: any pair within hamming 3 shares a clean
    // 16-bit band of the (lo, hi) halves — pigeonhole over 4 disjoint bands
    val ks = h.keys.toSeq.sorted
    for (a <- ks; b <- ks if a < b) {
      val (la, ha) = h(a); val (lb, hb) = h(b)
      val d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if (d <= 3) {
        val xl = la ^ lb; val xh = ha ^ hb
        val shared = (xl & 0xffffL) == 0 || ((xl >> 16) & 0xffffL) == 0 ||
          (xh & 0xffffL) == 0 || ((xh >> 16) & 0xffffL) == 0
        assert(shared, s"pair ($a,$b) hamming $d missed by banding")
      }
    }
  }

  test("overlapJoin equals the naive overlap predicate, each pair once") {
    val a = Seq((1L, 10L, 0L, 100L), (1L, 11L, 150L, 260L),
      (1L, 12L, 300L, 300L), (2L, 20L, 0L, 50L))
      .toDF("k", "aid", "a_lo", "a_hi")
    val b = Seq((1L, 30L, 90L, 160L), (1L, 31L, 200L, 1000L),
      (1L, 32L, 301L, 302L), (2L, 40L, 60L, 70L))
      .toDF("k", "bid", "b_lo", "b_hi")
    val got = AsOf.overlapJoin(a, b, Seq("k"), "a_lo", "a_hi",
        "b_lo", "b_hi", bucket = 25L)
      .select($"aid", $"bid").as[(Long, Long)].collect().sorted.toSeq
    // naive reference: cross join + overlap predicate
    val expect = (for {
      (ka, aid, alo, ahi) <- Seq((1L, 10L, 0L, 100L), (1L, 11L, 150L, 260L),
        (1L, 12L, 300L, 300L), (2L, 20L, 0L, 50L))
      (kb, bid, blo, bhi) <- Seq((1L, 30L, 90L, 160L), (1L, 31L, 200L, 1000L),
        (1L, 32L, 301L, 302L), (2L, 40L, 60L, 70L))
      if ka == kb && alo <= bhi && blo <= ahi
    } yield (aid, bid)).sorted
    assert(got == expect && got.distinct == got)
    assert(got == Seq((10L, 30L), (11L, 30L), (11L, 31L), (12L, 31L)))
  }

  test("stratifiedByActivity (xxhash64 variant) keeps hi stratum at a higher rate") {
    val counts = Tables.events(spark, "/root/testdata/sf0.01")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val kept = Sampling.stratifiedByActivity(counts, "user_id", "n",
      hiThreshold = 70, hiRate = 0.5, loRate = 0.1)
    val k = kept.count(); val total = counts.count()
    assert(k > 0 && k < total)
    // deterministic across invocations
    assert(Sampling.stratifiedByActivity(counts, "user_id", "n", 70, 0.5, 0.1)
      .count() == k)
  }

  test("a16 approx percentiles land within the exact per-group quartile spread") {
    val approx = SparkEntry.queries("a16_approx_percentiles")(spark, TestSpark.sf)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val exact = SparkEntry.queries("a9_percentiles")(spark, TestSpark.sf)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (g, (p25, p50, p75)) =>
      val (a25, a50, a75) = approx(g)
      val tol = (p75 - p25).max(1.0) * 0.10
      assert(math.abs(a25 - p25) <= tol && math.abs(a50 - p50) <= tol &&
        math.abs(a75 - p75) <= tol,
        s"group $g: approx ($a25,$a50,$a75) vs exact ($p25,$p50,$p75)")
      assert(a25 <= a50 && a50 <= a75, s"group $g: estimates not monotone")
    }
  }

  test("normalize and decayedSum match hand-computed values") {
    val n = Seq(("Foo,  BAR!! baz42\n\ttail  ", "foo bar baz42 tail"),
      ("", ""), ("...", "")).toDF("in", "expect")
    assert(n.where(graft.functions.TextFunctions.normalize($"in") =!= $"expect")
      .count() == 0)
    // newest-last window [1, 2, 4]: 4*1 + 2*0.5 + 1*0.25 = 5.25
    val d = Seq(Seq(1.0, 2.0, 4.0)).toDF("vals")
      .select(graft.functions.Features.decayedSum($"vals", 0.5))
      .as[Double].head()
    assert(d == 5.25)
  }

  test("canonicalUrl collapses scheme/case/www/query/slash variants") {
    import spark.implicits._
    val canon = Seq(
      "http://WWW.News.Example.com/a/b/",
      "https://news.example.com/a/b?utm_source=x#frag",
      "https://www.news.example.com/a/b").toDF("url")
      .select(TextFunctions.canonicalUrl($"url")).as[String].collect().toSet
    assert(canon == Set("https://news.example.com/a/b"))
  }

  test("stripMarkup: tags become spaces, entities decode once, in order") {
    import spark.implicits._
    val got = Seq("<b>a</b>b &amp;lt; &lt;i&gt; x&nbsp;y")
      .toDF("t").select(TextFunctions.stripMarkup($"t")).as[String].head()
    // "a</b>b" must not fuse to "ab"; "&amp;lt;" decodes to the literal
    // "&lt;" (once — amp last), while the real "&lt;i&gt;" becomes "<i>"
    // AFTER tag-stripping so it cannot be re-stripped
    assert(got == "a b &lt; <i> x y")
  }

  test("Validate: planted violations counted; profile reports nulls/distinct") {
    import spark.implicits._
    import graft.ops.Validate
    val df = Seq((1L, Some(10L), "O", 5.0), (2L, None, "X", -1.0),
      (3L, Some(99L), "F", 0.0)).toDF("id", "fk", "status", "price")
    val checks = Validate.checkViolations(df, Seq(
        "price_positive" -> (col("price") > 0),
        "status_known" -> col("status").isin("O", "F"),
        "fk_notnull" -> col("fk").isNotNull))
      .as[(String, Long)].collect().toMap
    assert(checks == Map("price_positive" -> 2L, "status_known" -> 1L,
      "fk_notnull" -> 1L))
    // 99 is an orphan; the NULL fk is fk_notnull's finding, not ours
    val refv = Validate.referentialViolations(df, "fk",
      Seq(10L).toDF("k"), "k", "fk_in_dim").as[(String, Long)].head()
    assert(refv == ("fk_in_dim", 1L))
    val prof = Validate.profile(df, Seq("fk", "status"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(prof("fk") == (("fk", 3L, 1L, 2L, "10", "99")))
    assert(prof("status") == (("status", 3L, 0L, 3L, "F", "X")))
  }

  test("profileDrift flags planted null spike and range excursion") {
    import spark.implicits._
    import graft.ops.Validate
    val base = Seq((1L, Some(1L), 5.0), (2L, Some(2L), 6.0))
      .toDF("id", "fk", "price")
    val cur = Seq((3L, None: Option[Long], 5.0), (4L, Some(2L), 9.0))
      .toDF("id", "fk", "price")
    val got = Validate.profileDrift(base, cur, Seq("fk", "price"))
      .as[(String, Double, Double, Double, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // fk: null rate 0 → 0.5, cardinality 2 → 1, max shrank 2 → 2? no: min 1→2
    assert(got("fk") == (("fk", 0.0, 0.5, 0.5, 2L, 1L, true)))
    // price: no nulls either side, max moved 6 → 9
    assert(got("price") == (("price", 0.0, 0.0, 0.0, 2L, 2L, true)))
  }

  test("g6 item-cf: hand-computed co-occurrence counts and neighbor ranks") {
    import spark.implicits._
    import graft.recall.ItemCf
    // baskets: 10={1,2,3}, 20={1,2} (dup row collapses), 30={2,3}, 40={1}
    // degrees: 1→3, 2→3, 3→2; co: (1,2)=2, (1,3)=1, (2,3)=2
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (20L, 1L), (30L, 2L), (30L, 3L), (40L, 1L)).toDF("b", "i")
    val co = ItemCf.cooccurrence(df, "b", "i", maxBasket = 10, minCo = 1L)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(co.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(co((1L, 2L)) == (2L, 0.666667)) // 2/sqrt(3*3)
    assert(co((2L, 3L)) == (2L, 0.816497)) // 2/sqrt(3*2)
    assert(co((1L, 3L)) == (1L, 0.408248)) // 1/sqrt(3*2)
    val top = ItemCf.topKNeighbors(
        ItemCf.cooccurrence(df, "b", "i", 10, 1L), k = 1)
      .select($"item", $"neighbor").as[(Long, Long)].collect().toMap
    assert(top == Map(1L -> 2L, 2L -> 3L, 3L -> 2L))
  }

  test("g9 adamic-adar: hand-computed 1/ln(deg) common-neighbor weights") {
    import spark.implicits._
    import graft.recall.ItemCf
    // baskets: b1={1,2} (w=1/ln2), b2={1,2,3} (w=1/ln3), b3={2,3} (w=1/ln2)
    // aa(1,2) = aa(2,3) = 1/ln2 + 1/ln3; (1,3) has co=1 → dropped at minCo=2
    val ui = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 2L), (3L, 3L)).toDF("b", "i")
    val got = ItemCf.adamicAdar(ui, "b", "i", maxBasket = 10, minCo = 2L)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    val w = BigDecimal(1 / math.log(2) + 1 / math.log(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map((1L, 2L) -> ((2L, w)), (2L, 3L) -> ((2L, w))))
  }

  test("g7 swing: hand-computed damped user-pair credits") {
    import spark.implicits._
    import graft.recall.ItemCf
    // u1:{1,2,3} u2:{1,2} u3:{2,3} → supporting pairs: (u1,u2) shares
    // {1,2} (c=2), (u1,u3) shares {2,3} (c=2), (u2,u3) shares only {2}
    // (c=1 → drops). swing(1,2) = swing(2,3) = 1/(1+2); no (1,3) pair.
    val ui = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L)).toDF("user", "item")
    val got = ItemCf.swingPairs(ui, "user", "item", alpha = 1.0)
      .as[(Long, Long, Double, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got.keySet == Set((1L, 2L), (2L, 3L)))
    assert(got((1L, 2L)) == (0.333333, 1L))
    assert(got((2L, 3L)) == (0.333333, 1L))
  }

  test("t16 winnowing guarantee: shared run of w+k-1 tokens shares a fingerprint") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    // k=3, w=4: any shared run of w+k-1 = 6 tokens contains one full
    // window of 4 shingle hashes in BOTH docs, whose min both select
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight nine ten $shared eleven"),
      (3L, "totally different words only here now")).toDF("doc_id", "text")
    val fps = df.select($"doc_id",
        explode(TextAnalysis.winnowFingerprints($"text", 3, 4)).as("fp"))
      .as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "guaranteed shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // fingerprints are a strict subset of the shingle hashes (compression)
    assert(fps(1L).size < df.where($"doc_id" === 1)
      .select(size(graft.functions.TextFunctions.shingles($"text", 3)))
      .as[Int].head())
    val pairs = TextAnalysis.winnowOverlapPairs(df, "doc_id", "text",
        k = 3, w = 4, minShared = 1)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("t14 count-min estimates: one-sided error within eps*N") {
    import spark.implicits._
    val toks = Tables.documents(spark, TestSpark.sf)
      .select(explode(TextFunctions.tokens($"text")).as("token"))
    val n = toks.count()
    val bound = math.ceil(0.001 * n).toLong
    val sketch = toks.agg(count_min_sketch($"token",
      lit(0.001), lit(0.99), lit(42)).as("sk"))
    // probe EVERY distinct token, not just the query's top-30: the CMS
    // guarantee (est ≥ exact, est ≤ exact + eps·N w.h.p.) is per-item
    val probed = toks.groupBy($"token").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketch))
      .select($"token", $"n_exact",
        graft.functions.SketchFunctions.cmsEstimate($"sk", $"token")
          .as("n_est"))
      .as[(String, Long, Long)].collect()
    assert(probed.length > 20) // sf0.001 synthetic vocab is ~30 tokens
    probed.foreach { case (t, ex, est) =>
      assert(est >= ex, s"CMS underestimated '$t': $est < $ex")
      assert(est <= ex + bound, s"'$t' beyond eps*N: $est > $ex + $bound")
    }
    // an unseen item can only collide, never inherit real mass beyond eps*N
    val unseen = sketch.select(graft.functions.SketchFunctions
      .cmsEstimate($"sk", lit("zzznever_a_token"))).as[Long].head()
    assert(unseen <= bound)
  }

  test("a14 HLL distinct estimates stay within 5x the configured rsd of exact") {
    val approx = SparkEntry.queries("a14_hll_distinct")(spark, TestSpark.sf)
      .as[(String, Long)].collect().toMap
    val exact = SparkEntry.queries("a15_distinct_exact")(spark, TestSpark.sf)
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (src, n) =>
      val rel = math.abs(approx(src).toDouble - n) / n
      assert(rel <= 0.10, s"source $src: approx=${approx(src)} exact=$n")
    }
  }
}
