package graft

import graft.evalx.Metrics
import graft.functions.Features
import graft.ops.{AsOf, Sampling}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY §5.3): operator laws over generated
  * inputs, executed through the real Spark plans. Seeded ScalaCheck
  * generators drive a handful of cases per property (each case is a full
  * Spark job); no scalatestplus bridge in the offline cache, so sampling
  * is explicit (and deterministic).  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cases[T](g: Gen[T], n: Int = 5): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(40), Seed(i.toLong)))

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    cases(g).foreach(f)

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    cases(g1).zip(cases(g2)).foreach { case (a, b) => f(a, b) }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val behaviorGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOf(for {
      u <- Gen.choose(0L, 4L)
      item <- Gen.choose(0L, 30L)
      ts <- Gen.choose(0L, 1000L)
    } yield (u, item, ts))

  test("property: LSH detection prob is monotone in bands; bandPlan returns the true minimum") {
    import graft.llmops.Dedup
    // bandPlan's `find` over ASCENDING divisors is only the fewest
    // qualifying bands if P(b) = 1-(1-j^(n/b))^b is increasing in b for
    // fixed n — pin that law over generated (n, j) instead of trusting it
    forAll(Gen.oneOf(4, 8, 12, 16, 24, 32, 64),
        Gen.choose(1, 99)) { (n, jPct) =>
      val j = jPct / 100.0
      val divs = (1 to n).filter(n % _ == 0)
      val probs = divs.map(b => Dedup.detectionProb(j, b, n / b))
      probs.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a - 1e-15, s"n=$n j=$j: $probs not monotone") }
      // and therefore bandPlan == brute-force minimum qualifying pair
      for (t <- Seq(10, 50, 90)) {
        val brute = divs.find(b =>
            Dedup.detectionProb(j, b, n / b) >= t / 100.0)
          .map(b => (b, n / b)).getOrElse((n, 1))
        assert(Dedup.bandPlan(n, j, t) == brute, s"n=$n j=$j t=$t")
      }
    }
  }

  test("property: bandReplanLadder picks the minimal qualifying ≠-current rung") {
    import graft.llmops.Dedup
    // the remedy ladder behind d34/d36 — pin its contract over
    // generated layouts, not just the registered operating points:
    // the choice is the FIRST (nh = cur·2^k, bandPlan(nh)) in ladder
    // order that analytically qualifies AND differs from the failing
    // layout; when nothing on the ladder qualifies, the ladder-max
    // honest fallback (nh_max, nh_max, 1) ships
    forAll(Gen.oneOf(4, 8, 12, 16, 24, 32),
        Gen.choose(1, 99)) { (n, jPct) =>
      val j = jPct / 100.0
      val divs = (1 to n).filter(n % _ == 0)
      for (curB <- Seq(divs.head, divs(divs.length / 2), divs.last);
           t <- Seq(10, 50, 80, 95); md <- Seq(0, 3, 6)) {
        val got = Dedup.bandReplanLadder(n, curB, j, t, md)
        val brute = (0 to md).iterator.map { k =>
          val nh = n << k
          val (b, r) = Dedup.bandPlan(nh, j, t)
          (nh, b, r)
        }.find { case (nh, b, r) =>
          Dedup.detectionProb(j, b, r) >= t / 100.0 &&
            (nh != n || b != curB)
        }.getOrElse((n << md, n << md, 1))
        assert(got == brute, s"n=$n curB=$curB j=$j t=$t md=$md")
        // contract: the choice either analytically qualifies or is the
        // honest ladder-max fallback, and bands divide hashes
        assert(got._1 % got._2 == 0 && got._3 == got._1 / got._2)
        assert(Dedup.detectionProb(j, got._2, got._3) >= t / 100.0
          || (got._1 == (n << md) && got._2 == got._1),
          s"neither qualifying nor honest fallback: $got")
        // the failing layout only comes back as the DEGENERATE honest
        // fallback (maxDoublings=0 with curB already = numHashes) —
        // any qualifying return differs from it
        if (got._1 == n && got._2 == curB)
          assert(md == 0 && curB == n,
            s"returned the failing layout outside the degenerate case")
      }
    }
  }

  test("property: signReplanLadder picks the minimal qualifying ≠-current rung") {
    import graft.llmops.SimSearch
    // the sign-LSH remedy ladder behind d39/d40 — the bandReplanLadder
    // contract with the hyperplane S-curve: FIRST (nb = cur·2^k,
    // signBandPlan(nb)) in ladder order that analytically qualifies AND
    // differs from the failing layout; ladder-max honest fallback
    // (nb_max, nb_max, 1) when nothing qualifies
    forAll(Gen.oneOf(4, 8, 16, 32), Gen.choose(5, 95)) { (n, cPct) =>
      val divs = (1 to n).filter(n % _ == 0)
      for (curB <- Seq(divs.head, divs(divs.length / 2), divs.last);
           t <- Seq(10, 50, 80, 95); md <- Seq(0, 3, 6)) {
        val got = SimSearch.signReplanLadder(n, curB, cPct, t, md)
        val brute = (0 to md).iterator.map { k =>
          val nb = n << k
          val (b, w) = SimSearch.signBandPlan(nb, cPct, t)
          (nb, b, w)
        }.find { case (nb, b, w) =>
          SimSearch.signDetectionProb(cPct / 100.0, b, w) >= t / 100.0 &&
            (nb != n || b != curB)
        }.getOrElse((n << md, n << md, 1))
        assert(got == brute, s"n=$n curB=$curB c=$cPct t=$t md=$md")
        assert(got._1 % got._2 == 0 && got._3 == got._1 / got._2)
        assert(SimSearch.signDetectionProb(cPct / 100.0, got._2, got._3)
          >= t / 100.0 || (got._1 == (n << md) && got._2 == got._1),
          s"neither qualifying nor honest fallback: $got")
        if (got._1 == n && got._2 == curB)
          assert(md == 0 && curB == n,
            s"returned the failing layout outside the degenerate case")
      }
    }
  }

  test("property: simHashDetectionProb ≡ brute-force placement enumeration") {
    import graft.llmops.Dedup
    // the d38 curve's inclusion–exclusion must equal the exact
    // fraction of h-subsets of [0, totalBits) leaving at least one
    // band's keyWidth-bit region untouched — enumerate ALL placements
    // on small signatures and compare the BigInt counts bit-for-bit
    for (totalBits <- Seq(6, 8, 10); bands <- Seq(1, 2, 3);
         keyWidth <- Seq(1, 2); if bands * keyWidth <= totalBits;
         h <- 0 to totalBits) {
      val regions = (0 until bands).map(b =>
        (b * keyWidth until (b + 1) * keyWidth).toSet)
      val hits = (0 until totalBits).combinations(h).count(s =>
        regions.exists(r => r.intersect(s.toSet).isEmpty))
      val all = (0 until totalBits).combinations(h).size
      val want = hits.toDouble / all.toDouble
      val got = Dedup.simHashDetectionProb(totalBits, bands, keyWidth, h)
      assert(got == want,
        s"($totalBits, $bands, $keyWidth, $h): got $got want $want")
      // pigeonhole: certain detection strictly below `bands` flips
      if (h < bands) assert(got == 1.0)
    }
  }

  test("property: bandPlanDf (the relational d31 plan) ≡ bandPlan on generated grids") {
    import graft.llmops.Dedup
    // the registered d31 grid is fixed; pin the RELATIONAL planner
    // against the driver one over generated operating points too, so a
    // future grid change can't silently diverge the two forms
    val gridGen: Gen[List[(Int, Int, Int)]] = Gen.nonEmptyListOf(for {
      nh <- Gen.oneOf(4, 8, 12, 16, 20, 24, 32, 48, 64)
      jp <- Gen.choose(1, 99)
      tp <- Gen.choose(0, 100)
    } yield (nh, jp, tp))
    forAll(gridGen) { grid0 =>
      val grid = grid0.distinct
      val got = Dedup.bandPlanDf(
          grid.toDF("num_hashes", "min_jaccard_pct", "target_pct"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      assert(got.size == grid.size)
      for ((nh, jp, tp) <- grid) {
        val (b, rw) = Dedup.bandPlan(nh, jp / 100.0, tp)
        assert(got((nh.toLong, jp.toLong, tp.toLong)) == ((b.toLong, rw.toLong)),
          s"grid point ($nh, $jp, $tp)")
      }
    }
  }

  test("property: as-of last, history, nearest ≡ naive, cut on and off") {
    // key 4 turns null on both sides (a null-key query sees the null-key
    // behaviors, and not key 0's, the default a null key joins as in the
    // key cut); key 9 never has behaviors (the query row is kept)
    def key(u: Long): Option[Long] = if (u == 4L) None else Some(u)
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try for (threshold <- Seq(saved, "-1")) {
      // the default threshold broadcasts the local query keys; -1 plans
      // the plain union
      spark.conf.set(conf, threshold)
      forAll(behaviorGen, behaviorGen) { (qs0, bs0) =>
        // unique behavior ids as tiebreak
        val bs = bs0.zipWithIndex.map { case ((u, _, ts), i) => (key(u), i.toLong, ts) }
        val qs = (qs0 ++ List((9L, 0L, 500L), (4L, 0L, 500L))).zipWithIndex
          .map { case ((u, _, ts), i) => (key(u), 1000L + i, ts) }
        val qDf = qs.toDF("user_id", "query_id", "ts")
        val bDf = bs.toDF("user_id", "beh_id", "bts")
        val last = AsOf.lastAsOf(qDf, bDf, "user_id", "ts", "bts",
            payload = col("beh_id"), outCol = "o", tieBreak = col("beh_id"))
          .select($"query_id", $"o").as[(Long, Option[Long])].collect().toMap
        val hist = AsOf.historyAsOf(qDf, bDf, "user_id", "ts", "bts",
            payload = col("beh_id"), outCol = "o", n = 3, tieBreak = col("beh_id"))
          .select($"query_id", $"o").as[(Long, Seq[Long])].collect().toMap
        val near = AsOf.nearestAsOf(qDf, bDf, "user_id", "ts", "bts",
            payload = col("beh_id"), outCol = "o", tieBreak = col("beh_id"))
          .select($"query_id", $"o.ts", $"o.p")
          .as[(Long, Option[Long], Option[Long])].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(Seq(last, hist, near).forall(_.size == qs.size))
        qs.foreach { case (u, qid, qts) =>
          val mine = bs.filter(_._1 == u).sortBy(b => (b._3, b._2))
          val before = mine.filter(_._3 <= qts)
          val clue = s"threshold $threshold, query $qid"
          assert(last(qid) == before.lastOption.map(_._2), clue)
          assert(hist(qid) == before.map(_._2).takeRight(3), clue)
          // equidistant goes backward; nothing on one side takes the other
          val nearest = (before.lastOption, mine.find(_._3 > qts)) match {
            case (Some(b), Some(f)) => Some(if (qts - b._3 <= f._3 - qts) b else f)
            case (b, f) => b.orElse(f)
          }
          assert(near(qid) == ((nearest.map(_._3), nearest.map(_._2))), clue)
        }
      }
    } finally spark.conf.set(conf, saved)
  }

  test("property: min-max scale lands in [0,1] and preserves order") {
    forAll(Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val scaled = Features.minMaxScale(df, "v", "s")
        .select($"id", $"v", $"s").as[(Int, Double, Double)].collect()
      scaled.foreach { case (_, _, s) => assert(s >= 0.0 && s <= 1.0) }
      val byV = scaled.sortBy(_._2).map(_._3)
      assert(byV.zip(byV.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("property: hash split partitions exactly and respects bucket rate bounds") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 100000L))) { ids0 =>
      val ids = ids0.distinct
      val df = ids.toDF("k")
      val (a, b) = Sampling.hashSplit(df, $"k", 10, 8)
      val na = a.count(); val nb = b.count()
      assert(na + nb == ids.length)
      assert(a.join(b, "k").count() == 0)
    }
  }

  test("property: NDCG ∈ [0,1]; perfect ranking scores 1") {
    forAll(Gen.choose(1, 8), Gen.choose(1, 8)) { (nRel, k) =>
      // perfect ranking: the relevant items occupy the top positions
      val ranked = (1 to math.max(nRel, k)).map(i => ("u", s"i$i", i)).toDF("u", "i", "rank")
      val rel = (1 to nRel).map(i => ("u", s"i$i")).toDF("u", "i")
      val m = Metrics.rankingAtK(ranked, rel, "u", "i", "rank", k)
        .select($"ndcg").as[Double].head()
      assert(m >= 0.0 && m <= 1.0 + 1e-9)
      assert(math.abs(m - 1.0) < 1e-9,
        s"perfect ranking must give ndcg=1 (nRel=$nRel k=$k got $m)")
    }
  }

  test("property: MRR@K equals the naive first-relevant-rank reciprocal") {
    val relGen = Gen.listOfN(6, Gen.choose(1, 12))
    forAll(relGen, Gen.choose(1, 8)) { (relIdx, k) =>
      // ranked list i1..i12 in rank order; random subset is relevant
      val ranked = (1 to 12).map(i => ("u", s"i$i", i)).toDF("u", "i", "rank")
      val rel = relIdx.distinct.map(i => ("u", s"i$i")).toDF("u", "i")
      val (fr, mrr) = Metrics.mrrAtK(ranked, rel, "u", "i", "rank", k)
        .select($"first_rank", $"mrr").as[(Long, Double)].head()
      val naive = relIdx.distinct.filter(_ <= k).sorted.headOption
      assert(fr == naive.getOrElse(0).toLong)
      assert(math.abs(mrr - naive.map(1.0 / _).getOrElse(0.0)) < 1e-9)
    }
  }

  test("property: knnClassify picks the modal label of the naive k nearest") {
    val vecGen = Gen.listOfN(10, for {
      x <- Gen.choose(-5, 5); y <- Gen.choose(-5, 5); z <- Gen.choose(1, 5)
      lbl <- Gen.choose(0, 2)
    } yield (x.toFloat, y.toFloat, z.toFloat, lbl))
    forAll(vecGen, Gen.choose(1, 6)) { (rows, k) =>
      val q = Seq((100L, Array(1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
      val c = rows.zipWithIndex.map { case ((x, y, z, l), i) =>
        (i.toLong, Array(x, y, z), l) }.toDF("vec_id", "embedding", "label")
      val got = graft.llmops.SimSearch.knnClassify(q, c, "vec_id",
          "embedding", "vec_id", "embedding", "label", k)
        .select($"pred_label", $"votes").as[(Long, Long)].head()
      def cos(v: (Float, Float, Float, Int)): Double = {
        val dot = v._1 + v._2 + v._3
        dot / (math.sqrt(3.0) * math.sqrt(
          v._1 * v._1.toDouble + v._2 * v._2 + v._3 * v._3))
      }
      val nn = rows.zipWithIndex
        .sortBy { case (v, i) => (-cos(v), i) }.take(k)
      val byLabel = nn.groupBy(_._1._4).view.mapValues(_.size)
      val best = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(got == ((best._1.toLong, best._2.toLong)),
        s"k=$k rows=$rows got=$got expect=$best")
    }
  }

  test("property: denseIds is a dense 0..n-1 rank in key order at ANY partition count") {
    val keysGen = Gen.listOfN(60, Gen.choose(-500L, 500L))
    forAll(keysGen, Gen.choose(1, 9)) { (keys, nParts) =>
      whenever(keys.nonEmpty) {
        val df = keys.toDF("k")
        val got = graft.ops.PrefixSum.denseIds(df, "k", "idx", nParts)
          .as[(Long, Long)].collect().sortBy(_._2)
        val expect = keys.distinct.sorted.zipWithIndex
          .map { case (k, i) => (k, i.toLong) }
        assert(got.toSeq == expect,
          s"denseIds diverged from sorted-distinct rank at nParts=$nParts")
      }
    }
  }

  test("property: PrefixSum.exclusive ≡ a local running sum over two values, either order, any partition count") {
    // distinct keys; half-integer doubles keep every partial sum exact
    val rowsGen = for {
      n <- Gen.choose(1, 20)
      keys <- Gen.containerOfN[Set, Long](n, Gen.choose(-300L, 300L))
      vals <- Gen.listOfN(keys.size,
        Gen.zip(Gen.choose(-20L, 20L), Gen.choose(-8, 8)))
    } yield keys.toList.zip(vals).map { case (k, (a, h)) => (k, a, h * 0.5) }
    val cfgGen = Gen.zip(Gen.choose(1, 9), Gen.oneOf(false, true))
    // 3 keys over 9 range partitions: most partitions stay empty
    val fewKeys = (List((3L, 1L, 0.5), (1L, 2L, 1.5), (2L, -4L, -1.0)), (9, true))
    val runs = cases(rowsGen, 8).zip(cases(cfgGen, 8)) :+ fewKeys
    runs.foreach { case (rows, (nParts, desc)) =>
      val order = if (desc) $"k".desc else $"k".asc
      val got = graft.ops.PrefixSum.exclusive(rows.toDF("k", "a", "b"),
        Seq(order), Seq("sa" -> $"a", "sb" -> $"b"), nParts)
      assert(got.schema("sa").dataType == org.apache.spark.sql.types.LongType &&
        got.schema("sb").dataType == org.apache.spark.sql.types.DoubleType)
      val ordered = if (desc) rows.sortBy(-_._1) else rows.sortBy(_._1)
      val before = ordered.scanLeft((0L, 0.0)) { case ((sa, sb), (_, a, b)) =>
        (sa + a, sb + b) }
      val expect = ordered.zip(before)
        .map { case ((k, _, _), (sa, sb)) => (k, sa, sb) }.sortBy(_._1)
      val actual = got.select($"k", $"sa", $"sb")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(actual == expect, s"nParts=$nParts desc=$desc rows=$rows")
    }
    assert(runs.exists { case (rows, (np, _)) => np > rows.size })
  }

  test("property: graft_topk ≡ sorted-take per group at any partition count") {
    // duplicate-heavy scores stress the lexicographic tie-break; random
    // partition counts stress the partial/merge/serialize path
    val rowsGen = Gen.listOfN(80, Gen.zip(
      Gen.choose(0, 5), Gen.choose(0, 8), Gen.choose(-50L, 50L)))
    forAll(rowsGen, Gen.zip(Gen.choose(1, 7), Gen.choose(1, 6))) {
        (rows, pk) =>
      val (nParts, k) = pk
      whenever(rows.nonEmpty) {
        val df = rows.toDF("g", "s", "id").repartition(nParts)
        val got = df.groupBy($"g")
          .agg(graft.functions.TopKAgg.topK(struct($"s", $"id"), k).as("t"))
          .select($"g", transform($"t", x =>
            struct(x.getField("s"), x.getField("id"))).as("t"))
          .as[(Int, Seq[(Int, Long)])].collect().toMap
        val expect = rows.groupBy(_._1).map { case (g, rs) =>
          g -> rs.map(r => (r._2, r._3)).sorted.reverse.take(k)
        }
        assert(got.keySet == expect.keySet)
        expect.foreach { case (g, e) =>
          assert(got(g) == e, s"group $g diverged at nParts=$nParts k=$k")
        }
      }
    }
  }

  test("property: negative samples never collide and stay in range") {
    forAll(behaviorGen) { bs =>
      whenever(bs.nonEmpty) {
        val pos = bs.map(b => (b._1, b._2)).distinct.toDF("user", "item")
        val negs = Sampling.negatives(pos, "user", "item", 2, 0, 30)
          .select($"user", $"neg_item").as[(Long, Long)].collect()
        val posSet = bs.map(b => (b._1, b._2)).toSet
        negs.foreach { case (u, n) =>
          assert(n >= 0 && n <= 30)
          assert(!posSet.contains((u, n)))
        }
      }
    }
  }

  private val intervalsGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOf(for {
      k <- Gen.choose(0L, 2L)
      lo <- Gen.choose(0L, 300L)
      len <- Gen.choose(0L, 120L)
    } yield (k, lo, lo + len))

  test("property: overlapJoin ≡ naive cross-filter at any bucket width") {
    forAll(intervalsGen, intervalsGen) { (as, bs) =>
      whenever(as.nonEmpty && bs.nonEmpty) {
        val aIdx = as.zipWithIndex.map { case ((k, lo, hi), i) =>
          (k, i.toLong, lo, hi) }
        val bIdx = bs.zipWithIndex.map { case ((k, lo, hi), i) =>
          (k, i.toLong, lo, hi) }
        val expect = (for {
          (ka, ai, alo, ahi) <- aIdx
          (kb, bi, blo, bhi) <- bIdx
          if ka == kb && alo <= bhi && blo <= ahi
        } yield (ai, bi)).sorted
        for (bucket <- Seq(7L, 64L, 1000L)) {
          val got = AsOf.overlapJoin(
              aIdx.toDF("k", "aid", "a_lo", "a_hi"),
              bIdx.toDF("k", "bid", "b_lo", "b_hi"),
              Seq("k"), "a_lo", "a_hi", "b_lo", "b_hi", bucket)
            .select($"aid", $"bid").as[(Long, Long)].collect().sorted.toSeq
          assert(got == expect, s"bucket=$bucket")
        }
      }
    }
  }

  private val cdcGen: Gen[(List[(Long, Long)], List[(Long, Long, Boolean)])] =
    for {
      baseKeys <- Gen.listOf(Gen.choose(0L, 20L)).map(_.distinct)
      chgKeys <- Gen.listOf(Gen.choose(0L, 25L)).map(_.distinct)
      dels <- Gen.listOfN(chgKeys.length, Gen.oneOf(true, false))
    } yield (baseKeys.map(k => (k, k * 10)),
      chgKeys.zip(dels).map { case (k, d) => (k, k * 100, d) })

  test("property: mergeUpsert ≡ map-merge reference") {
    forAll(cdcGen) { case (base, changes) =>
      whenever(base.nonEmpty && changes.nonEmpty) {
        val got = ops.Layout.mergeUpsert(
            base.toDF("k", "v"),
            changes.map(c => (c._1, c._2)).toDF("k", "v"),
            Seq("k"), {
              val delKeys = changes.filter(_._3).map(_._1).toSet
              col("k").isin(delKeys.toSeq: _*)
            })
          .as[(Long, Long)].collect().toMap
        val expect = (base.toMap ++
          changes.filterNot(_._3).map(c => c._1 -> c._2).toMap) --
          changes.filter(_._3).map(_._1)
        assert(got == expect)
      }
    }
  }

  private val funnelGen: Gen[List[(Long, Long, String)]] =
    Gen.listOf(for {
      u <- Gen.choose(0L, 3L)
      ts <- Gen.choose(0L, 40L)
      et <- Gen.oneOf("view", "click", "purchase", "other")
    } yield (u, ts, et))

  test("property: funnel ≡ naive per-user earliest-chain scan") {
    forAll(funnelGen) { evs =>
      whenever(evs.nonEmpty) {
        val steps = Seq("view", "click", "purchase")
        val got = ops.Behavior.funnel(evs.toDF("user_id", "ts", "event_type"),
            "user_id", "ts", "event_type", steps)
          .select($"user_id", $"t_view", $"t_click", $"t_purchase", $"depth")
          .as[(Long, Option[Long], Option[Long], Option[Long], Long)]
          .collect().map(r => r._1 -> r).toMap
        evs.groupBy(_._1).foreach { case (u, rows) =>
          val ts = rows.map(r => (r._2, r._3))
          val tv = ts.filter(_._2 == "view").map(_._1).sorted.headOption
          val tc = tv.flatMap(t0 => ts.filter(r => r._2 == "click" && r._1 > t0)
            .map(_._1).sorted.headOption)
          val tp = tc.flatMap(t1 => ts.filter(r => r._2 == "purchase" && r._1 > t1)
            .map(_._1).sorted.headOption)
          tv match {
            case None => assert(!got.contains(u))
            case Some(_) =>
              val depth = 1L + (if (tc.isDefined) 1 else 0) +
                (if (tp.isDefined) 1 else 0)
              assert(got(u) == ((u, tv, tc, tp, depth)))
          }
        }
      }
    }
  }

  private val docsGen: Gen[List[String]] =
    Gen.listOfN(6, for {
      n <- Gen.choose(3, 12)
      words <- Gen.listOfN(n, Gen.oneOf("red", "blue", "ox", "sky",
        "run", "dog", "cat", "sun"))
    } yield words.mkString(" "))

  test("property: containment ≡ naive shingle-set math, ≥ jaccard always") {
    forAll(docsGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def shingleSet(t: String): Set[String] =
        t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
      val cont = llmops.Dedup.containmentPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", shingleN = 3, minContainment = 0.0)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val jac = llmops.Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", shingleN = 3, minJaccard = 0.0)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      for (a <- docs.indices; b <- docs.indices if a < b) {
        val (sa, sb) = (sets(a.toLong), sets(b.toLong))
        val inter = (sa & sb).size
        if (inter > 0) {
          val expect = inter.toDouble / math.min(sa.size, sb.size)
          assert(math.abs(cont((a.toLong, b.toLong)) - expect) < 1e-9)
          assert(cont((a.toLong, b.toLong)) >= jac((a.toLong, b.toLong)) - 1e-9)
        } else assert(!cont.contains((a.toLong, b.toLong)))
      }
    }
  }

  test("property: residual IVF-PQ with a lossless codebook reproduces exact squared L2") {
    import graft.llmops.SimSearch
    import graft.functions.GraftFunctions.rankCells
    // The identity IVFADC rests on: adc(q, y) approximates
    // ‖(q − c(y)) − r̂‖² with r̂ = quantized(y − c(y)); when every
    // distinct residual subvector is a codebook entry the quantizer is
    // LOSSLESS, so the approximation must collapse to the exact
    // ‖q − y‖² (up to the 6-dp LUT rounding contract) for EVERY
    // (query, item) pair — which also pins that the explode-probe join
    // reaches every cell at nProbe = nCells. Grid-valued coordinates
    // keep the distinct-subvector count small and entry distances well
    // above the rounding floor.
    val coord = Gen.choose(-2, 2).map(_ * 0.5)
    val vecGen = Gen.listOfN(4, coord).map(_.toSeq)
    val corpusGen = Gen.choose(3, 9).flatMap(n => Gen.listOfN(n, vecGen))
    forAll(corpusGen, Gen.listOfN(2, vecGen)) { (cvecs, qvecs) =>
      whenever(cvecs.nonEmpty && qvecs.nonEmpty) {
        val corpus = cvecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toDF("item_id", "vec")
        val queries = qvecs.zipWithIndex
          .map { case (v, i) => (100L + i, v) }.toDF("item_id", "vec")
        val nCells = math.min(2, cvecs.size)
        val cents = cvecs.take(nCells)
        // residuals w.r.t. the SAME assignment the engine uses
        val centArr = array(cents.map(cv => array(cv.map(lit): _*)): _*)
        val resRows = corpus
          .withColumn("__res", zip_with($"vec".cast("array<double>"),
            element_at(centArr,
              element_at(rankCells($"vec".cast("array<double>"), cents, 1),
                1) + 1),
            (a, b) => a - b))
          .select($"__res").as[Seq[Double]].collect()
        // complete per-subspace codebooks: every distinct residual
        // subvector is an entry (sorted for determinism)
        val cb = (0 until 2).map(s =>
          resRows.map(_.slice(s * 2, s * 2 + 2)).distinct.sortBy(_.mkString(","))
            .toSeq)
        val adc = SimSearch.ivfPqResidualTopKWithCents(queries, corpus,
            "item_id", "vec", "item_id", "vec",
            k = cvecs.size, nProbe = nCells, cents = cents, codebooks = cb)
          .select($"query_id", $"item_id", $"adc_dist")
          .as[(Long, Long, Double)].collect()
        assert(adc.length == qvecs.size * cvecs.size,
          "nProbe = nCells must score every (query, item) pair")
        val qv = qvecs.zipWithIndex.map { case (v, i) => (100L + i) -> v }.toMap
        val cv = cvecs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
        adc.foreach { case (q, i, d) =>
          val exact = qv(q).zip(cv(i)).map { case (a, b) => (a - b) * (a - b) }.sum
          assert(math.abs(d - exact) < 1e-5,
            s"adc($q,$i)=$d vs exact=$exact")
        }
      }
    }
  }
}
