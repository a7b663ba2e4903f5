package graft

import graft.recall.{AlsTrainer, Cascade, ExternalScorer}
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CascadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic stand-in kernel: a tiny fixed-weight "MLP" over
    * (user_id, item_id) — what the reference's stub scorer does
    * (`model_service/models.py:126-130`), seeded/reproducible. */
  private def stubKernel(userIdx: Int, itemIdx: Int): Seq[Row] => Seq[Double] =
    batch => batch.map { r =>
      val u = r.getLong(userIdx).toDouble
      val i = r.getLong(itemIdx).toDouble
      val h1 = math.tanh(0.013 * u - 0.007 * i + 0.1)
      val h2 = math.tanh(0.005 * u + 0.011 * i - 0.2)
      1.0 / (1.0 + math.exp(-(0.8 * h1 - 0.6 * h2)))
    }

  private def candidates = {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    emb.where($"vec_id" < 10).select($"vec_id".as("user_id"))
      .crossJoin(emb.where($"vec_id" >= 10 && $"vec_id" < 60)
        .select($"vec_id".as("item_id")))
  }

  test("batched external scorer: results independent of batch size, in order") {
    val kernel = stubKernel(0, 1)
    val s1 = ExternalScorer.batched(7)(kernel)(candidates)
      .select($"user_id", $"item_id", $"score")
      .as[(Long, Long, Double)].collect().toSet
    val s2 = ExternalScorer.batched(1000)(kernel)(candidates)
      .select($"user_id", $"item_id", $"score")
      .as[(Long, Long, Double)].collect().toSet
    assert(s1 == s2 && s1.size == 500)
    // scores equal the row-wise kernel applied directly
    val direct = candidates.collect().map { r =>
      (r.getLong(0), r.getLong(1), kernel(Seq(r)).head) }.toSet
    assert(s1 == direct)
  }

  test("cascade with batched external scorers keeps per-user top-k contract") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val users = emb.where($"vec_id" < 10)
      .select($"vec_id".as("user_id"), $"embedding".as("user_emb"),
        array().cast("array<bigint>").as("history"))
    val items = emb.where($"vec_id" >= 10)
      .select($"vec_id".as("item_id"), $"embedding".as("item_emb"))
    val out = Cascade.recommend(users, items,
      ExternalScorer.batched(16)(stubKernel(0, 1)),
      ExternalScorer.batched(16)(stubKernel(0, 1)),
      n1 = 50, n2 = 20, n3 = 10)
    val perUser = out.groupBy($"user_id").agg(count(lit(1)).as("n"),
      max($"final_rank").as("mx"))
      .as[(Long, Long, Int)].collect()
    assert(perUser.length == 10)
    perUser.foreach { case (_, n, mx) => assert(n == 10 && mx == 10) }
  }

  test("recall excludes items already in the user's history (P9)") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val excluded = Seq(20L, 21L, 22L)
    val users = emb.where($"vec_id" < 5)
      .select($"vec_id".as("user_id"), $"embedding".as("user_emb"),
        array(excluded.map(lit): _*).as("history"))
    val items = emb.where($"vec_id" >= 10)
      .select($"vec_id".as("item_id"), $"embedding".as("item_emb"))
    val rec = Cascade.recall(users, items, 100)
      .select($"item_id").as[Long].collect().toSet
    assert(excluded.forall(i => !rec.contains(i)))
  }

  test("seeded randomSplit is deterministic and partitions rows (X5)") {
    val df = Tables.events(spark, TestSpark.sf).select($"event_id")
    val (a1, b1) = graft.ops.Sampling.randomSplit(df, 0.8, 42L)
    val (a2, _) = graft.ops.Sampling.randomSplit(df, 0.8, 42L)
    assert(a1.as[Long].collect().toSet == a2.as[Long].collect().toSet)
    assert(a1.count() + b1.count() == df.count())
    assert(a1.join(b1, "event_id").count() == 0)
  }

  test("ALS produces reference-shaped embedding tables consumable by recall") {
    val inter = Tables.events(spark, TestSpark.sf)
      .select($"user_id".cast("int").as("u"), ($"event_id" % 50).cast("int").as("i"),
        $"value".cast("float").as("w"))
    val (uEmb, iEmb) = AlsTrainer.train(inter, "u", "i", "w",
      rank = 8, maxIter = 3, seed = 42L)
    assert(uEmb.count() > 0 && iEmb.count() > 0)
    val dim = uEmb.select(size($"emb")).as[Int].head()
    assert(dim == 8)
    // artifact shape plugs straight into the recall stage
    val users = uEmb.select($"id".cast("long").as("user_id"), $"emb".as("user_emb"),
      array().cast("array<bigint>").as("history"))
    val items = iEmb.select($"id".cast("long").as("item_id"), $"emb".as("item_emb"))
    val rec = Cascade.recall(users, items, 5)
    val counts = rec.groupBy($"user_id").count().as[(Long, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 == 5))
  }

  test("MLlib BucketedRandomProjectionLSH agrees with brute force on near neighbors") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select($"vec_id", array_to_vector($"embedding").as("v"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("h")
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(emb)
    val joined = model.approxSimilarityJoin(emb, emb, 8.0, "dist")
      .select($"datasetA.vec_id".as("a"), $"datasetB.vec_id".as("b"), $"dist")
      .where($"a" < $"b")
      .as[(Long, Long, Double)].collect()
    // every reported pair's distance is correct vs the raw vectors
    val vecs = Tables.embeddings(spark, TestSpark.sf)
      .as[(Long, Seq[Float], Int)].collect()
      .map(r => r._1 -> r._2.map(_.toDouble)).toMap
    joined.foreach { case (a, b, d) =>
      val exact = math.sqrt(vecs(a).lazyZip(vecs(b)).map((x, y) => (x - y) * (x - y)).sum)
      assert(math.abs(exact - d) < 1e-6)
    }
  }

  test("coldStartRecall routes each user class to the right branch (M11)") {
    val userEmb = Seq((1L, Seq(1.0, 0.0))).toDF("user_id", "uemb")
    val items = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0)), (12L, Seq(0.5, 0.5)))
      .toDF("item_id", "iemb")
    // user 1: known; user 2: history {11, 12}; user 3: nothing
    val users = Seq(1L, 2L, 3L).toDF("user_id")
    val history = Seq((1L, 10L), (2L, 11L), (2L, 12L)).toDF("user_id", "item_id")
    val interactions = Seq(10L, 10L, 10L, 11L, 11L, 12L).toDF("item_id")
    val out = Cascade.coldStartRecall(users, userEmb, history, items,
        interactions, 2)
      .select($"user_id", $"branch", $"item_id", round($"score", 9), $"rank")
      .as[(Long, Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).toSeq).toMap
    // branch 1: history item 10 excluded → scores vs (0,1)=0, (.5,.5)=.5
    assert(out(1L) == Seq((1L, 1L, 12L, 0.5, 1), (1L, 1L, 11L, 0.0, 2)))
    // branch 2: mean((0,1),(.5,.5)) = (.25,.75); only item 10 remains
    assert(out(2L) == Seq((2L, 2L, 10L, 0.25, 1)))
    // branch 3: popularity (10:3, 11:2) regardless of embeddings
    assert(out(3L) == Seq((3L, 3L, 10L, 3.0, 1), (3L, 3L, 11L, 2.0, 2)))
  }

  test("recommendColdStart: ANN recall ≡ brute force when probing all cells; branches route (M12)") {
    import graft.llmops.SimSearch
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val users = spark.range(0, 15).select($"id".as("user_id"))
    val userEmb = emb.where($"vec_id" < 4)
      .select($"vec_id".as("user_id"), $"embedding".cast("array<double>").as("uemb"))
    val items = emb.where($"vec_id" >= 20)
      .select($"vec_id".as("item_id"), $"embedding".cast("array<double>").as("iemb"))
    val history = Tables.events(spark, TestSpark.sf).where($"user_id" < 8)
      .select($"user_id", (pmod($"event_id", lit(480L)) + 20).as("item_id"))
      .distinct()
    val interactions = history.select($"item_id")
    def run(recallFn: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      Cascade.recommendColdStart(users, userEmb, history, items, interactions,
          Cascade.mixScorer("user_id", "item_id"),
          Cascade.mixScorer("item_id", "user_id"),
          n1 = 20, n2 = 10, n3 = 5)(recallFn)
        .select($"user_id", $"branch", $"item_id", $"final_rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    val brute = run((q, c) =>
      SimSearch.bruteForceTopK(q, c, "user_id", "uemb", "item_id", "iemb", 20)
        .select($"query_id".as("user_id"), $"item_id"))
    // probing every cell (nProbe = nCells) degenerates to an exhaustive
    // scan, so the whole composed pipeline must be bit-identical to
    // brute force
    val ivf = run((q, c) =>
      SimSearch.ivfTopK(q, c, "user_id", "uemb", "item_id", "iemb",
          k = 20, nCells = 2, nProbe = 2)
        .select($"query_id".as("user_id"), $"item_id"))
    assert(ivf == brute)
    val byBranch = brute.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBranch(1L) == Set(0L, 1L, 2L, 3L))
    assert(byBranch(2L) == Set(4L, 5L, 6L, 7L))
    assert(byBranch(3L) == (8L to 14L).toSet)
    // every user got exactly n3 final recommendations, ranks 1..5
    brute.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.size == 5 && rows.map(_._4) == Set(1, 2, 3, 4, 5).map(identity)) }
    // branch-3 candidates come from ONE shared popularity top-n1 pool
    // (the final top-5 differs per user — the ranker mixes user_id in)
    val popTop20 = interactions.groupBy($"item_id").count()
      .orderBy($"count".desc, $"item_id").limit(20)
      .select($"item_id").as[Long].collect().toSet
    val b3items = brute.filter(_._2 == 3L).map(_._3)
    assert(b3items.nonEmpty && b3items.subsetOf(popTop20))
  }

  test("neural scorers: join plumbing feeds the kernels the right vectors") {
    import graft.recall.NeuralForward
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val e = $"embedding".cast("array<double>")
    val hists = emb.where($"vec_id" < 5).select($"vec_id".as("user_id"),
      slice(array(slice(e, 9, 8), slice(e, 17, 8), slice(e, 25, 8)), lit(1),
        (pmod($"vec_id", lit(3L)) + 1).cast("int")).as("hist"))
    val items = emb.where($"vec_id" >= 5 && $"vec_id" < 8)
      .select($"vec_id".as("item_id"), slice(e, 1, 8).as("feat"))
    val userFeats = emb.where($"vec_id" < 5)
      .select($"vec_id".as("user_id"), slice(e, 1, 8).as("ufeat"))
    val cands = hists.select($"user_id").crossJoin(items.select($"item_id"))
    val din = NeuralForward.fixtureDin()
    val rn = NeuralForward.fixtureRankNet()
    // tiny batch size exercises batching; compare vs direct kernel calls
    val gotD = NeuralForward.dinScorer(items, hists, din, batchSize = 3)(cands)
      .select($"user_id", $"item_id", $"score")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val gotR = NeuralForward.rankNetScorer(userFeats, items, rn, batchSize = 3)(cands)
      .select($"user_id", $"item_id", $"score")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val vecs = emb.select($"vec_id", e).as[(Long, Seq[Double])].collect().toMap
    assert(gotD.size == 15 && gotR.size == 15)
    gotD.foreach { case ((u, i), s) =>
      val hist = Seq(vecs(u).slice(8, 16), vecs(u).slice(16, 24),
        vecs(u).slice(24, 32)).take(1 + (u % 3).toInt)
      val expect = NeuralForward.dinForward(din, vecs(i).take(8).toArray,
        hist.map(_.toArray).toArray)
      assert(s == expect, s"DIN ($u,$i)")
    }
    gotR.foreach { case ((u, i), s) =>
      val expect = NeuralForward.rankNetForward(rn,
        vecs(u).take(8).toArray, vecs(i).take(8).toArray)
      assert(s == expect, s"RankNet ($u,$i)")
    }
  }
}
