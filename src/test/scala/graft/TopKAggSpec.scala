package graft

import graft.functions.TopKAgg
import graft.ops.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("perGroupAgg equals the window-rank form under the same total order") {
    val orders = Tables.orders(spark, TestSpark.sf)
    val viaAgg = TopK.perGroupAgg(orders, Seq($"o_custkey"),
        Seq($"o_totalprice"), Seq($"o_orderkey"), 3)
      .select($"o_custkey", $"rank", $"o_orderkey", $"o_totalprice")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".desc)
    val viaWindow = orders.withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"o_custkey", $"rank".cast("long"), $"o_orderkey", $"o_totalprice")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(viaAgg == viaWindow)
  }

  test("partial-merge path (many input partitions) is exact") {
    // 200 partitions over 5 groups forces every map task to emit its own
    // partial heap; correctness here pins the merge + serialize path
    val df = (1 to 10000).map(i => (i % 5, i)).toDF("g", "v")
      .repartition(200)
    val got = df.groupBy($"g")
      .agg(TopKAgg.topK(struct($"v"), 4).as("top"))
      .select($"g", transform($"top", s => s.getField("v")).as("vs"))
      .as[(Int, Seq[Int])].collect().toMap
    (0 until 5).foreach { g =>
      val expect = (1 to 10000).filter(_ % 5 == g).sorted.reverse.take(4)
      assert(got(g) == expect, s"group $g")
    }
  }

  test("groups smaller than k return the whole group; nulls are skipped") {
    val df = Seq((1, Some(10)), (1, Some(7)), (2, Some(3)), (2, None))
      .toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(TopKAgg.topK($"v", 5).as("vs"))
      .select($"g", $"vs")
      .as[(Int, Seq[Int])].collect().toMap
    assert(got(1) == Seq(10, 7))
    assert(got(2) == Seq(3))
  }

  test("lexicographic struct order breaks score ties by the later fields") {
    val df = Seq((1, 5.0, 100L), (1, 5.0, 200L), (1, 4.0, 300L)).toDF("g", "s", "id")
    val got = df.groupBy($"g")
      .agg(TopKAgg.topK(struct($"s", $"id"), 2).as("top"))
      .select(transform($"top", x => x.getField("id")).as("ids"))
      .as[Seq[Long]].head()
    assert(got == Seq(200L, 100L))
  }

  test("graft_topk is callable from SQL via the extensions registry") {
    val df = Seq((1, 3), (1, 9), (1, 5), (2, 2)).toDF("g", "v")
    df.createOrReplaceTempView("tk_in")
    val got = spark.sql(
      "SELECT g, graft_topk(v, 2) AS top FROM tk_in GROUP BY g ORDER BY g")
      .as[(Int, Seq[Int])].collect().toSeq
    assert(got == Seq((1, Seq(9, 5)), (2, Seq(2))))
  }

  test("kmv: unsaturated sketch is exact; duplicates occupy one slot") {
    import graft.functions.KmvAgg
    // 40 ids, each appearing 3 times, k=64 > 40 → sketch holds every
    // distinct hash and ALL estimates are exactly the true counts
    val ids = (1L to 40L)
    val df = ids.flatMap(i => Seq.fill(3)(i)).toDF("id")
      .repartition(7) // exercise the partial-merge path
      .select(KmvAgg.hash64($"id").as("h"))
    val sk = df.agg(KmvAgg.kmv($"h", 64).as("s"))
    val n = sk.select(size($"s")).as[Int].head()
    assert(n == 40, s"dedup failed: $n slots for 40 distinct ids")
    val est = sk.select(KmvAgg.estimateDistinct($"s", 64)).as[Double].head()
    assert(est == 40.0)
  }

  test("kmv: overlap estimator is exact unsaturated, within 20% saturated") {
    import graft.functions.KmvAgg
    // A = 1..3000, B = 2001..5000 → |A|=3000 |B|=3000 |A∩B|=1000
    val a = (1L to 3000L).toDF("id").select(lit("a").as("s"), KmvAgg.hash64($"id").as("h"))
    val b = (2001L to 5000L).toDF("id").select(lit("b").as("s"), KmvAgg.hash64($"id").as("h"))
    val ev = a.union(b).repartition(9)
    def run(k: Int): (Double, Double, Double) = {
      val sk = ev.agg(
        KmvAgg.kmv(when($"s" === "a", $"h"), k).as("sa"),
        KmvAgg.kmv(when($"s" === "b", $"h"), k).as("sb"))
      val (ea, eb, eo) = KmvAgg.overlap($"sa", $"sb", k)
      sk.select(ea, eb, eo).as[(Double, Double, Double)].head()
    }
    // k beyond both cardinalities: everything exact
    val (xa, xb, xo) = run(8192)
    assert(xa == 3000.0 && xb == 3000.0 && xo == 1000.0)
    // saturated sketch: estimates within 20% (k=256 → σ ≈ 1/√k ≈ 6%)
    val (sa, sb, so) = run(256)
    assert(math.abs(sa - 3000) / 3000.0 < 0.2, s"est_a $sa")
    assert(math.abs(sb - 3000) / 3000.0 < 0.2, s"est_b $sb")
    assert(math.abs(so - 1000) / 1000.0 < 0.2, s"est_overlap $so")
  }

  test("graft_kmv is callable from SQL via the extensions registry") {
    val df = (1L to 5L).toDF("id")
    df.createOrReplaceTempView("kmv_in")
    val got = spark.sql(
      """SELECT size(graft_kmv(xxhash64(id) & 9223372036854775807, 3)) AS n
        |FROM kmv_in""".stripMargin).as[Int].head()
    assert(got == 3)
  }
}
