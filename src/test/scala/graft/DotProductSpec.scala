package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DotProductSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native DotProduct is bit-identical to the higher-order-function form") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val pairs = emb.select($"vec_id".as("a"), $"embedding".as("x"))
      .crossJoin(emb.where($"vec_id" < 20).select($"vec_id".as("b"), $"embedding".as("y")))
    val rows = pairs.select(
        VectorHof.dot($"x", $"y").as("hof"),
        GraftFunctions.dot($"x", $"y").as("native"),
        VectorHof.cosine($"x", $"y").as("hof_cos"),
        GraftFunctions.cosine($"x", $"y").as("native_cos"),
        VectorHof.l2Norm($"x").as("hof_norm"),
        sqrt(GraftFunctions.dot($"x", $"x")).as("native_norm"))
      .as[(Double, Double, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (h, n, hc, nc, hn, nn) =>
      assert(h == n, s"dot mismatch $h vs $n")
      assert(hc == nc, s"cosine mismatch $hc vs $nc")
      assert(hn == nn, s"l2 norm mismatch $hn vs $nn")
    }
  }

  test("fused cosine: zero vectors score 0, never NaN") {
    val df = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("x", "y")
    val got = df.select(GraftFunctions.cosine($"x", $"y")).as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("double arrays and SQL registration work") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("x", "y")
    assert(df.select(GraftFunctions.dot($"x", $"y")).as[Double].head() == 32.0)
    df.createOrReplaceTempView("dot_test")
    assert(spark.sql("SELECT graft_dot(x, y) FROM dot_test").as[Double].head() == 32.0)
    val c = spark.sql("SELECT graft_cosine(x, x) FROM dot_test").as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("native kernels fail analysis on a wrong input type, naming the expected type") {
    import graft.functions._
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graftshim.GraftSqlShim
    val df = Seq((Seq("a", "b"), Seq(1, 2), Seq(1.0, 2.0)))
      .toDF("strs", "ints", "dbls")
    def in(c: String): Expression = GraftSqlShim.expression(df(c))
    // (kernel, its well-typed input column, the type its check names)
    val tokens = "strs" -> "array<string>"
    val vectors = "dbls" -> "array<float|double>"
    val table: Seq[(String, Expression => Expression, (String, String))] = Seq(
      ("MinHashSig", MinHashSig(_, 4), tokens),
      ("MinHashSigMix", MinHashSigMix(_, 4), tokens),
      ("SimHashMd5 parts 1", SimHashMd5(_, 1), tokens),
      ("SimHashMd5 parts 2", SimHashMd5(_, 2), tokens),
      ("SimHashMd5 parts 4", SimHashMd5(_, 4), tokens),
      ("SimHash64Xx", SimHash64Xx(_), tokens),
      ("DotProduct", x => DotProduct(x, x), vectors),
      ("DotProduct, one side", x => DotProduct(in("dbls"), x), vectors),
      ("CosineSim", x => CosineSim(x, x), vectors),
      ("CosineSim, one side", x => CosineSim(x, in("dbls")), vectors),
      ("RankCells", RankCells(_, Seq(Seq(1.0, 0.0)), 1), vectors))
    table.foreach { case (name, kernel, (good, expected)) =>
      assert(df.select(GraftSqlShim.column(kernel(in(good)))).collect().length == 1,
        s"$name rejected its own input type")
      val err = intercept[AnalysisException](
        df.select(GraftSqlShim.column(kernel(in("ints")))))
      assert(err.getMessage.contains(expected),
        s"$name: the message does not name $expected: ${err.getMessage}")
    }
    Seq(0, 5, -1).foreach { p =>
      intercept[IllegalArgumentException](SimHashMd5(in("strs"), p))
    }
  }

  test("GraftExtensions injects SQL functions at session build") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force the shared context to exist first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // same SparkContext, fresh session state with the extensions applied
      // — the spark.sql.extensions/withExtensions path libraries ship with
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions()(_)).getOrCreate()
      assert(s2 ne base)
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .collect()(0).getDouble(0)
      assert(dot == 11.0)
      val cos = s2.sql(
        "SELECT graft_cosine(array(0.0D, 0.0D), array(1.0D, 2.0D))")
        .collect()(0).getDouble(0)
      assert(cos == 0.0) // zero vector normalized, not NaN
      val sig = s2.sql(
        "SELECT graft_minhash(array('a', 'b', 'c'), 4) AS s")
        .collect()(0).getSeq[Long](0)
      assert(sig.length == 4)
      val sigMix = s2.sql(
        "SELECT graft_minhash_mix(array('a', 'b', 'c'), 4) AS s")
        .collect()(0).getSeq[Long](0)
      assert(sigMix.length == 4 &&
        sigMix.forall(v => v >= 0L && v < 1073741824L))
      val q = s2.sql("SELECT graft_quality('the quick brown fox')")
        .collect()(0).getDouble(0)
      assert(q > 0.0 && q < 1.0)
      // matches the Column-API form exactly
      import graft.functions.TextFunctions
      import org.apache.spark.sql.functions.lit
      val direct = s2.range(1)
        .select(TextFunctions.hashedClassifierScore(lit("the quick brown fox")))
        .collect()(0).getDouble(0)
      assert(q == direct)
      // non-literal hash count is rejected at analysis, not in codegen
      intercept[Exception] {
        s2.sql("SELECT graft_minhash(array('a'), CAST(rand()*4 AS INT))").collect()
      }
      // count-min probe: build a sketch of 3×'x' + 1×'y' in SQL, probe it
      val est = s2.sql(
        """SELECT graft_cms_estimate(sk, 'x') FROM (SELECT
          |  count_min_sketch(v, 0.01D, 0.99D, 42) AS sk FROM
          |  (VALUES ('x'), ('x'), ('x'), ('y')) AS t(v))""".stripMargin)
        .collect()(0).getLong(0)
      assert(est == 3L, s"cms estimate of 'x' was $est")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("rankCells: bit-identical to the composed array_sort ranking") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents: Seq[Seq[Double]] = emb
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
    def composed(take: Int) = emb.select($"vec_id",
      slice(array_sort(array(cents.zipWithIndex.map { case (ct, i) =>
        struct(
          (-GraftFunctions.cosine($"v", array(ct.map(lit): _*))).as("negSim"),
          lit(i).as("cell"))
      }: _*)), 1, take).cast("array<struct<negSim:double,cell:int>>"))
    for (take <- Seq(1, 3, 8)) {
      val want = composed(take).collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(1)).toSeq).toMap
      val got = emb.select($"vec_id",
          GraftFunctions.rankCells($"v", cents, take))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      assert(got == want, s"take=$take")
    }
    // tie determinism: duplicated centroid → lower index wins
    val dupCents = Seq(cents.head, cents.head, cents(1))
    val firstTwo = emb.limit(20).select(
        GraftFunctions.rankCells($"v", dupCents, 3))
      .collect().map(_.getSeq[Int](0).toSeq)
    firstTwo.foreach { r =>
      assert(r.indexOf(0) < r.indexOf(1), s"tie order violated: $r")
    }
    // take beyond nCells truncates; null element poisons
    val one = emb.limit(1).select(
      GraftFunctions.rankCells($"v", cents, 99)).collect()
    assert(one.head.getSeq[Int](0).length == 8)
  }

  test("null/mismatch edges are identical to the composed HOF form") {
    val df = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f)))), // len mismatch
      (None, Some(Seq(Some(1.0f)))), // null array
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(2.0f), Some(3.0f)))), // null elem
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f)))) // clean
    ).toDF("x", "y")
    val native = df.select(
        GraftFunctions.dot($"x", $"y"), GraftFunctions.cosine($"x", $"y"))
      .as[(Option[Double], Option[Double])].collect()
    val composed = df.select(
        VectorHof.dot($"x", $"y"), VectorHof.cosine($"x", $"y"))
      .as[(Option[Double], Option[Double])].collect()
    assert(native.toSeq == composed.toSeq)
    assert(native(0)._1.isEmpty && native(1)._1.isEmpty && native(2)._1.isEmpty)
    assert(native(3)._1.contains(11.0))
  }
}
