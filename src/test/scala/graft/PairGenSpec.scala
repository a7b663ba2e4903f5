package graft

import graft.ops.PairGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PairGen is the shared quadratic step behind every pair-family
  * operator; its contract — exactly the i<j pairs of each row's sorted
  * member array, carries intact, rows of <2 members dropped — is pinned
  * here against a naive driver-side enumeration. */
class PairGenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pairs == naive C(n,2) enumeration, with carries, across sizes") {
    // bucket sizes 0..7 incl. duplicates inside a bucket
    val buckets = Seq(
      (1L, Seq.empty[Long]),
      (2L, Seq(10L)),
      (3L, Seq(10L, 20L)),
      (4L, Seq(5L, 5L, 9L)),
      (5L, (1L to 7L).toSeq)
    ).toDF("bk", "raw")
      .select($"bk", sort_array($"raw").as("ms"))

    val got = PairGen.pairs(buckets, "ms", "a", "b", "bk")
      .select($"bk", $"p.a".as("a"), $"p.b".as("b"))
      .as[(Long, Long, Long)].collect().sorted.toSeq

    val want = Seq(
      1L -> Seq.empty[Long], 2L -> Seq(10L), 3L -> Seq(10L, 20L),
      4L -> Seq(5L, 5L, 9L), 5L -> (1L to 7L).toSeq
    ).flatMap { case (bk, ms) =>
      val s = ms.sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        yield (bk, s(i), s(j))
    }.sorted

    assert(got == want)
  }

  test("struct-typed members keep field access and ordering") {
    val buckets = Seq((1L, Seq((3L, "x"), (1L, "y"), (2L, "z"))))
      .toDF("bk", "raw")
      .select($"bk", sort_array(transform($"raw",
        e => struct(e.getField("_1").as("doc"),
          e.getField("_2").as("tag")))).as("ms"))
    val got = PairGen.pairs(buckets, "ms", "a", "b")
      .select($"p.a.doc", $"p.b.doc").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // bucket sizes 2, 3 and 4 around a cap of 3
  private def keyed = Seq(
    (1L, 20L, "x"), (1L, 10L, "y"),
    (2L, 30L, "x"), (2L, 10L, "y"), (2L, 20L, "z"),
    (3L, 40L, "w"), (3L, 10L, "x"), (3L, 30L, "y"), (3L, 20L, "z")
  ).toDF("bk", "doc", "tag")

  test("members: a bucket of exactly cap rows is kept whole, sorted") {
    val got = PairGen.members(keyed, "bk", $"doc", 3)
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Seq(10L, 20L)), (2L, Seq(10L, 20L, 30L))))
  }

  test("members: a bucket of cap + 1 rows is dropped whole, never truncated") {
    val got = PairGen.members(keyed, "bk", $"doc", 3)
      .select($"bk").as[Long].collect().toSet
    assert(!got.contains(3L))
    val all = PairGen.members(keyed, "bk", $"doc", 4)
      .where($"bk" === 3L).select($"ms").as[Seq[Long]].collect().toSeq
    assert(all == Seq(Seq(10L, 20L, 30L, 40L)))
  }

  test("members: struct members come back ordered by their first field") {
    val got = PairGen.members(keyed, "bk",
        struct($"doc", $"tag"), 4)
      .where($"bk" === 3L)
      .select(transform($"ms", m => m.getField("doc")).as("docs"),
        transform($"ms", m => m.getField("tag")).as("tags"))
      .as[(Seq[Long], Seq[String])].collect().toSeq
    assert(got == Seq((Seq(10L, 20L, 30L, 40L), Seq("x", "z", "y", "w"))))
  }

  test("capped keeps every input column except the count") {
    val c = PairGen.capped(keyed, "bk", 3)
    assert(c.columns.toSeq == keyed.columns.toSeq)
    val got = c.as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == keyed.where($"bk" =!= 3L)
      .as[(Long, Long, String)].collect().sorted.toSeq)
  }
}
