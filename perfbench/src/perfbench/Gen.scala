package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees what these write. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Per-entity counts with a fixed shape: the exponential quantiles
    * `lo + Exp(mean - lo)` at evenly spaced levels, capped, dealt to
    * entities in a seeded order. Totals do not depend on the seed, so
    * seeds vary which entities are heavy, not how much work there is. */
  def counts(n: Int, lo: Int, mean: Double, cap: Int, r: SplittableRandom): Array[Int] = {
    val order = shuffled(n, r)
    Array.tabulate(n)(i => math.min(cap,
      lo + (-math.log(1 - (order(i) + 0.5) / n) * (mean - lo)).toInt))
  }

  def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Write `rows` as parquet under `path`, split into one slice per core so
    * no single task carries every row. */
  def writeParquet(spark: SparkSession, rows: IndexedSeq[Row],
      schema: StructType, path: String): Unit = {
    val parts = math.max(1, math.min(Main.cores, rows.size / 1000 + 1))
    val slices = rows.grouped(math.max(1, (rows.size + parts - 1) / parts)).map(_.toVector).toVector
    val rdd = spark.sparkContext.parallelize(slices, slices.size).flatMap(identity)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------- serve

  /** Behaviors (user, item, ts) sorted by (user, ts, item) with per-user
    * offsets, plus item embeddings. Item popularity is Zipf(1.0); every
    * user has an event in the first tenth of the time range, so each
    * request horizon (second half) sees a non-empty history. */
  final case class ServeData(nUsers: Int, emb: Array[Array[Float]],
      user: Array[Int], item: Array[Int], ts: Array[Long], offsets: Array[Int],
      tMax: Long) {
    def nItems: Int = emb.length
    /** Last `n` items of `u` at or before `h`, oldest first, ties by item. */
    def historyAt(u: Int, h: Long, n: Int): Array[Int] = {
      var hi = offsets(u)
      while (hi < offsets(u + 1) && ts(hi) <= h) hi += 1
      item.slice(math.max(offsets(u), hi - n), hi)
    }
  }

  def serve(seed: Long, s: Sizes): ServeData = {
    val r = rng(seed, 1)
    val emb = Array.fill(s.serveItems, s.dim)(
      ((r.nextDouble() * 2 - 1) / math.sqrt(s.dim)).toFloat)
    val zipf = new Zipf(s.serveItems, 1.0)
    val perm = shuffled(s.serveItems, r)
    val tMax = 1000000000L
    val perUser = counts(s.serveUsers, 5, s.serveMeanEvents, 400, r)
    val offsets = perUser.scanLeft(0)(_ + _)
    val n = offsets.last
    val user = new Array[Int](n); val item = new Array[Int](n); val ts = new Array[Long](n)
    for (u <- 0 until s.serveUsers) {
      val evs = (0 until perUser(u)).map { k =>
        val t = if (k == 0) r.nextLong(tMax / 10) else r.nextLong(tMax)
        (t, perm(zipf.next(r)))
      }.sorted
      var i = offsets(u)
      evs.foreach { case (t, it) => user(i) = u; item(i) = it; ts(i) = t; i += 1 }
    }
    ServeData(s.serveUsers, emb, user, item, ts, offsets, tMax)
  }

  def writeServe(spark: SparkSession, d: ServeData, dir: String): Unit = {
    writeParquet(spark, d.user.indices.map(i =>
        Row(d.user(i).toLong, d.item(i).toLong, d.ts(i))),
      StructType(Seq(StructField("user_id", LongType), StructField("item_id", LongType),
        StructField("ts", LongType))), s"$dir/behaviors.parquet")
    writeParquet(spark, d.emb.indices.map(i => Row(i.toLong, d.emb(i).toSeq)),
      StructType(Seq(StructField("item_id", LongType),
        StructField("item_emb", ArrayType(FloatType, containsNull = false)))),
      s"$dir/items.parquet")
  }

  // ------------------------------------------------------------ ingest

  /** One Kafka-shaped event: `valid` events pass `BehaviorIngest.parse`. */
  final case class Event(json: String, valid: Boolean, user: String,
      ts: Long, historyJson: String)

  /** Event `i` of the stream for `seed`: a pure function of (seed, i), so
    * the generator can produce it when it is due. About 1% are malformed
    * or carry nulls. Timestamps are unique and grow with `i`. */
  final class IngestStream(seed: Long, nUsers: Int) {
    private val zipf = new Zipf(nUsers, 0.8)
    def event(i: Long): Event = {
      val r = rng(seed, 1000000L + i)
      val user = f"u${zipf.next(r)}%05d"
      val ts = 1700000000000L + i
      val hist = Array.fill(1 + r.nextInt(50))(s"i${r.nextInt(20000)}")
      val histJson = hist.map(h => "\"" + h + "\"").mkString("[", ",", "]")
      val good = s"""{"user_id":"$user","history_items":$histJson,"timestamp":$ts}"""
      if (r.nextInt(100) != 0) Event(good, valid = true, user, ts, histJson)
      else {
        val bad = r.nextInt(4) match {
          case 0 => good.take(good.length / 2) // truncated
          case 1 => s"""{"user_id":null,"history_items":$histJson,"timestamp":$ts}"""
          case 2 => s"""{"user_id":"$user","history_items":$histJson}"""
          case _ => s"""{"user_id":"$user","history_items":null,"timestamp":$ts}"""
        }
        Event(bad, valid = false, user, ts, histJson)
      }
    }
  }

  // --------------------------------------------------------------- etl

  /** Books-shaped reviews: (reviewerID, asin, overall, unixReviewTime);
    * one review per (user, item); Zipf item popularity, 1% power users
    * with ten times the reviews. Item metadata with dirty prices. */
  final case class EtlData(reviews: IndexedSeq[Row], meta: IndexedSeq[Row])

  def etl(seed: Long, s: Sizes): EtlData = {
    val r = rng(seed, 2)
    val zipf = new Zipf(s.etlItems, 1.0)
    val perm = shuffled(s.etlItems, r)
    val reviews = Vector.newBuilder[Row]
    val perUser = counts(s.etlUsers, 3, s.etlMeanReviews, s.etlItems / 4, r)
    // 1% power users with ten times the reviews
    val power = shuffled(s.etlUsers, r).take(s.etlUsers / 100).toSet
    for (u <- 0 until s.etlUsers) {
      val n = math.min(s.etlItems / 2, if (power(u)) perUser(u) * 10 else perUser(u))
      val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
      var tries = 0
      while (seen.size < n && tries < n * 20) { seen += perm(zipf.next(r)); tries += 1 }
      seen.foreach { it =>
        val overall = (if (r.nextInt(10) < 6) 4 + r.nextInt(2) else 1 + r.nextInt(3)).toDouble
        reviews += Row(f"U$u%06d", f"B$it%07d", overall, 1300000000L + r.nextLong(300000000L))
      }
    }
    val meta = (0 until s.etlItems).map { it =>
      val cats = r.nextInt(10) match {
        case 0 => null
        case 1 => Seq.empty[Seq[String]]
        case _ => Seq(Seq("Books", s"Cat${r.nextInt(30)}", s"Sub${r.nextInt(200)}"))
      }
      val brand = if (r.nextInt(10) == 0) null else s"Brand${r.nextInt(500)}"
      val cents = r.nextInt(500000)
      val price = r.nextInt(8) match {
        case 0 => null
        case 1 => "N/A"
        case 2 => f"$$${cents / 100}%,d.${cents % 100}%02d"
        case 3 => f" ${cents / 100.0}%.2f "
        case _ => f"${cents / 100.0}%.2f"
      }
      Row(f"B$it%07d", cats, brand, price)
    }
    EtlData(reviews.result(), meta)
  }

  def writeEtl(spark: SparkSession, d: EtlData, dir: String): Unit = {
    writeParquet(spark, d.reviews, graft.Schemas.reviewSchema, s"$dir/reviews.parquet")
    writeParquet(spark, d.meta, graft.Schemas.itemMetaSchema, s"$dir/item_meta.parquet")
  }

  // ------------------------------------------------------------- dedup

  /** Documents with planted near-duplicate families (a base text and
    * variants with a few words replaced) and exact copies of singletons.
    * `family(i)` is the family of doc i, or -1; `copyOf(i)` the doc it
    * copies exactly, or -1. Doc ids are shuffled. */
  final case class DedupData(ids: Array[Long], texts: Array[String],
      family: Array[Int], copyOf: Array[Int])

  def dedup(seed: Long, s: Sizes): DedupData = {
    val r = rng(seed, 3)
    val vocab = 4000
    val zipf = new Zipf(vocab, 0.7)
    def doc(): Array[String] = Array.fill(40 + r.nextInt(41))(s"w${zipf.next(r)}")
    val texts = Vector.newBuilder[String]
    val fam = Vector.newBuilder[Int]
    val copy = Vector.newBuilder[Int]
    var n = 0
    for (_ <- 0 until s.dedupDocs) { texts += doc().mkString(" "); fam += -1; copy += -1; n += 1 }
    for (f <- 0 until s.dedupFamilies) {
      val base = doc()
      for (_ <- 0 until 2 + f % 3) {
        val v = base.clone()
        // ~3 replaced words keep shingle Jaccard near 0.75
        for (_ <- 0 until 1 + r.nextInt(3)) v(r.nextInt(v.length)) = s"x${r.nextInt(100000)}"
        texts += v.mkString(" "); fam += f; copy += -1; n += 1
      }
    }
    val textsSoFar = texts.result()
    val sources = shuffled(s.dedupDocs, r).take(s.dedupCopies)
    for ((src, c) <- sources.zipWithIndex) {
      for (_ <- 0 until 1 + c % 2) { texts += textsSoFar(src); fam += -1; copy += src; n += 1 }
    }
    val ids = shuffled(n, r).map(_.toLong * 7 + 11)
    DedupData(ids, texts.result().toArray, fam.result().toArray, copy.result().toArray)
  }

  def writeDedup(spark: SparkSession, d: DedupData, dir: String): Unit =
    writeParquet(spark, d.ids.indices.map(i => Row(d.ids(i), d.texts(i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      s"$dir/documents.parquet")
}
