package perfbench

import graft.Tables
import graft.etl.Etl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The training-data ETL of the `offline` workload, over Books-shaped
  * reviews. A pass runs the five `Etl` stages, each writing parquet; later
  * stages read the excluded users the split wrote, as the reference's
  * scripts chain through files. */
final class EtlBench(seed: Long, size: Sizes) {
  val passSpan = "etl.pass"
  val Stages = Seq("split", "excluded", "lightgcn", "item_features", "training")

  private var data: Gen.EtlData = _
  private var dir: String = _
  private var passes = 0
  lazy val expected = EtlCheck.Expected(data)

  def generate(spark: SparkSession, dir: String): Unit = {
    data = Gen.etl(seed, size)
    Gen.writeEtl(spark, data, dir)
    this.dir = dir
  }

  def warmUp(spark: SparkSession): Unit = deleteTree(pass(spark, Tracer.off, 0))

  /** One pass; returns its output dir. */
  def pass(spark: SparkSession, tr: Tracer, req: Long): String = {
    passes += 1
    val out = s"$dir/out/pass$passes"
    val reviews = Tables.table(spark, dir, "reviews")
    val meta = Tables.table(spark, dir, "item_meta")
    tr.span(passSpan, req) {
      tr.span("etl.split", req) {
        val (inc, exc) = Etl.splitUsers(reviews)
        inc.write.parquet(s"$out/included")
        exc.write.parquet(s"$out/excluded")
      }
      val excl = spark.read.parquet(s"$out/excluded")
      tr.span("etl.excluded", req) {
        Etl.excludedBehaviors(reviews, excl).write.parquet(s"$out/excluded_behaviors")
      }
      tr.span("etl.lightgcn", req) {
        Etl.lightGcnData(reviews, excl).write.parquet(s"$out/lightgcn")
      }
      tr.span("etl.item_features", req) {
        Etl.itemFeatures(meta).write.parquet(s"$out/item_features")
      }
      tr.span("etl.training", req) {
        Etl.trainingData(reviews, excl).write.parquet(s"$out/training")
      }
    }
    out
  }

  /** Check a pass's outputs, then delete them. The first pass of a
    * window is checked in full, later ones by their row counts (the chain
    * is deterministic). */
  def checkAndClean(spark: SparkSession, out: String, full: Boolean): EtlCheck.Verdict =
    try EtlCheck.check(spark, out, expected, full) finally deleteTree(out)

  def layers(tr: Tracer, passes: Int, first: EtlCheck.Verdict): Map[String, Double] = {
    val t = tr.totals("etl.")
    Stages.map(st => s"etl.$st.s" -> Stats.median(tr.durationsMs(s"etl.$st")) / 1000).toMap ++ Map(
      "etl.training.rows_out" -> first.trainingRows.toDouble,
      "etl.negatives.kept_ratio" -> first.negativesKept / math.max(1.0, first.negativesDrawn),
      "etl.shuffle.write_bytes" -> t.shuffleWrite.toDouble / passes,
      "etl.shuffle.read_bytes" -> t.shuffleRead.toDouble / passes,
      "etl.spill_bytes" -> t.spill.toDouble / passes,
      "etl.skew.max_over_median" -> Tracer.skew(t),
      "etl.task_busy.ms" -> t.runMs.toDouble / passes)
  }

  def reviews: Int = data.reviews.size

  /** Time of one untraced pass at `local[1]` over `passMs`. Stops
    * `spark`: a JVM holds one SparkContext. */
  def speedupVs1Core(spark: SparkSession, workdir: String, passMs: Double): Double = {
    spark.stop()
    val one = Main.session("local[1]", workdir)
    try {
      val s = System.nanoTime()
      deleteTree(pass(one, Tracer.off, 0))
      (System.nanoTime() - s) / 1e6 / passMs
    } finally one.stop()
  }

  private def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }
}

/** Independent checks of the ETL outputs against a recount on the driver. */
object EtlCheck {
  final case class Verdict(ok: Boolean, detail: String, trainingRows: Long,
      negativesKept: Long, negativesDrawn: Long)

  /** The recount, in plain Scala, from the generated reviews. */
  final case class Expected(data: Gen.EtlData) {
    val byUser: Map[String, IndexedSeq[(Long, String, Double)]] = data.reviews
      .map(r => (r.getString(0), (r.getLong(3), r.getString(1), r.getDouble(2))))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }
    val users: Set[String] = byUser.keySet
    val itemsOf: Map[String, Set[String]] = byUser.map { case (u, xs) => u -> xs.map(_._2).toSet }
    val tsOf: Map[(String, String), Long] =
      byUser.iterator.flatMap { case (u, xs) => xs.map(x => (u, x._2) -> x._1) }.toMap
    /** Positive training samples of `u`: (candidate, history). */
    def positives(u: String): Seq[(String, String)] = {
      val xs = byUser(u)
      (11 to xs.size).filter(i => (i - 11) % 2 == 0 && xs(i - 1)._3 >= 4).map { i =>
        (xs(i - 1)._2, xs.slice(math.max(0, i - 1 - 50), i - 1).map(_._2).mkString("|"))
      }
    }
  }

  def check(spark: SparkSession, out: String, e: Expected, full: Boolean): Verdict = {
    val problems = Seq.newBuilder[String]
    def read(name: String) = spark.read.parquet(s"$out/$name")
    val excl = read("excluded").collect().map(_.getString(0)).toSet
    val incl = read("included").collect().map(_.getString(0)).toSet
    if ((excl & incl).nonEmpty || (excl ++ incl) != e.users)
      problems += s"split is not a partition of the ${e.users.size} users"
    val exclRows = e.byUser.collect { case (u, xs) if excl(u) => xs.size }.sum
    if (read("excluded_behaviors").count() != exclRows) problems += "excluded_behaviors row count"
    val gcnRows = e.byUser.collect { case (u, xs) if !excl(u) => xs.count(_._3 >= 4) }.sum
    val gcn = read("lightgcn")
    if (gcn.count() != gcnRows) problems += "lightgcn row count"
    if (read("item_features").count() != e.data.meta.size) problems += "item_features row count"
    val training = read("training")
    val expPos = e.byUser.keys.filterNot(excl).toSeq.flatMap(u => e.positives(u).map(p => (u, p._1, p._2)))
    val counts = training.groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pos = counts.getOrElse(1, 0L)
    val neg = counts.getOrElse(0, 0L)
    if (pos != expPos.size) problems += s"training positives $pos, recount ${expPos.size}"
    if (neg > 2 * pos) problems += "more negatives than drawn"
    if (full) {
      if (gcn.select("user_id").distinct().collect().exists(r => excl(r.getString(0))))
        problems += "excluded user in lightgcn"
      val rows = training.collect()
      if (rows.exists(r => excl(r.getString(0)))) problems += "excluded user in training"
      val got = rows.filter(_.getInt(3) == 1).map(r => (r.getString(0), r.getString(2), r.getString(1)))
      if (got.toSet != expPos.toSet || got.length != expPos.size) problems += "positive samples differ from recount"
      val histories = expPos.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._3).toSet }
      rows.filter(_.getInt(3) == 0).foreach { r =>
        val (u, h, c) = (r.getString(0), r.getString(1), r.getString(2))
        if (e.itemsOf(u)(c)) problems += s"negative $c is one of $u's items"
        if (!histories.getOrElse(u, Set.empty)(h)) problems += s"negative history of $u matches no positive"
      }
      rows.foreach { r =>
        val h = r.getString(1).split('|').filter(_.nonEmpty)
        val ts = h.map(i => e.tsOf.getOrElse((r.getString(0), i), Long.MaxValue))
        if (h.length > 50 || ts.sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
          problems += s"history of ${r.getString(0)} not time-ordered or too long"
      }
    }
    val ps = problems.result()
    Verdict(ps.isEmpty,
      if (ps.isEmpty) s"${incl.size}+${excl.size} users, $pos positives, $neg negatives${if (full) " (full check)" else ""}"
      else ps.distinct.take(5).mkString("; "),
      pos + neg, neg, 2 * pos)
  }
}
