package perfbench

import graft.Tables
import graft.functions.TextFunctions
import graft.llmops.Dedup
import graft.ops.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus dedup of the `offline` workload: the `d10_dedup_pipeline`
  * shape over a corpus with planted near-duplicate families and exact
  * copies: quality filter ▷ exact dedup ▷ MinHash-LSH pairs
  * (planner-chosen bands) ▷ connected components ▷ keep the lowest id per
  * component. Traced, each layer's result is materialized at its
  * boundary. */
final class DedupBench(seed: Long, size: Sizes) {
  val passSpan = "dedup.pass"
  val MinJaccardPct = 50
  val TargetDetectPct = 80

  private var data: Gen.DedupData = _
  private var dir: String = _
  lazy val expected = DedupCheck.Expected(data)

  def generate(spark: SparkSession, dir: String): Unit = {
    data = Gen.dedup(seed, size)
    Gen.writeDedup(spark, data, dir)
    this.dir = dir
  }

  def warmUp(spark: SparkSession): Unit = pass(spark, Tracer.off, 0)

  /** One pass: (surviving doc ids, near-duplicate pairs found or -1). */
  def pass(spark: SparkSession, tr: Tracer, req: Long): (Array[Long], Long) = {
    val docs = Tables.table(spark, dir, "documents")
    // traced: materialize at the layer boundary so the layer's work lands
    // in its own span
    def pin(df: DataFrame): DataFrame =
      if (tr.enabled) { val p = df.persist(); p.count(); p } else df
    val held = Seq.newBuilder[DataFrame]
    try tr.span(passSpan, req) {
      val qual = tr.span("dedup.quality", req) {
        pin(docs.select(col("doc_id"), col("text"),
            TextFunctions.hashedClassifierScore(col("text")).as("__q"))
          .where(col("__q") >= 0.5))
      }
      held += qual
      // the survivor set feeds both the pair generation and the final
      // anti-join: persisted as the registry query does
      val exact = tr.span("dedup.exact", req) {
        val e = Dedup.exactRows(qual, "doc_id", "text").persist()
        if (tr.enabled) e.count()
        e
      }
      held += exact
      val pairs = tr.span("dedup.lsh", req) {
        pin(Dedup.minHashPairsPortableAuto(exact, "doc_id", "text", shingleN = 3,
          numHashes = 16, minJaccardPct = MinJaccardPct, targetDetectPct = TargetDetectPct))
      }
      held += pairs
      val nPairs = if (tr.enabled) pairs.count() else -1L
      val comps = tr.span("dedup.cc", req) {
        pin(Graph.connectedComponents(pairs, "doc_a", "doc_b"))
      }
      held += comps
      val kept = tr.span("dedup.keep", req) {
        val dropped = comps.where(col("doc_a") =!= col("component"))
          .select(col("doc_a").as("doc_id"))
        exact.join(dropped, Seq("doc_id"), "left_anti").select(col("doc_id"))
          .collect().map(_.getLong(0))
      }
      (kept, nPairs)
    } finally held.result().foreach(_.unpersist())
  }

  def check(kept: Array[Long]): DedupCheck.Verdict =
    DedupCheck.check(expected, kept, TargetDetectPct)

  def layers(tr: Tracer, passes: Int, pairs: Seq[Double], first: DedupCheck.Verdict)
      : Map[String, Double] =
    Seq("quality", "exact", "lsh", "cc", "keep").map(st =>
      s"dedup.$st.s" -> Stats.median(tr.durationsMs(s"dedup.$st")) / 1000).toMap ++ Map(
      "dedup.cc.jobs" -> tr.totals("dedup.cc").jobs.toDouble / passes,
      "dedup.pairs" -> Stats.median(pairs),
      "dedup.planted_recall" -> first.plantedRecall,
      "dedup.shuffle.write_bytes" -> tr.totals("dedup.").shuffleWrite.toDouble / passes)

  def docs: Int = data.ids.length
}

/** Independent checks of the survivor set, in plain Scala. */
object DedupCheck {
  final case class Verdict(ok: Boolean, detail: String, plantedRecall: Double)

  /** `TextFunctions.hashedClassifierScore` recomputed: mean md5-derived
    * weight of the lowercased tokens and bigrams, through a sigmoid. */
  def quality(text: String): Double = {
    val tk = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val feats = tk ++ tk.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    if (feats.isEmpty) 0.5
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sum = feats.foldLeft(0.0) { (acc, f) =>
        val d = md.digest(f.getBytes("UTF-8"))
        val bucket = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
        acc + (bucket - 32767.5) / 32768.0
      }
      1.0 / (1.0 + math.exp(-(sum / feats.length)))
    }
  }

  final case class Expected(d: Gen.DedupData) {
    val passes: Array[Boolean] = d.texts.map(t => quality(t) >= 0.5)
    val idx: Map[Long, Int] = d.ids.indices.map(i => d.ids(i) -> i).toMap
    /** Docs outside planted families that must survive: quality passes
      * and no lower id has the same text. */
    val mustKeep: Set[Long] = d.ids.indices
      .filter(i => d.family(i) < 0 && passes(i))
      .groupBy(i => d.texts(i)).values.map(g => g.map(d.ids(_)).min).toSet
    val nonFamilyPassing: Set[Long] =
      d.ids.indices.filter(i => d.family(i) < 0 && passes(i)).map(d.ids(_)).toSet
    val families: Map[Int, Set[Long]] = d.ids.indices
      .filter(i => d.family(i) >= 0 && passes(i))
      .groupBy(d.family(_)).map { case (f, is) => f -> is.map(d.ids(_)).toSet }
  }

  def check(e: Expected, kept: Array[Long], targetPct: Int): Verdict = {
    val problems = Seq.newBuilder[String]
    val keptSet = kept.toSet
    if (keptSet.size != kept.length) problems += "a doc id survives twice"
    if (kept.exists(id => !e.idx.contains(id) || !e.passes(e.idx(id))))
      problems += "a doc failing the quality filter survives"
    val texts = kept.flatMap(e.idx.get).map(e.d.texts(_))
    if (texts.distinct.length != texts.length) problems += "two survivors have identical text"
    val lost = e.mustKeep -- keptSet
    if (lost.nonEmpty) problems += s"${lost.size} docs outside planted families dropped"
    val extra = (keptSet & e.nonFamilyPassing) -- e.mustKeep
    if (extra.nonEmpty) problems += s"${extra.size} exact copies kept"
    val eligible = e.families.values.filter(_.size >= 2)
    val collapsed = eligible.count(f => (f & keptSet).size == 1)
    if (e.families.values.exists(f => (f & keptSet).isEmpty)) problems += "a planted family lost every member"
    val recall = collapsed.toDouble / math.max(1, eligible.size)
    if (recall < targetPct / 100.0)
      problems += f"planted families collapsed $recall%.3f < target ${targetPct / 100.0}%.2f"
    val ps = problems.result()
    Verdict(ps.isEmpty,
      if (ps.isEmpty) f"${kept.length} survivors, ${collapsed}/${eligible.size} planted families collapsed ($recall%.3f)"
      else ps.mkString("; "), recall)
  }
}
