package graft.streaming

import graft.llmops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming incremental near-dup detection — the continuous-ingest twin
  * of the batch new-vs-base dedup ([[Dedup.minHashMatchesAgainst]],
  * `d11_incremental_dedup`): as documents arrive, each is checked
  * against everything seen so far, with state bounded by LSH structure
  * instead of corpus size.
  *
  * Mechanics (same math as the batch op, via the SHARED signature and
  * band-key expressions, so stream ≡ batch is testable, not aspirational):
  * each doc's portable MinHash signature is split into `bands` band
  * keys; the stream is keyed by band key; per key a state-v2 value
  * holds the (doc, signature) claims seen so far, capped at
  * `maxClaimants` — the stream-shaped hot-bucket cap (the batch op caps
  * with a window count for the same reason: a degenerate bucket's
  * boilerplate cluster would otherwise grow candidate work quadratically).
  * An incoming doc estimates Jaccard against every stored claimant
  * (equal signature positions / numHashes — identical to the batch
  * `zip_with` form), emits a [[StreamingDedup.DupCandidate]] per match ≥
  * `minJaccard`, then claims the bucket itself if there is room.
  *
  * Scale posture at 100 TB-equivalent ingest: state per band key is
  * ≤ maxClaimants signatures (~KBs), keys distribute by hash across
  * executors, each micro-batch touches only its own band keys, and an
  * optional TTL ages out stale claims (the streaming analogue of
  * re-baselining a batch dedup corpus snapshot). The same band may match
  * a (doc, base) pair twice — consumers dedup with a trailing
  * `dropDuplicates`, exactly like the batch op's final `.distinct()`.
  *
  * Reference analogue: the reference dedups only within batch jobs
  * (`deploy_datapipeline/data_processing/generate_lightgcn_data.py:22-37`
  * exact drops via the sample set); continuous near-dup screening
  * of an ingest stream is part of the charter's LLM-data-pipeline
  * surface.
  */
object StreamingDedup {

  /** One doc's membership in one band bucket. */
  case class BandRow(key: String, doc_id: Long, sig: Seq[Long])

  /** An incoming doc matched a previously-claimed doc in some band. */
  case class DupCandidate(doc_id: Long, dup_of: Long, est_jaccard: Double)

  /** Stored claimant of a band bucket. Public and object-nested (not
    * method-local, not `private`), like [[Bucket]]: the state encoder's
    * generated projection lives in a Janino class outside this file, and
    * a `private` member fails compilation there — Spark then silently
    * falls back to INTERPRETED per-row projection for every state access
    * (observed as `Expr codegen error` warnings in the suite log). */
  case class Claim(doc_id: Long, sig: Seq[Long])

  /** One band bucket's state: its claimants in claim order. */
  case class Bucket(claims: Seq[Claim])

  /** Project a (doc_id, text) frame — batch or streaming — onto exploded
    * band rows with the portable signature. Degenerate empty-shingle docs
    * are dropped (same guard as the batch op). */
  def bandRows(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, bands: Int): Dataset[BandRow] = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long").as("doc_id"),
        Dedup.minHashSigPortable(col(text), shingleN, numHashes).as("sig"))
      .where(size(col("sig")) > 0 && col("sig")(0).isNotNull)
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map(b =>
          concat_ws("#", lit(b),
            Dedup.bandKeyPortable(col("sig"), b, rows))): _*)).as("key"))
      .select(col("key"), col("doc_id"), col("sig"))
      .as[BandRow]
  }

  /** The stateful core: band-keyed claims, match-then-claim per doc.
    * Rows within a micro-batch are processed in ascending doc_id order so
    * results don't depend on shuffle arrival order. State is a
    * [[KeyedState.valueState]] [[Bucket]], rewritten only when a doc
    * claims a place in it. */
  def nearDupStream(banded: Dataset[BandRow], numHashes: Int,
      minJaccard: Double, maxClaimants: Int = 16,
      ttl: Option[java.time.Duration] = None): Dataset[DupCandidate] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.OutputMode
    val spark = banded.sparkSession
    import spark.implicits._
    KeyedState.valueState(banded.groupByKey(_.key), "claims",
        Encoders.product[Bucket], Encoders.product[DupCandidate],
        OutputMode.Append, ttl) { (_, state, rows) =>
      val stored = scala.collection.mutable.ArrayBuffer
        .from(state.fold(Seq.empty[Claim])(_.claims))
      val out = Seq.newBuilder[DupCandidate]
      var appended = false
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        stored.foreach { c =>
          val eq = r.sig.iterator.zip(c.sig.iterator).count {
            case (a, b) => a == b
          }
          val est = eq.toDouble / numHashes
          if (est >= minJaccard) out += DupCandidate(r.doc_id, c.doc_id, est)
        }
        if (stored.length < maxClaimants) {
          stored += Claim(r.doc_id, r.sig)
          appended = true
        }
      }
      (Option.when(appended)(Bucket(stored.toSeq)), out.result().iterator)
    }
  }

  /** Composition: docs stream → band rows → match-then-claim. */
  def nearDups(docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxClaimants: Int = 16,
      ttl: Option[java.time.Duration] = None): Dataset[DupCandidate] =
    nearDupStream(bandRows(docs, id, text, shingleN, numHashes, bands),
      numHashes, minJaccard, maxClaimants, ttl)

  /** [[nearDups]] with the band count chosen by
    * [[graft.llmops.Dedup.bandPlan]] at the (minJaccard,
    * targetDetectPct) operating point — the planner wired into the
    * streaming family like [[graft.llmops.Dedup.minHashPairsPortableAuto]]
    * wires it into batch. Worth noticing: [[nearDups]]'s historical
    * default (16 hashes, 4 bands) detects only ~23% of true j = 0.5
    * pairs per the S-curve; the plan at an 80% target picks (8, 2) —
    * ~90% detection for 2× the band rows (state and shuffle volume
    * scale with bands, the documented trade the planner minimizes). */
  def nearDupsPlanned(docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, numHashes: Int = 16, minJaccard: Double = 0.5,
      targetDetectPct: Int = 80, maxClaimants: Int = 16,
      ttl: Option[java.time.Duration] = None): Dataset[DupCandidate] = {
    val (bands, _) = graft.llmops.Dedup.bandPlan(numHashes, minJaccard,
      targetDetectPct)
    nearDups(docs, id, text, shingleN, numHashes, bands, minJaccard,
      maxClaimants, ttl)
  }
}
