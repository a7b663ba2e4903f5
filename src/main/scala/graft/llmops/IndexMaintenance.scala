package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The owner of approximate-index upkeep policy — the plan → audit →
  * act → enforce lifecycle that every banded/clustered/quantized index
  * family in this engine shares. The table names each family's stages
  * in one place so an operator of a 100 TB deployment can find the
  * whole story without reading five modules:
  *
  * | Family | PLAN (layout math) | AUDIT (measure detection) | ACT (1-row decision) | Streaming face |
  * |---|---|---|---|---|
  * | MinHash-LSH bands | [[Dedup.bandPlan]] / `bandPlanDf` (d31) | [[Dedup.bandPlanAudit]] (d33, d47) | [[Dedup.bandReplanIfUndershot]] (d34 REPLAN / d35 KEEP / d36 REBAND) | foreachBatch caller (StreamingSpec) + [[graft.streaming.StreamingDedup.nearDupsPlanned]] |
  * | Sign-LSH bands | [[SimSearch.signBandPlan]] / [[SimSearch.signBandsFor]] | [[SimSearch.signBandPlanAudit]] (d37) | [[SimSearch.signReplanIfUndershot]] (d39 REBAND / d40 KEEP) | foreachBatch caller (StreamingSpec) |
  * | SimHash width | 4-lane pigeonhole by construction | [[Dedup.simHashPlanAudit]] (d38) | [[Dedup.simHashWidenIfUndershot]] (d41 WIDEN / d42 KEEP) | foreachBatch caller (StreamingSpec) |
  * | IVF cells | [[SimSearch.autoCells]] (sim15) | [[SimSearch.ivfDriftAudit]] (sim19) | [[SimSearch.refitIfDrifted]] (sim22 REFIT / sim23 KEEP) | [[graft.streaming.IndexMonitor.cellDriftStream]] (sim26 twin) |
  * | PQ codebooks | md5-pull / [[graft.functions.VectorOps.pqTrain]] | distortion compare (v4/v9) | [[SimSearch.pqRefitIfDistorted]] (sim24 REFIT / sim25 KEEP) | [[graft.streaming.IndexMonitor.pqDistortionStream]] |
  *
  * The residual IVF-PQ serving layout ([[SimSearch.ivfPqResidualTopK]],
  * sim33) is the COMPOSITION of the last two rows, not a sixth family:
  * its cells are maintained by the IVF row (cell drift → refit; a cell
  * change invalidates residuals, so a cell REFIT forces a codebook
  * refit) and its codebooks by the PQ row with residuals as the fit
  * input — distortion is measured against `y − c(y)`, the quantity the
  * codes actually store. The composition is rehearsed end-to-end in
  * StreamingSpec: a cell REFIT forces the codebook refit, and the
  * coupled (cents, codebooks) adoption beats both the stale pair and
  * the incoherent half-update on reconstruction error AND a serving
  * recall floor (the [[SimSearch.ivfPqResidualTopKWithCents]] face).
  *
  * ENFORCE — the stage this object holds the shared core for — is the
  * recall floor: an integer-math guarantee that the approximate result
  * still covers ≥ floorPct of an oracle-replayable truth set
  * (registered: sim27 LSH, sim28 IVF, sim29 k-means auto-probe, d43
  * fast-MinHash, d44 fast-SimHash; streaming:
  * [[graft.streaming.IndexMonitor.recallFloorEachBatch]]).
  *
  * Shared decision contract (what makes the matrix operable): every
  * ACT method returns a bounded frame (1 row, or ≤ k codebook /
  * ≤ nCells centroid rows) whose first column is the 0/1 act flag,
  * computed by pure integer arithmetic on exact counts — no float
  * knife edges, so a SQL oracle replays the decision bit-exactly and a
  * foreachBatch maintenance caller can branch on `getLong(0)` without
  * parsing. Quiet intervals (no evidence rows) are always KEEP — a
  * maintenance job that fires on silence is a defect (the r11 vacuous
  * `0 ≥ 0` class). Acting never costs more than fitting did: replan
  * remedies are driver-side ladder math; refits re-pull only the
  * ≤ 4096 index-source ROWS.
  *
  * The three BANDED families (MinHash bands, sign-LSH bands, SimHash
  * lanes) run plan → audit → act through ONE policy core below and
  * supply only their exact/candidate frames, bucket expression and
  * analytic curve: [[firstQualifying]] (fewest-bands scan),
  * [[doublingLadder]] (remedy), [[detected]] + [[bucketAudit]]
  * (audit), [[undershoot]] (any-bucket trigger), [[replanIfUndershot]]
  * and [[decisionRow]] (act). IVF and PQ keep their own ACT stages:
  * their triggers are skew and distortion, not per-bucket detection.
  *
  * END-TO-END REHEARSALS (StreamingSpec, round 15): four of the five
  * families are driven through the WHOLE lifecycle in sequence over
  * streams — plan → quiet KEEP → injected drift → audit fires → ACT →
  * the serving face ADOPTS the emitted layout/index/codebooks → the
  * enforce/detection check re-passes (IVF via `refitIfDrifted` →
  * `ivfTopKWithCents` → [[recallFloor]]; MinHash bands via
  * `bandReplanIfUndershot` → `minHashPairsPortable`; sign-LSH via
  * `signReplanIfUndershot` → `lshPairs`; PQ via `pqRefitIfDistorted`
  * → re-derived codebooks beating the stale ones on the served
  * corpus). SimHash width has the decision-flip test only: its WIDEN
  * remedy shrinks boilerplate lane-collision buckets, a condition an
  * exact-dup fixture cannot model (exact dups collide in every lane at
  * ANY width), so its consumer face is pinned by the registered
  * d29/d41/d42 queries instead. */
object IndexMaintenance {

  /** Input contract of every percent-valued knob: fail loudly, never
    * clamp an out-of-range percent into a plan. */
  private[graft] def requirePercent(name: String, v: Int, lo: Int = 0): Unit =
    require(v >= lo && v <= 100, s"$name is a percent, got $v")

  /** PLAN: the first candidate band count whose analytic detection
    * meets `targetDetectPct`; each caller keeps its own fallback. */
  private[graft] def firstQualifying(candidates: Seq[Int],
      detect: Int => Double, targetDetectPct: Int): Option[Int] =
    candidates.find(b => detect(b) >= targetDetectPct / 100.0)

  /** REMEDY: the first `cur · 2^k` (k = 0..maxDoublings) whose planned
    * (bands, perBand) qualifies analytically AND differs from the
    * failing layout — a planned layout that undershoots empirically
    * must lengthen, not re-band to itself; ladder-max honest fallback
    * `(n_max, n_max, 1)`. Returns (length, bands, perBand). */
  private[graft] def doublingLadder(cur: Int, curBands: Int,
      plan: Int => (Int, Int), detect: (Int, Int) => Double,
      targetDetectPct: Int, maxDoublings: Int): (Int, Int, Int) = {
    require(cur >= 1 && curBands >= 1, "layout must be positive")
    require(maxDoublings >= 0 && (cur.toLong << maxDoublings)
      <= Int.MaxValue, s"maxDoublings out of range: $maxDoublings")
    (0 to maxDoublings).iterator
      .map { k =>
        val n = cur << k
        val (b, per) = plan(n)
        (n, b, per)
      }
      .find { case (n, b, per) =>
        detect(b, per) >= targetDetectPct / 100.0 &&
          (n != cur || b != curBands)
      }
      .getOrElse {
        val n = cur << maxDoublings
        (n, n, 1)
      }
  }

  /** 0.1-wide similarity bucket, closed-top: 1.0 lands in bucket 9, not
    * a bucket 10 whose midpoint is outside the curve's domain. */
  private[graft] def closedDecile(sim: Column): Column =
    least(floor(sim * 10), lit(9L)).cast("long")

  /** AUDIT: every exact pair, `__det` = 1 iff a candidate (else null). */
  private[graft] def detected(exact: DataFrame, cand: DataFrame,
      keys: Seq[String]): DataFrame =
    exact.join(cand.select(keys.map(col) :+ lit(1L).as("__det"): _*),
      keys, "left")

  /** AUDIT: per bucket — (`bucketName`, n_pairs, n_detected,
    * detect_rate, predicted_prob, layout…). detect_rate is a quotient of
    * exact counts (bit-identical in any engine); the `predicted` curve
    * is 6-dp rounded, as pow/acos/lgamma are not correctly rounded. */
  private[graft] def bucketAudit(detected: DataFrame, bucket: Column,
      bucketName: String, predicted: Column,
      layout: (String, Long)*): DataFrame =
    detected
      .select(bucket.as(bucketName), col("__det"))
      .groupBy(col(bucketName))
      .agg(count(lit(1)).as("n_pairs"), count(col("__det")).as("n_detected"))
      .select(Seq(col(bucketName), col("n_pairs"), col("n_detected"),
        (col("n_detected").cast("double") / col("n_pairs"))
          .as("detect_rate"),
        round(predicted, 6).as("predicted_prob")) ++
        layout.map { case (name, v) => lit(v).as(name) }: _*)

  /** ACT trigger: (n_pairs, n_detected, n_buckets_below, fire) from one
    * bounded 1-row collect. A bucket is below when `n_detected·100 <
    * targetDetectPct·n_pairs` (exact integers, no float knife edge); the
    * test is per-bucket, not aggregate, because dup mass would mask a
    * dead mid-similarity band. No evidence is a KEEP (quiet interval). */
  private[graft] def undershoot(detected: DataFrame, bucket: Column,
      targetDetectPct: Int): (Long, Long, Long, Boolean) = {
    val d = detected
      .select(bucket.as("__b"), col("__det"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"), count(col("__det")).as("__d"))
      .agg(coalesce(sum(col("__n")), lit(0L)),
        coalesce(sum(col("__d")), lit(0L)),
        coalesce(sum(when(col("__d") * 100L
          < lit(targetDetectPct.toLong) * col("__n"), 1L)
          .otherwise(0L)), lit(0L)))
      .head()
    val (nPairs, nDet, nBelow) = (d.getLong(0), d.getLong(1), d.getLong(2))
    (nPairs, nDet, nBelow, nPairs > 0L && nBelow > 0L)
  }

  /** ACT for the divisor-layout families: [[undershoot]], and on fire
    * the `ladder` remedy. One row — (replan, action 0 keep / 1 reband /
    * 2 lengthen, n_pairs, n_detected, n_buckets_below, the `layout`
    * columns, their `new_` twins, new_detect_prob). */
  private[graft] def replanIfUndershot(detected: DataFrame, bucket: Column,
      targetDetectPct: Int, layout: (String, String, String), cur: Int,
      curBands: Int, ladder: => (Int, Int, Int),
      detect: (Int, Int) => Double): DataFrame = {
    val (nPairs, nDet, nBelow, replan) =
      undershoot(detected, bucket, targetDetectPct)
    val (newN, newBands, newPer) =
      if (!replan) (cur, curBands, cur / curBands) else ladder
    val action = if (!replan) 0L else if (newN == cur) 1L else 2L
    val (nName, bName, perName) = layout
    decisionRow(detected.sparkSession,
      "replan" -> (if (replan) 1L else 0L), "action" -> action,
      "n_pairs" -> nPairs, "n_detected" -> nDet, "n_buckets_below" -> nBelow,
      nName -> cur.toLong, bName -> curBands.toLong,
      perName -> (cur / curBands).toLong, s"new_$nName" -> newN.toLong,
      s"new_$bName" -> newBands.toLong, s"new_$perName" -> newPer.toLong,
      // Spark-side 6-dp round, the d33 precedent (pow's last ulp)
      "new_detect_prob" -> round(lit(detect(newBands, newPer)), 6))
  }

  /** The 1-row decision frame, one literal column per `(name, value)`. */
  private[graft] def decisionRow(spark: SparkSession,
      cols: (String, Any)*): DataFrame =
    spark.range(1).select(cols.map { case (name, v) => lit(v).as(name) }: _*)

  /** EXTRACT: the deterministic md5 sample slice every sampled-audit
    * caller shares — `md5(id)`'s hex prefix compared against
    * `ceilingHex`, so membership is a pure function of the id (any
    * engine, any partitioning, any day reproduces the same slice) and
    * the kept fraction is `int(ceilingHex, 16) / 16^len` ("02" = 2/256
    * ≈ 0.8%). Detection and recall are per-PAIR properties, so a
    * sampled audit estimates them unbiased — but pair evidence
    * survives at the fraction SQUARED (both endpoints must draw), so
    * size the ceiling from the corpus's dup density (the d45/d46 mass
    * report) rather than a fixed constant.
    *
    * Returns the slice PERSISTED by default — the extract-once
    * contract: the ceiling predicate is an expression filter (md5 of a
    * column), which prunes no parquet row groups, so every audit
    * self-join over an unpersisted slice re-scans the full corpus
    * 2-4× just to re-derive the same ≤-thousands-row sample (measured
    * at a 100× corpus: the d33-family audit at 13.8 s unpinned vs
    * 1.3 s pinned — PLANS.md round 15). At cluster scale the same
    * contract is "write the sample to a scratch table once"; in one
    * session, persist. Callers that manage their own caching pass
    * `pin = false`. */
  def md5Sample(df: DataFrame, id: String, ceilingHex: String,
      pin: Boolean = true): DataFrame = {
    require(ceilingHex.nonEmpty && ceilingHex.length <= 8 &&
      ceilingHex.forall(c => ('0' to '9').contains(c) ||
        ('a' to 'f').contains(c)),
      s"ceilingHex must be 1-8 lowercase hex digits, got '$ceilingHex'")
    val s = df.where(substring(md5(col(id).cast("string")), 1,
      ceilingHex.length) < ceilingHex)
    if (pin) s.persist() else s
  }

  /** ENFORCE: one-row recall floor of an approximate result against an
    * oracle-replayable truth set — `(n_truth, above_floor)` with
    * above_floor = 1 iff `|approx ∩ truth| · 100 ≥ floorPct ·
    * |n_truth|`. Integer comparison on exact counts — no float knife
    * edge; set the floor well below the measured recall so only a real
    * regression flips it (registered floors: sim27 10%, sim28 60%,
    * sim29 80%, d43 80%, d44 40%).
    *
    * One left join, one aggregate — the truth subplan (often a brute
    * top-k or an inverted-index join) is evaluated ONCE; a count+semi
    * pair would run it twice (Catalyst does not CSE across joins). */
  def recallFloor(approx: DataFrame, truth: DataFrame,
      keys: Seq[String], floorPct: Int): DataFrame = {
    requirePercent("floorPct", floorPct)
    truth.join(approx.select(keys.map(col): _*).distinct()
        .withColumn("__hit", lit(1)), keys, "left")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("__h"))
      .select(col("n_truth"),
        when(col("__h") * 100 >= lit(floorPct.toLong) * col("n_truth"),
          1L).otherwise(0L).as("above_floor"))
  }
}
