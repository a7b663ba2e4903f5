package graft.llmops

import graft.functions.VectorOps
import graft.ops.TopK
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (charter extension).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set and
  * scan the corpus once; per-row work is a codegen'd fused dot product, no
  * shuffle except the final per-query top-k.
  *
  * Scale path: IVF-style pre-clustering — corpus rows are bucketed to their
  * nearest of `nCells` centroid cells ahead of time; a query probes only
  * `nProbe` cells, turning the scan into a partition-pruned fraction of the
  * corpus. Random-hyperplane LSH variant included for cosine-LSH bucketing.
  */
object SimSearch {

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows. Output: (query id, corpus id, cosine, rank). Deterministic:
    * ties broken by corpus id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
    // spread the STREAM side: the per-row fused-cosine scan is the cost,
    // and a single-split corpus file would serialize it (guide §2.5)
    val c = graft.ops.Par.spread(
      corpus.select(col(cId).as("item_id"), col(cVec).as("__cv")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .drop("__qv", "__cv")
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("item_id")), k)
  }

  /** k-NN majority-vote classification (pseudo-labeling): each query row
    * takes the majority label among its k nearest labeled corpus rows by
    * cosine, vote ties broken toward the smaller label for determinism.
    * Output: (query_id, pred_label, votes, mean_sim) — mean_sim is the
    * winning class's average neighbor similarity (6-dp rounded per pair
    * before the mean so the result is engine-portable). The scoring
    * stage is [[bruteForceTopK]]'s broadcast pattern; the vote runs over
    * only |queries|·k rows, so past the broadcast threshold swap the
    * neighbor stage for [[ivfTopK]] and keep the vote unchanged. */
  def knnClassify(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(queries, corpus, qId, qVec, cId, cVec, k)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("__sim"))
    // build the hash relation from nn — bounded at |queries|·k rows by
    // construction; the corpus side is the one that grows to 100 TB and
    // must never be the broadcast build (Spark's size estimate for nn
    // descends from the cross join and looks huge, so it would pick the
    // corpus scan without the hint)
    val labeled = corpus
      .select(col(cId).as("item_id"), col(labelCol).as("__lbl"))
      .join(broadcast(nn), Seq("item_id"))
    val votes = labeled.groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"),
        round(avg(col("__sim")), 6).as("mean_sim"))
    TopK.perGroup(votes, Seq(col("query_id")),
        Seq(col("votes").desc, col("__lbl")), 1)
      .select(col("query_id"), col("__lbl").cast("long").as("pred_label"),
        col("votes"), col("mean_sim"))
  }

  /** All pairs with cosine ≥ threshold (near-duplicate detection).
    * O(n²/2) scoring with no shuffle until the final projection — fine to a
    * few 10⁵ rows; above that use `lshBuckets` candidates first. */
  def cosinePairs(embs: DataFrame, id: String, vec: String,
      minCosine: Double): DataFrame = {
    // spread the STREAM side only (the broadcast build is a bounded
    // single collect); the O(n²/2) cosine loop then runs on every core
    // instead of inside one scan task (guide §2.5)
    val l = graft.ops.Par.spread(
      embs.select(col(id).as("id_a"), col(vec).as("__va")))
    val r = embs.select(col(id).as("id_b"), col(vec).as("__vb"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.GraftFunctions.cosine(col("__va"), col("__vb")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Random-hyperplane LSH bucket key (`nBits`-bit sign signature):
    * deterministic pseudo-random hyperplanes derived from xxhash64 of
    * (dimension, bit) — no stored model, reproducible across runs. */
  def lshBucket(vec: org.apache.spark.sql.Column, dim: Int, nBits: Int): org.apache.spark.sql.Column = {
    val bits = (0 until nBits).map { b =>
      // hyperplane component h(d,b) in [-1,1): hash the (d,b) pair
      val proj = aggregate(
        zip_with(vec.cast("array<double>"),
          sequence(lit(0), lit(dim - 1)),
          (v, d) => v * ((pmod(xxhash64(d, lit(b)), lit(2000001L)) - 1000000L)
            .cast("double") / 1000000.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** md5-derived Rademacher (±1) hyperplane for bit `b`: component `d` is
    * +1 when the first hex digit of `md5("d§b")` is ≥ '8'. Computed on the
    * driver and embedded as literals, and replicable in ANSI SQL by any
    * engine with an md5 function — the portable twin of [[lshBucket]]'s
    * xxhash64 planes. */
  def portablePlane(b: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val h = md.digest(s"$d§$b".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
    }
  }

  /** Portable LSH bucket key: sign bits of projections onto
    * [[portablePlane]] hyperplanes. Projections run through the native
    * codegen dot kernel against literal arrays — no per-row hashing. */
  def lshBucketPortable(vec: org.apache.spark.sql.Column, dim: Int,
      nBits: Int): org.apache.spark.sql.Column = {
    val bits = (0 until nBits).map { b =>
      val plane = array(portablePlane(b, dim).map(lit): _*)
      val proj = graft.functions.GraftFunctions.dot(vec.cast("array<double>"), plane)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Banded LSH near-dup PAIRS (corpus self-join) — the scale form of
    * [[cosinePairs]]: `nBits` sign bits from the md5-portable hyperplanes
    * are cut into `bands` bands; rows sharing any full band land in the
    * same bucket, pairs are generated BUCKET-LOCALLY (hot buckets
    * capped by [[graft.ops.PairGen.capped]]) and verified with exact
    * cosine ≥ `minCosine`. Candidate cost is O(bands × bucketCap × rows),
    * never O(n²), and no side is broadcast — the shuffle key is the
    * (band, key) signature, so this is the form that survives a 100 TB
    * corpus. Recall is the standard LSH trade: a qualifying pair is
    * reported iff it agrees on all `nBits/bands` bits of at least one
    * band (probability rises steeply with cosine — near-identical rows
    * are essentially always caught); [[cosinePairs]] remains the exact
    * small-n verifier. Reference analogue: the all-pairs similarity
    * matmul (`lightgcn/model.py:133-152`) SURVEY J7 bucketizes.
    *
    * Sizing `nBits` at scale: each band has `2^(nBits/bands)` possible
    * keys, so average bucket size is ~`n / 2^(nBits/bands)` — a FIXED
    * signature width means buckets (and candidate cost, ~bands ×
    * bucketSize × n) grow linearly with the corpus. Pick
    * `nBits ≈ bands × log2(n / targetBucketSize)`: the fixture query
    * (16 bits, 4 bands) is sized for 10³–10⁵ rows; a 10⁹-row corpus
    * wants ~64 bits over 4 bands. PLANS.md "ScaleSmoke: measured
    * growth at ~10x rows" measures this family at 10×. */
  def lshPairs(embs: DataFrame, id: String, vec: String, dim: Int,
      minCosine: Double, nBits: Int = 16, bands: Int = 4,
      maxBucket: Int = 2000): DataFrame = {
    val banded = bandedFrame(embs, id, vec, dim, nBits, bands)
    // Pair generation is a bucket-keyed SELF-JOIN (the d13 semDedup
    // shape), not collect_list + flatten: members here carry the full
    // vector (~0.5 KB each), so the old one-row-per-bucket pair array
    // allocated ~|bucket|² × 1 KB in a single non-spillable task
    // row — a 10× sf0.1 run measured an executor OOM (1250-member
    // buckets → ~860 MB rows; PLANS.md "ScaleSmoke: measured growth at
    // ~10x rows") long before the maxBucket cap
    // (2000) bound anything. A sort-merge self-join on the band key
    // spills, and the cap still bounds per-bucket candidate count.
    val capped = graft.ops.PairGen.capped(banded, "bk", maxBucket)
    capped.as("l").join(capped.as("r"),
        col("l.bk") === col("r.bk") && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        graft.functions.GraftFunctions.cosine(col("l.__v"), col("r.__v"))
          .as("cosine"))
      .where(col("cosine") >= minCosine)
      .distinct()
  }

  /** One row per (vector, band): `__id`, `__v`, and `bk = struct(band,
    * key)` — the signature stage shared by [[lshPairs]] and
    * [[lshBucketHistogram]] (bit j of a band key is the sign of the
    * projection onto `portablePlane(band*width + j)`). */
  private def bandedFrame(embs: DataFrame, id: String, vec: String,
      dim: Int, nBits: Int, bands: Int): DataFrame = {
    require(nBits % bands == 0,
      s"bands ($bands) must divide nBits ($nBits) — a remainder would " +
        "silently exclude trailing signature bits from every band")
    val width = nBits / bands
    val v = graft.ops.Par.spread(embs.select(col(id), col(vec)))
      .select(col(id).as("__id"),
        col(vec).cast("array<double>").as("__v"))
    val bandKeys = (0 until bands).map { j =>
      val bits = (0 until width).map { k =>
        val plane = array(portablePlane(j * width + k, dim).map(lit): _*)
        val proj = graft.functions.GraftFunctions.dot(col("__v"), plane)
        when(proj >= 0, shiftleft(lit(1L), k)).otherwise(lit(0L))
      }
      struct(lit(j).as("band"), bits.reduce(_.bitwiseOR(_)).as("key"))
    }
    v.select(col("__id"), col("__v"),
      explode(array(bandKeys: _*)).as("bk"))
  }

  /** [[lshPairs]] with the signature width derived from the corpus
    * size instead of hand-picked: per-band width
    * `ceil(log2(ceil(n / targetBucketSize)))` (min 1, capped at 24
    * bits — beyond that buckets are singletons at any achievable n),
    * so the EXPECTED bucket size stays ≈ targetBucketSize as the
    * corpus grows — the capacity rule the scale rows measured d6
    * violating with a fixed 16-bit/4-band signature (bucket sizes, and
    * therefore per-bucket candidate work, grew with the corpus; PLANS.md
    * "ScaleSmoke: measured growth at ~10x rows"). Costs one
    * count job at plan time — the same bounded plan-time-fetch class
    * as the IVF centroid pull; at 100 TB the count is a metadata read
    * on parquet sources.
    *
    * The width is PURE INTEGER math (bit length of the ceil-divided
    * bucket-count estimate), never `ceil(log(x)/log(2))` on doubles:
    * the d22 DuckDB oracle replays the identical computation as
    * `length(bin(m-1))`, and a last-ulp libm difference at an exact
    * power of two would silently shift every band key. */
  def autoWidth(n: Long, targetBucketSize: Long): Int = {
    val m = math.max(1L, (n + targetBucketSize - 1L) / targetBucketSize)
    // bit length of (m-1) == ceil(log2(m)) for m >= 1 (0 for m = 1)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.min(24, math.max(1, bits))
  }

  def lshPairsAuto(embs: DataFrame, id: String, vec: String, dim: Int,
      minCosine: Double, bands: Int = 4, targetBucketSize: Long = 1000L,
      maxBucket: Int = 2000): DataFrame = {
    val n = math.max(1L, embs.count())
    val width = autoWidth(n, targetBucketSize)
    lshPairs(embs, id, vec, dim, minCosine,
      nBits = bands * width, bands = bands, maxBucket = maxBucket)
  }

  /** Collision probability of ONE sign bit for a pair at cosine `c`:
    * `1 − θ/π` (the Goemans–Williamson hyperplane bound Charikar's
    * simhash inherits) — the sign-LSH family's analogue of MinHash's
    * "position agrees with probability j". The input is clamped into
    * [−1, 1] so a 6-dp-rounded cosine at the domain edge can't NaN. */
  def signCollisionProb(cos: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi

  /** Detection probability of a cosine-`c` pair under (bands × width)
    * sign-LSH banding: `1 − (1 − p^width)^bands` with
    * p = [[signCollisionProb]] — [[graft.llmops.Dedup.detectionProb]]'s
    * S-curve with the position-agreement probability swapped for the
    * hyperplane bound. */
  def signDetectionProb(cos: Double, bands: Int, width: Int): Double =
    Dedup.detectionProb(signCollisionProb(cos), bands, width)

  /** [[graft.llmops.Dedup.bandPlan]]'s divisor scan for FIXED-width
    * sign-LSH signatures: fewest bands b dividing `nBits` whose
    * S-curve detection at the `minCosinePct/100` operating point meets
    * `targetDetectPct`, honest ladder-max fallback (bands = nBits)
    * when none qualifies. Fewest qualifying bands = fewest bucket rows
    * per vector = the cheapest qualifying shuffle, exactly as the
    * MinHash planner argues. Integer-percent inputs keep the operating
    * point engine-exact; the acos/pow arithmetic itself is replayed by
    * the DuckDB oracles with margins audited in the spec (pow and acos
    * are not correctly-rounded — a choice may not sit on a float knife
    * edge). */
  def signBandPlan(nBits: Int, minCosinePct: Int,
      targetDetectPct: Int): (Int, Int) = {
    require(nBits >= 1, s"nBits must be >= 1, got $nBits")
    IndexMaintenance.requirePercent("minCosinePct", minCosinePct, -100)
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    IndexMaintenance.firstQualifying((1 to nBits).filter(nBits % _ == 0),
        b => signDetectionProb(minCosinePct / 100.0, b, nBits / b),
        targetDetectPct)
      .map(b => (b, nBits / b))
      .getOrElse((nBits, 1))
  }

  /** Empirical audit of the [[signBandPlan]] S-curve — theory vs
    * practice on the actual embedding corpus, the
    * [[graft.llmops.Dedup.bandPlanAudit]] discipline applied to the
    * sign-LSH family (which until now had only the d23 CAPACITY audit;
    * recall went unmeasured, and [[signBandsFor]]'s honest maxBands
    * fallback means an under-target layout can legitimately ship):
    * ground truth is the exact pairwise cosine of every pair at/above
    * `cosineFloorPct` ([[cosinePairs]], 6-dp rounded so both engines
    * bucket identically); the banding stage under the PLANNED
    * (bands, width) layout emits its candidate set (threshold −1 —
    * detection is sharing ≥ 1 band, before any cosine filter); per
    * 0.1-wide cosine bucket the audit reports measured detection
    * against the S-curve prediction `1 − (1 − p^width)^bands` with
    * `p = 1 − acos(mid)/π` at the bucket midpoint.
    *
    * Scale contract: the exact side is brute O(n²/2) BY DESIGN — a
    * recall audit is a per-pair property, so at 100 TB the caller
    * audits a deterministic SAMPLE (md5-pick ~10³ vectors) and the
    * estimate is unbiased; this is the documented quadratic-by-
    * construction class (d7/d17), not a scale path. The banded side
    * is the capped bucket join its own queries defend. Output:
    * (c_bucket, n_pairs, n_detected, detect_rate, predicted_prob,
    * bands, width). */
  def signBandPlanAudit(embs: DataFrame, id: String, vec: String,
      dim: Int, nBits: Int, minCosinePct: Int, targetDetectPct: Int,
      cosineFloorPct: Int = 10, maxBucket: Int = 2000): DataFrame = {
    IndexMaintenance.requirePercent("cosineFloorPct", cosineFloorPct, -100)
    val (bands, width) = signBandPlan(nBits, minCosinePct,
      targetDetectPct)
    val mid = (col("c_bucket").cast("double") + 0.5) / 10.0
    IndexMaintenance.bucketAudit(
      signDetection(embs, id, vec, dim, nBits, bands, cosineFloorPct,
        maxBucket),
      IndexMaintenance.closedDecile(col("__c")), "c_bucket",
      lit(1.0) - pow(lit(1.0) -
        pow(lit(1.0) - acos(mid) / lit(math.Pi), lit(width.toDouble)),
        lit(bands.toDouble)),
      "bands" -> bands.toLong, "width" -> width.toLong)
  }

  /** Detection frame of [[signBandPlanAudit]] and
    * [[signReplanIfUndershot]]: exact pairwise cosines ([[cosinePairs]],
    * 6-dp rounded as `__c` so both engines bucket identically) ≥
    * `floorPct/100`, flagged `__det` when the banding stage at
    * (nBits, bands) emits them (threshold −1 — detection is sharing ≥ 1
    * band, before any cosine filter). */
  private def signDetection(embs: DataFrame, id: String, vec: String,
      dim: Int, nBits: Int, bands: Int, floorPct: Int,
      maxBucket: Int): DataFrame =
    IndexMaintenance.detected(
      cosinePairs(embs, id, vec, minCosine = -1.0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("__c"))
        .where(col("__c") >= lit(floorPct / 100.0)),
      lshPairs(embs, id, vec, dim, minCosine = -1.0, nBits, bands,
        maxBucket),
      Seq("id_a", "id_b"))

  /** The remedy ladder behind [[signReplanIfUndershot]] — the
    * [[graft.llmops.Dedup.bandReplanLadder]] discipline applied to
    * fixed-width sign-LSH signatures: the first `curNBits · 2^k`
    * (k = 0..maxDoublings) whose [[signBandPlan]] layout qualifies
    * ANALYTICALLY at the `minCosinePct/100` operating point AND differs
    * from the failing `(curNBits, curBands)` layout; ladder-max honest
    * fallback `(nb_max, nb_max, 1)` when nothing qualifies. Pure math
    * (PropertiesSpec pins it over generated inputs, like the MinHash
    * ladder). Returns (nBits, bands, width). */
  def signReplanLadder(curNBits: Int, curBands: Int, minCosinePct: Int,
      targetDetectPct: Int, maxDoublings: Int): (Int, Int, Int) =
    IndexMaintenance.doublingLadder(curNBits, curBands,
      signBandPlan(_, minCosinePct, targetDetectPct),
      signDetectionProb(minCosinePct / 100.0, _, _), targetDetectPct,
      maxDoublings)

  /** The sign-LSH banding lifecycle's ACT stage —
    * [[graft.llmops.Dedup.bandReplanIfUndershot]]'s embedding-family
    * twin, closing the plan ([[signBandPlan]]) → audit
    * ([[signBandPlanAudit]]) → act loop for the family d37 taught to
    * measure: detection of the CURRENT (nBits, bands) layout per
    * 0.1-wide cosine bucket of QUALIFYING pairs (exact 6-dp cosine ≥
    * `minCosinePct/100`), the ANY-BUCKET integer trigger
    * (`n_detected·100 < targetDetectPct·n_pairs` on exact counts — no
    * float knife edge; per-bucket, not aggregate, because near-
    * duplicate mass at cosine ≈ 1 would otherwise mask a dead
    * mid-cosine band), and on undershoot the [[signReplanLadder]]
    * remedy — REBAND (action 1) when a different divisor layout at the
    * same signature length qualifies analytically, WIDEN (action 2,
    * the signature-doubling rung) otherwise; honest ladder-max when
    * nothing qualifies. A corpus with no qualifying pairs is a KEEP
    * (no evidence — the quiet-interval gate).
    *
    * Scale shape: the exact side is the documented quadratic-by-
    * construction audit class (d7/d17) — at 100 TB the caller audits a
    * deterministic md5 SAMPLE, as the registered query does; the
    * banded side is the capped bucket join its own queries defend. One
    * ≤-10-row bucket aggregate + a 1-row decision collect; the ladder
    * is pure driver math. Output: ONE row — (replan, action 0 keep /
    * 1 reband / 2 widen, n_pairs, n_detected, n_buckets_below, n_bits,
    * bands, width, new_n_bits, new_bands, new_width, new_detect_prob
    * 6-dp) — the decision ships with the layout it mandates; on KEEP
    * the new_* columns re-state the current layout. */
  def signReplanIfUndershot(embs: DataFrame, id: String, vec: String,
      dim: Int, nBits: Int, bands: Int, minCosinePct: Int,
      targetDetectPct: Int, maxBucket: Int = 2000,
      maxDoublings: Int = 6): DataFrame = {
    require(nBits >= 1 && bands >= 1 && nBits % bands == 0,
      s"bands must divide nBits, got ($nBits, $bands)")
    IndexMaintenance.requirePercent("minCosinePct", minCosinePct, -100)
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    require(maxDoublings >= 0 && (nBits.toLong << maxDoublings)
      <= Int.MaxValue, s"maxDoublings out of range: $maxDoublings")
    // the operating-point filter IS the exact-pair floor (the d34
    // rule): pairs below the declared threshold carry no evidence
    IndexMaintenance.replanIfUndershot(
      signDetection(embs, id, vec, dim, nBits, bands, minCosinePct,
        maxBucket),
      IndexMaintenance.closedDecile(col("__c")), targetDetectPct,
      ("n_bits", "bands", "width"), nBits, bands,
      signReplanLadder(nBits, bands, minCosinePct, targetDetectPct,
        maxDoublings),
      signDetectionProb(minCosinePct / 100.0, _, _))
  }

  /** Minimum band count at a GIVEN per-band width — the auto-width
    * family's planner: [[autoWidth]] fixes the width from the corpus
    * count (bucket CAPACITY math), leaving bands as the free recall
    * knob, so unlike the fixed-signature divisor scan the two
    * dimensions are independent and the scan is a plain 1..maxBands
    * ladder (an integer scan, never `ceil(log/log)` on doubles — a
    * ceil at a transcendental quotient is exactly the cross-engine
    * knife edge the integer-math rules exist to avoid). Returns
    * `maxBands` as the honest fallback when even maxBands bands miss
    * the target — the caller's raise-targetBucketSize /
    * accept-lower-recall signal, visible via [[signDetectionProb]]
    * (at a 10⁹-row corpus and a LOW cosine threshold the truthful
    * answer is that sign-LSH banding cannot reach high recall at
    * singleton-bucket widths; the planner says so instead of silently
    * shipping 3%). */
  def signBandsFor(width: Int, minCosinePct: Int, targetDetectPct: Int,
      maxBands: Int = 64): Int = {
    require(width >= 1, s"width must be >= 1, got $width")
    require(maxBands >= 1, s"maxBands must be >= 1, got $maxBands")
    IndexMaintenance.requirePercent("minCosinePct", minCosinePct, -100)
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    IndexMaintenance.firstQualifying(1 to maxBands,
        signDetectionProb(minCosinePct / 100.0, _, width), targetDetectPct)
      .getOrElse(maxBands)
  }

  /** [[lshPairsAuto]] with the band count planned by [[signBandsFor]]
    * instead of a caller constant — width from the corpus count
    * (capacity), bands from the operating point (recall), the complete
    * sizing loop for the embedding near-dup family. One count job at
    * plan time, like every Auto variant. */
  def lshPairsAutoPlanned(embs: DataFrame, id: String, vec: String,
      dim: Int, minCosinePct: Int, targetBucketSize: Long,
      targetDetectPct: Int, maxBucket: Int = 2000): DataFrame = {
    val (bands, width) = plannedSignLayout(embs, minCosinePct,
      targetBucketSize, targetDetectPct)
    lshPairs(embs, id, vec, dim, minCosinePct / 100.0,
      nBits = bands * width, bands = bands, maxBucket = maxBucket)
  }

  /** [[lshBucketHistogram]] at exactly the (width, bands) sizing
    * [[lshPairsAutoPlanned]] would run — audit and pair stage see the
    * same buckets, the d23 monitoring contract at the planned layout. */
  def lshBucketHistogramAutoPlanned(embs: DataFrame, id: String,
      vec: String, dim: Int, minCosinePct: Int, targetBucketSize: Long,
      targetDetectPct: Int): DataFrame = {
    val (bands, width) = plannedSignLayout(embs, minCosinePct,
      targetBucketSize, targetDetectPct)
    lshBucketHistogram(embs, id, vec, dim, nBits = bands * width,
      bands = bands)
  }

  /** The planned forms' (bands, width); both percents are checked
    * before the count job, so a bad input never scans the corpus. */
  private def plannedSignLayout(embs: DataFrame, minCosinePct: Int,
      targetBucketSize: Long, targetDetectPct: Int): (Int, Int) = {
    IndexMaintenance.requirePercent("minCosinePct", minCosinePct, -100)
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    val width = autoWidth(math.max(1L, embs.count()), targetBucketSize)
    (signBandsFor(width, minCosinePct, targetDetectPct), width)
  }

  /** Capacity audit for the banded-LSH signature: the bucket-size
    * histogram per band — `(band, bucket_size, n_buckets)`. This is the
    * observability counterpart to [[lshPairs]]' hot-bucket cap: the cap
    * defends runtime by EXCLUDING over-cap buckets from pair generation,
    * which at the wrong signature width fails silently (the 1000× run
    * of PLANS.md "Round 8: the fixed-signature capacity wall, measured"
    * measured the fixed 16-bit d6 signature placing 100%
    * of rows in over-cap buckets — runtime flat, recall zero, no error
    * anywhere). Reading this histogram next to the cap makes that state
    * visible: rows in buckets above the cap are rows the pair stage will
    * never see. Costs the signature plus two aggregations — no pair
    * stage, so it runs at any corpus size, and its output is ≤
    * |distinct bucket sizes| × bands rows. */
  def lshBucketHistogram(embs: DataFrame, id: String, vec: String,
      dim: Int, nBits: Int = 16, bands: Int = 4): DataFrame =
    bandedFrame(embs, id, vec, dim, nBits, bands)
      .groupBy(col("bk")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bk.band").cast("long").as("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))

  /** [[lshBucketHistogram]] at the width [[lshPairsAuto]] would pick —
    * audit and pair stage see the same buckets. */
  def lshBucketHistogramAuto(embs: DataFrame, id: String, vec: String,
      dim: Int, bands: Int = 4, targetBucketSize: Long = 1000L): DataFrame = {
    val n = math.max(1L, embs.count())
    lshBucketHistogram(embs, id, vec, dim,
      nBits = bands * autoWidth(n, targetBucketSize), bands = bands)
  }

  /** Auto cell count for the IVF/SemDeDup family — [[autoWidth]]'s
    * integer-math discipline applied to cluster counts:
    * `ceil(n / targetCellSize)`, clamped to [1, 4096], so expected CELL
    * size stays ≈ targetCellSize as the corpus grows instead of growing
    * linearly with it (fixed nCells degrades gracefully — ranked probes,
    * not silent zero — but leaves probe-fraction recall on the table,
    * and SemDeDup's per-cell pair stage grows quadratically in cell
    * size). Pure integer division — the DuckDB twins replay it as
    * `least(4096, (count(*) + t - 1) // t)`, no libm anywhere.
    *
    * The 4096 clamp is the driver/centroid budget: centroids are
    * collected to the driver and evaluated per row as literals
    * (O(nCells·dim) per row), k-means's own assumption. Past
    * 4096·targetCellSize rows, raise targetCellSize — the classical
    * sizing is cells ≈ √n, which targetCellSize ≈ √n achieves. */
  def autoCells(n: Long, targetCellSize: Long): Int = {
    val m = math.max(1L, (n + targetCellSize - 1L) / targetCellSize)
    math.min(4096L, m).toInt
  }

  /** [[autoCells]] over `df`'s row count — one count job. */
  private[graft] def autoCellsOf(df: DataFrame, targetCellSize: Long): Int =
    autoCells(math.max(1L, df.count()), targetCellSize)

  /** [[ivfIndex]] with the cell count auto-sized from the corpus count
    * ([[autoCells]]) — the production k-means path's growing-corpus
    * form; costs one count job (a metadata read on parquet at scale). */
  def ivfIndexAuto(corpus: DataFrame, cId: String, cVec: String,
      targetCellSize: Long, seed: Long = 42L,
      kmeansIter: Int = 3): (DataFrame, DataFrame) =
    ivfIndex(corpus, cId, cVec, autoCellsOf(corpus, targetCellSize), seed,
      kmeansIter)

  /** IVF index build, split from the probe so one index serves many query
    * batches (the real ANN lifecycle: fit once per corpus snapshot,
    * persist/write `assigned`, probe per request batch). Returns
    * `assigned` (item_id, __cv, __cell — the cell-partitioned corpus;
    * at scale, write it bucketed by `__cell` so probes prune files) and
    * `centroids` (__cell, __centroid — nCells rows, broadcast-sized). */
  def ivfIndex(corpus: DataFrame, cId: String, cVec: String,
      nCells: Int, seed: Long = 42L,
      kmeansIter: Int = 3): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // cell assignment only needs rough centroids: few iterations, random
    // init (kmeans|| costs extra passes over the corpus for no recall
    // benefit here)
    val kmeans = new KMeans().setK(nCells).setSeed(seed)
      .setMaxIter(kmeansIter).setInitMode("random")
      .setFeaturesCol("__v").setPredictionCol("__cell")
    val corpusV = corpus.select(col(cId).as("item_id"), col(cVec).as("__cv"),
      array_to_vector(col(cVec)).as("__v"))
    val model = kmeans.fit(corpusV)
    val assigned = model.transform(corpusV).select(
      col("item_id"), col("__cv"), col("__cell"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val spark = corpus.sparkSession
    import spark.implicits._
    (assigned, centroids.toDF("__cell", "__centroid"))
  }

  /** Probe a prebuilt [[ivfIndex]]: rank cells per query by centroid
    * cosine, search the nProbe nearest cells only. */
  def ivfProbe(queries: DataFrame, assigned: DataFrame, centDf: DataFrame,
      qId: String, qVec: String, k: Int, nProbe: Int): DataFrame = {
    val probed = rankedCells(queries, centDf, qId, qVec, nProbe,
        "__cellrank")
      .select(col("query_id"), col("__qv"), col("__cell"))
    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .withColumn("cosine", graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("item_id"), col("cosine"))
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("item_id")), k)
  }

  /** Each query's `depth` nearest cells of a centroid frame by
    * (−cosine, cell), ranked in `rankCol`. */
  private def rankedCells(queries: DataFrame, centDf: DataFrame,
      qId: String, qVec: String, depth: Int, rankCol: String): DataFrame =
    TopK.perGroup(
      queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
        .crossJoin(broadcast(centDf))
        .withColumn("__dist", -graft.functions.GraftFunctions.cosine(
          col("__qv").cast("array<double>"), col("__centroid"))),
      Seq(col("query_id")), Seq(col("__dist"), col("__cell")), depth,
      rankCol)

  /** IVF (inverted-file) ANN top-k: the corpus is clustered once with
    * k-means; each corpus row is assigned to its nearest centroid cell and
    * a query scores only the rows in its `nProbe` nearest cells — the scan
    * becomes a partition-pruned fraction (~nProbe/nCells) of the corpus.
    * Returns (model-assigned) exact cosine over the probed subset.
    *
    * At 100 TB the cell id is the physical partition key (write the
    * corpus bucketed by cell); probing is then partition pruning, not a
    * filter.
    *
    * One-shot IVF ANN: [[ivfIndex]] + [[ivfProbe]] composed (the
    * registered-query form; production callers split the two and persist
    * the index across query batches). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int, nProbe: Int, seed: Long = 42L,
      kmeansIter: Int = 3): DataFrame = {
    val (assigned, centDf) = ivfIndex(corpus, cId, cVec, nCells, seed,
      kmeansIter)
    ivfProbe(queries, assigned, centDf, qId, qVec, k, nProbe)
  }

  /** LSH-bucketed ANN top-k: query probes only its own signature bucket
    * (plus Hamming-1 neighbors for recall). Falls back to fewer than k
    * results when the bucket runs dry — the standard ANN recall/latency
    * trade. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, dim: Int, nBits: Int = 8): DataFrame =
    lshTopKImpl(queries, corpus, qId, qVec, cId, cVec, k, nBits,
      v => lshBucket(v, dim, nBits))

  /** [[lshTopK]] over the md5-portable planes — same plan, bucket key
    * replicable in ANSI SQL (oracle twin). */
  def lshTopKPortable(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, dim: Int, nBits: Int = 8): DataFrame =
    lshTopKImpl(queries, corpus, qId, qVec, cId, cVec, k, nBits,
      v => lshBucketPortable(v, dim, nBits))

  private def lshTopKImpl(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nBits: Int,
      bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val scored = hammingOneCandidates(queries, corpus, qId, qVec, cId,
        cVec, nBits, bucketOf)
      .withColumn("cosine", graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("item_id"), col("cosine"))
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("item_id")), k)
  }

  /** Each query probes its bucket plus all Hamming-1 neighbours; the
    * query batch is the broadcast build side. */
  private def hammingOneCandidates(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String, nBits: Int,
      bucketOf: Column => Column): DataFrame = {
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("__cv"),
      bucketOf(col(cVec)).as("__bucket"))
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
        bucketOf(col(qVec)).as("__b0"))
      .withColumn("__bucket", explode(array(
        col("__b0") +: (0 until nBits).map(b =>
          col("__b0").bitwiseXOR(shiftleft(lit(1L), b))): _*)))
    c.join(broadcast(q), Seq("__bucket"))
  }

  /** LSH-bucketed cosine RANGE search — the vector-DB query shape
    * top-k cannot express: ALL corpus items within `minCosine` of each
    * query ("everything this similar", e.g. a policy screen or a
    * radius dedup probe), result size data-dependent instead of k.
    * Same candidate structure as [[lshTopK]] (query probes its bucket
    * + Hamming-1 neighbors; the corpus side is bucketed in one pass
    * and NEVER broadcast — the query batch is the build side), then a
    * 6-dp-rounded cosine threshold replaces the rank: the cut is
    * engine-exact, no per-group shuffle at all (the range form is
    * cheaper than top-k — the only wide op is the bucket join).
    * Recall trade is [[lshTopK]]'s, documented there; raise nBits
    * coverage via bands for high-recall ranges (the d6/d22 family).
    * Output: (query_id, item_id, cosine ≥ minCosine, 6 dp). */
  def lshRangeSearch(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      minCosine: Double, dim: Int, nBits: Int = 8): DataFrame =
    lshRangeImpl(queries, corpus, qId, qVec, cId, cVec, minCosine,
      nBits, v => lshBucket(v, dim, nBits))

  /** [[lshRangeSearch]] over the md5-portable planes (oracle twin). */
  def lshRangeSearchPortable(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      minCosine: Double, dim: Int, nBits: Int = 8): DataFrame =
    lshRangeImpl(queries, corpus, qId, qVec, cId, cVec, minCosine,
      nBits, v => lshBucketPortable(v, dim, nBits))

  private def lshRangeImpl(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      minCosine: Double, nBits: Int,
      bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    hammingOneCandidates(queries, corpus, qId, qVec, cId, cVec, nBits,
        bucketOf)
      .withColumn("cosine", round(
        graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")), 6))
      .where(col("cosine") >= minCosine)
      .select(col("query_id"), col("item_id"), col("cosine"))
  }

  /** The portable fit's order: every portable index (IVF centroids, PQ
    * codebooks, SemDeDup cells) is fitted from the first rows in it, a
    * deterministic sample the DuckDB oracles replay with their md5. */
  private[graft] def mdOrder(id: Column): Seq[Column] =
    Seq(md5(id.cast("string")), id)

  /** The portable fit: the first `n` [[mdOrder]] rows of `df` as (id,
    * vec as array<double>) — a distributed top-n, ≤ 4096 driver rows
    * under the [[autoCells]] clamp. */
  private[graft] def mdRows(df: DataFrame, id: String, vec: String,
      n: Int): Array[Row] =
    df.select(col(id), col(vec).cast("array<double>"))
      .orderBy(mdOrder(col(id)): _*).limit(n).collect()

  /** [[mdRows]]' vectors: portable centroids. */
  private[graft] def mdPull(df: DataFrame, id: String, vec: String,
      n: Int): Seq[Seq[Double]] =
    mdRows(df, id, vec, n).map(_.getSeq[Double](1).toSeq).toSeq

  /** Portable PQ codebooks: the `k` [[mdRows]] of `df` split m ways,
    * with the source rows (the ACT stage emits their ids). */
  private[graft] def mdCodebooks(df: DataFrame, id: String, vec: String,
      dim: Int, m: Int, k: Int): (Array[Row], Seq[Seq[Seq[Double]]]) = {
    require(m >= 1 && dim % m == 0, s"m must divide dim, got ($dim, $m)")
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = mdRows(df, id, vec, k)
    require(rows.length == k,
      s"fit must hold >= k=$k rows to derive codebooks, got ${rows.length}")
    (rows, pqSplit(rows.map(_.getSeq[Double](1).toSeq).toSeq, dim, m))
  }

  /** Codebook `sub` of m holds every vector's `sub`-th dim/m slice. */
  private[graft] def pqSplit(vecs: Seq[Seq[Double]], dim: Int,
      m: Int): Seq[Seq[Seq[Double]]] = {
    val subDim = dim / m
    (0 until m).map(sub =>
      vecs.map(_.slice(sub * subDim, sub * subDim + subDim)))
  }

  /** The 0-based nearest literal centroid (cosine, ties to the lower
    * cell): the native RankCells kernel — the composed form blows the
    * codegen method limit at auto-sized cell counts. Never shuffles. */
  private[graft] def assignCell(v: Column, cents: Seq[Seq[Double]]): Column =
    element_at(graft.functions.GraftFunctions.rankCells(v, cents, 1), 1)

  /** The IVFADC residual `v − cents(cell)` (cells are 0-based,
    * element_at is 1-based). */
  private[graft] def residual(v: Column, cell: Column,
      cents: Seq[Seq[Double]]): Column =
    zip_with(v, element_at(array(cents.map(cv => array(cv.map(lit): _*)): _*),
      cell + 1), (a, b) => a - b)

  /** `df` as (idAs, vecAs as array<double>). */
  private def vectors(df: DataFrame, id: String, vec: String, idAs: String,
      vecAs: String): DataFrame =
    df.select(col(id).as(idAs), col(vec).cast("array<double>").as(vecAs))

  /** The corpus as (item_id, __cv, __cell) against literal centroids. */
  private def assignedCorpus(corpus: DataFrame, cId: String, cVec: String,
      cents: Seq[Seq[Double]]): DataFrame =
    vectors(corpus, cId, cVec, "item_id", "__cv")
      .withColumn("__cell", assignCell(col("__cv"), cents))

  /** Each query as (query_id, __qv), exploded over its `nProbe` nearest
    * literal cells as __cell. */
  private def probeCells(queries: DataFrame, qId: String, qVec: String,
      cents: Seq[Seq[Double]], nProbe: Int): DataFrame =
    vectors(queries, qId, qVec, "query_id", "__qv").withColumn("__cell",
      explode(graft.functions.GraftFunctions.rankCells(col("__qv"), cents,
        nProbe)))

  /** `df` as (keep…, __cell, __cos): assignment, broadcast centroid join
    * and 6-dp cosine, shared by the batch and streaming drift monitors. */
  private[graft] def cellCosine(df: DataFrame, v: Column,
      cents: Seq[Seq[Double]], keep: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("__cell", "__centroid")
    df.withColumn("__cell", assignCell(v, cents))
      .join(broadcast(centDf), Seq("__cell"))
      .select(keep :+ col("__cell") :+ round(graft.functions.GraftFunctions
        .cosine(v, col("__centroid")), 6).as("__cos"): _*)
  }

  /** Portable IVF top-k: centroids are the `nCells` corpus rows with the
    * lexicographically smallest `md5(id)` — a deterministic pseudo-random
    * sample standing in for fitted k-means centers — and assignment/probing
    * use cosine against those centroids as LITERAL arrays, so the whole
    * index (build + probe) is replicable in ANSI SQL.
    *
    * Scale shape: centroids always fit on the driver (that is k-means's own
    * assumption), so cell assignment is a pure per-row expression — the
    * corpus is never shuffled to build the index; the only shuffle is the
    * final per-query top-k. At 100 TB, write the corpus bucketed by the
    * assigned cell and probing becomes partition pruning (same note as
    * [[ivfTopK]]).
    */
  def ivfTopKPortable(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int, nProbe: Int): DataFrame =
    ivfTopKWithCents(queries, corpus, qId, qVec, cId, cVec, k,
      mdPull(corpus, cId, cVec, nCells), nProbe)

  /** IVF-PQ ANN top-k — the composed billion-scale layout (Jégou et al.
    * TPAMI 2011; every production vector store's disk format): IVF cell
    * pruning bounds WHICH items are scored (~nProbe/nCells of the
    * corpus) and PQ codes bound WHAT is read per item (m bytes instead
    * of 4·d floats — the ADC scan never touches item vectors). This is
    * [[ivfTopKPortable]]'s cell logic fused with the [[graft.functions
    * .VectorOps.pqAdcLut]]/`pqAdcDist` scan sim6 proves standalone, all
    * portable (md5-ordered literal centroids + literal codebooks), so
    * the full index+scan replicates in ANSI SQL.
    *
    * Scale shape: cell assignment and PQ encode are zero-shuffle
    * expressions over literals (at 100 TB: write codes bucketed by
    * cell; probing = partition pruning, the scan reads m-byte code
    * columns only); the query batch (with its per-query LUT) broadcasts
    * into the probed cells; the only shuffle is the final per-query
    * top-k. Output: (query_id, item_id, adc_dist, rank) — approximate
    * distances, so ranking quality trades exactly the documented
    * IVF recall × PQ quantization error. */
  def ivfPqTopKPortable(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int, nProbe: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cents = mdPull(corpus, cId, cVec, nCells)
    val assigned = assignedCorpus(corpus, cId, cVec, cents)
      .select(col("item_id"), col("__cell"),
        VectorOps.pqCodes(VectorOps.pqAssign(col("__cv"), codebooks))
          .as("__codes"))
    val probed = probeCells(queries, qId, qVec, cents, nProbe)
      .select(col("query_id"), col("__cell"),
        VectorOps.pqAdcLut(col("__qv"), codebooks).as("__lut"))
    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .select(col("query_id"), col("item_id"),
        VectorOps.pqAdcDist(col("__lut"), col("__codes")).as("adc_dist"))
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("adc_dist").asc, col("item_id")), k)
  }

  /** Residual IVF-PQ (IVFADC proper — Jégou et al. TPAMI 2011 §III.C):
    * [[ivfPqTopKPortable]] quantizes RAW vectors, so every cell's codes
    * re-spend code entropy on the coarse position the cell assignment
    * already captured; the standard layout quantizes the RESIDUAL
    * `r = y − c(y)` instead, and the ADC lookup table is built per
    * (query, probed cell) from `q − c` — approximating
    * ‖q − y‖² = ‖(q − c) − r‖², so the same m bytes per item encode
    * only the within-cell displacement. The caller fits `codebooks` on
    * residuals (the production path samples residuals into
    * [[graft.functions.VectorOps.pqTrain]]; the registered query derives
    * them portably — see sim33).
    *
    * Scale shape: identical to [[ivfPqTopKPortable]] — cell assignment,
    * residual subtraction (a zip_with against a literal centroid array)
    * and PQ encode are zero-shuffle expressions; the query side explodes
    * to (query × nProbe) rows each carrying its OWN cell-specific LUT
    * (nProbe·m·k doubles — still broadcast-sized); the only shuffle is
    * the final per-query top-k. The extra cost vs raw PQ is exactly one
    * LUT per probed cell instead of one per query — the price every
    * production IVFADC pays for the fidelity gain. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int, nProbe: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfPqResidualTopKWithCents(queries, corpus, qId, qVec, cId, cVec,
      k, nProbe, mdPull(corpus, cId, cVec, nCells), codebooks)

  /** Serving face of the residual layout against an EXPLICIT centroid
    * set — the consumer of a [[refitIfDrifted]]
    * emission, mirroring [[ivfTopKWithCents]] for plain IVF. The
    * codebooks MUST be fit on residuals w.r.t. THESE centroids (a cell
    * refit invalidates the residual space, so the maintenance caller
    * re-derives both together — the composition the StreamingSpec
    * residual rehearsal drives). [[ivfPqResidualTopK]] delegates here
    * after its own md5 centroid pull. */
  def ivfPqResidualTopKWithCents(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nProbe: Int, cents: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val assigned = assignedCorpus(corpus, cId, cVec, cents)
      .withColumn("__res", residual(col("__cv"), col("__cell"), cents))
      .select(col("item_id"), col("__cell"),
        VectorOps.pqCodes(VectorOps.pqAssign(col("__res"), codebooks))
          .as("__codes"))
    val probed = probeCells(queries, qId, qVec, cents, nProbe)
      .withColumn("__qres", residual(col("__qv"), col("__cell"), cents))
      .select(col("query_id"), col("__cell"),
        VectorOps.pqAdcLut(col("__qres"), codebooks).as("__lut"))
    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .select(col("query_id"), col("item_id"),
        VectorOps.pqAdcDist(col("__lut"), col("__codes")).as("adc_dist"))
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("adc_dist").asc, col("item_id")), k)
  }

  /** Recall-targeted probe policy for the auto-sized IVF index — the
    * sim16 INSTRUMENT turned into a POLICY. sim16 measured the
    * auto-sizing trade (cells grow with the corpus, so a constant
    * nProbe probes a shrinking fraction and recall silently falls on
    * unclustered corpora); this picks nProbe from a measured
    * calibration instead of a caller constant: brute-force ground
    * truth @k on a held-out calibration query sample, then the
    * micro-averaged recall of each ladder depth (total approx∩truth
    * hits over total truth rows — integer counts, so the threshold
    * test `100·hits ≥ pct·truth` is pure integer math both engines
    * evaluate identically, no float-mean knife edge), chosen = the
    * SMALLEST ladder depth meeting `recallPctTarget`, else the ladder
    * max — the honest fallback that says the corpus is in sim16's
    * shrunken-fraction regime and the target is not reachable within
    * the ladder's cost bound.
    *
    * Cost is bounded by the CALIBRATION sample, not the query load:
    * one index build (centroid pull ≤ 4096 rows + zero-shuffle
    * assignment), one probe join at the ladder max depth, one
    * brute-force pass |calib|·|corpus| (size the sample — at 100 TB
    * calibrate ~1k queries against the assigned index once per corpus
    * snapshot, then serve every query batch at the chosen depth).
    * Input contract: [[calibratedDepth]]'s. Returns the chosen nProbe. */
  def autoNProbePortable(calib: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, targetCellSize: Long, recallPctTarget: Int,
      ladder: Seq[Int] = Seq(1, 2, 4, 8)): Int =
    portableCalibration(calib, corpus, qId, qVec, cId, cVec, k,
      targetCellSize, recallPctTarget, ladder)._1

  /** [[autoNProbePortable]]'s depth and the centroids it pulled, which
    * the serving forms reuse instead of pulling again. */
  private def portableCalibration(calib: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, targetCellSize: Long, recallPctTarget: Int,
      ladder: Seq[Int]): (Int, Seq[Seq[Double]]) = {
    lazy val cents = mdPull(corpus, cId, cVec,
      autoCellsOf(corpus, targetCellSize))
    import graft.functions.GraftFunctions.rankCells
    // one probe pass at the ladder MAX; depth-p hits are the subset
    // with probe rank ≤ p (posexplode gives the rank for free — the
    // same reuse the sim16 oracle's `pr <= n_probe` filter does)
    val p = calibratedDepth(
      assignedCorpus(corpus, cId, cVec, cents),
      vectors(calib, qId, qVec, "query_id", "__qv")
        .select(col("query_id"), col("__qv"),
          posexplode(rankCells(col("__qv"), cents, ladder.max)))
        .select(col("query_id"), col("__qv"),
          (col("pos") + 1).as("__pr"), col("col").as("__cell")),
      bruteForceTopK(calib, corpus, qId, qVec, cId, cVec, k),
      k, recallPctTarget, ladder)
    (p, cents)
  }

  /** Both probe policies' calibration: per ladder depth p, the top-k of
    * the `probed` (query_id, __qv, __cell, __pr) cells' `assigned`
    * (item_id, __cv, __cell) rows with __pr ≤ p, scored against `exact`;
    * the smallest p with `100·hits ≥ pct·truth`, else the ladder max.
    * The frames are by-name, so the contract (ascending non-empty
    * ladder, depths ≥ 1, a percent target) fails before any job. An
    * empty sample would meet any target vacuously (100·0 ≥ pct·0). */
  private[graft] def calibratedDepth(assigned: => DataFrame,
      probed: => DataFrame, exact: => DataFrame, k: Int, pct: Int,
      ladder: Seq[Int]): Int = {
    require(ladder.nonEmpty && ladder == ladder.sorted,
      s"ladder must be ascending, got $ladder")
    require(ladder.head >= 1, s"ladder depths must be >= 1, got $ladder")
    IndexMaintenance.requirePercent("recallPctTarget", pct)
    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("item_id"), col("cosine"), col("__pr"))
    val perDepth = ladder.map(p =>
        scored.where(col("__pr") <= p)
          .withColumn("n_probe", lit(p))).reduce(_ unionAll _)
    val approx = TopK.perGroup(perDepth,
        Seq(col("n_probe"), col("query_id")),
        Seq(col("cosine").desc, col("item_id")), k)
      .select(col("n_probe"), col("query_id"), col("item_id"))
    val truthPairs = exact.select(col("query_id"), col("item_id"))
    val hits: Map[Int, Long] = approx
      .join(truthPairs, Seq("query_id", "item_id"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val truth = truthPairs.count()
    require(truth > 0,
      "empty calibration sample: no ground-truth rows to target")
    ladder.find(p => 100L * hits.getOrElse(p, 0L) >= pct.toLong * truth)
      .getOrElse(ladder.max)
  }

  /** [[ivfTopKPortableAuto]] driven by the [[autoNProbePortable]]
    * policy: calibrate on `calib`, serve `queries` at the chosen depth.
    * Output adds the chosen `n_probe` as a column so the policy's
    * decision ships with the results (auditable, and the oracle twin
    * recomputes the identical choice). */
  def ivfTopKAutoProbePortable(queries: DataFrame, calib: DataFrame,
      corpus: DataFrame, qId: String, qVec: String, cId: String,
      cVec: String, k: Int, targetCellSize: Long, recallPctTarget: Int,
      ladder: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val (p, cents) = portableCalibration(calib, corpus, qId, qVec, cId,
      cVec, k, targetCellSize, recallPctTarget, ladder)
    ivfTopKWithCents(queries, corpus, qId, qVec, cId, cVec, k, cents, p)
      .withColumn("n_probe", lit(p.toLong))
  }

  /** Held-out audit of the [[autoNProbePortable]] policy: calibrate on
    * `calib`, then measure the CHOSEN depth's recall on `holdout`
    * queries the calibration never saw — one row
    * `(n_probe, hits, truth, recall_pct_floor, meets_target)` in pure
    * integers (recall_pct_floor = 100·hits/truth integer division), the
    * shipping gate that says whether the policy's choice generalizes
    * off its calibration sample. This is the row the 100× iid/clustered
    * scale evidence quotes. */
  def autoNProbeHoldoutAudit(calib: DataFrame, holdout: DataFrame,
      corpus: DataFrame, qId: String, qVec: String, cId: String,
      cVec: String, k: Int, targetCellSize: Long, recallPctTarget: Int,
      ladder: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val (p, cents) = portableCalibration(calib, corpus, qId, qVec, cId,
      cVec, k, targetCellSize, recallPctTarget, ladder)
    val approx = ivfTopKWithCents(holdout, corpus, qId, qVec, cId, cVec,
        k, cents, p)
      .select(col("query_id"), col("item_id"))
    val exact = bruteForceTopK(holdout, corpus, qId, qVec, cId, cVec, k)
      .select(col("query_id"), col("item_id"))
    exact.join(approx.withColumn("__hit", lit(1)),
        Seq("query_id", "item_id"), "left")
      .agg(count(col("__hit")).as("hits"), count(lit(1)).as("truth"))
      .select(lit(p.toLong).as("n_probe"), col("hits"), col("truth"),
        // integer floor division (Spark `/` on longs is a double) and a
        // 0/1 long instead of a boolean — both engines hash identically
        expr("hits * 100 div truth").as("recall_pct_floor"),
        when(col("hits") * 100L >= col("truth") * recallPctTarget.toLong,
          1L).otherwise(0L).as("meets_target"))
  }

  /** [[autoNProbePortable]]'s selection over a PREBUILT index — the
    * production form: `assigned`/`centDf` come from [[ivfIndex]] /
    * [[ivfIndexAuto]] (real k-means), the index is fitted once per
    * corpus snapshot, and this picks the serving depth from a
    * calibration sample against THAT index. Identical integer
    * threshold and smallest-qualifying-depth/ladder-max-fallback
    * contract; ground truth is brute force against the indexed corpus
    * (`assigned`'s item/vector columns). Not oracle-replayable (k-means
    * is not) — the portable twin [[autoNProbePortable]] pins the math,
    * the same twin discipline as sim2→sim4. */
  def autoNProbeIndexed(calib: DataFrame, assigned: DataFrame,
      centDf: DataFrame, qId: String, qVec: String, k: Int,
      recallPctTarget: Int, ladder: Seq[Int] = Seq(1, 2, 4, 8)): Int =
    calibratedDepth(assigned,
      // ivfProbe's ranking, kept to the ladder max with the probe rank
      rankedCells(calib, centDf, qId, qVec, ladder.max, "__pr")
        .select(col("query_id"), col("__qv"), col("__cell"), col("__pr")),
      bruteForceTopK(calib, assigned, qId, qVec, "item_id", "__cv", k),
      k, recallPctTarget, ladder)

  /** One-shot production composition: [[ivfIndexAuto]] (real k-means,
    * auto-sized cells) + [[autoNProbeIndexed]] calibration +
    * [[ivfProbe]] at the chosen depth, depth shipped as a column —
    * [[ivfTopKAutoProbePortable]]'s k-means twin. In the real lifecycle
    * the three stages split: fit and calibrate once per corpus
    * snapshot, probe per query batch. */
  def ivfTopKAutoProbe(queries: DataFrame, calib: DataFrame,
      corpus: DataFrame, qId: String, qVec: String, cId: String,
      cVec: String, k: Int, targetCellSize: Long, recallPctTarget: Int,
      ladder: Seq[Int] = Seq(1, 2, 4, 8), seed: Long = 42L,
      kmeansIter: Int = 3): DataFrame = {
    val (assigned, centDf) = ivfIndexAuto(corpus, cId, cVec,
      targetCellSize, seed, kmeansIter)
    val p = autoNProbeIndexed(calib, assigned, centDf, qId, qVec, k,
      recallPctTarget, ladder)
    ivfProbe(queries, assigned, centDf, qId, qVec, k, p)
      .withColumn("n_probe", lit(p.toLong))
  }

  /** IVF index-lifecycle drift monitor — the re-fit signal for the real
    * ANN lifecycle (fit once per corpus snapshot, serve many batches):
    * the index was fitted on `fit`; `incoming` rows arrive later and are
    * assigned to the FIT-TIME cells. Per cell, the audit reports fit
    * and incoming populations and their mean assignment cosine
    * (6-dp-rounded per row before the mean, the engine-portable
    * convention) plus the drift delta — incoming mass concentrating in
    * few cells (load skew) or assigning with visibly lower cosine than
    * the fit population (the centroids no longer describe the data) are
    * the two re-fit triggers. Index shape is the portable auto-sized
    * family (md5-ordered literal centroids over the FIT corpus,
    * [[autoCells]] sizing), so the audit replicates in ANSI SQL; the
    * production k-means path gets the same audit from
    * [[ivfIndexAuto]]'s `assigned`/`centroids` frames.
    *
    * Scale shape: two zero-shuffle assignment passes over literals +
    * one nCells-row broadcast join + one groupBy on cell (≤ 4096
    * groups). Output: (cell, n_fit, n_new, mean_cos_fit, mean_cos_new,
    * cos_drift) — ≤ nCells rows; sides missing from a cell stay null
    * (n counts 0). */
  def ivfDriftAudit(fit: DataFrame, incoming: DataFrame,
      id: String, vec: String, targetCellSize: Long): DataFrame = {
    val f = vectors(fit, id, vec, "item_id", "__v")
    val inc = vectors(incoming, id, vec, "item_id", "__v")
    ivfDriftAuditWith(f, inc,
      mdPull(f, "item_id", "__v", autoCellsOf(f, targetCellSize)))
  }

  /** [[ivfDriftAudit]] body against PRECOMPUTED centroids — the overload
    * [[refitIfDrifted]] shares so one invocation counts and pulls the
    * fit side exactly once (the audit itself adds only the two
    * assignment passes). */
  private def ivfDriftAuditWith(f: DataFrame, inc: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame =
    cellAssignStats(f, cents, "n_fit", "mean_cos_fit")
      .join(cellAssignStats(inc, cents, "n_new", "mean_cos_new"),
        Seq("__cell"), "full")
      .select(col("__cell").cast("long").as("cell"),
        coalesce(col("n_fit"), lit(0L)).as("n_fit"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("mean_cos_fit"), col("mean_cos_new"),
        round(col("mean_cos_new") - col("mean_cos_fit"), 6)
          .as("cos_drift"))

  /** Per-cell population + mean assignment cosine of `df` (columns
    * `item_id`, `__v`) against literal `cents` — [[ivfDriftAudit]]'s
    * one-sided stats, reused by the windowed and refit forms. Zero
    * shuffle before the ≤-nCells-group aggregate. */
  private def cellAssignStats(df: DataFrame, cents: Seq[Seq[Double]],
      nCol: String, mCol: String): DataFrame =
    cellCosine(df, col("__v"), cents)
      .groupBy(col("__cell"))
      .agg(count(lit(1)).as(nCol), round(avg(col("__cos")), 6).as(mCol))

  /** Event-time-windowed drift monitor — [[ivfDriftAudit]]'s per-window
    * form and the BATCH registry face of
    * [[graft.streaming.IndexMonitor.cellDriftStream]] (window() is a
    * plain expression, so the same composition runs over a batch frame
    * or a stream): the portable index is fitted on `fit`
    * (md5-ordered literal centroids, [[autoCells]] sizing), the fit-side
    * per-cell baseline is computed once, and `incoming` rows are
    * assigned and aggregated per (event-time window, cell) with the
    * baseline joined on so every row carries its drift delta.
    *
    * Output: (window_start_s, window_end_s — epoch SECONDS as longs, so
    * the cross-engine compare never touches timezone rendering —, cell,
    * n_new, mean_cos_new, n_fit, mean_cos_fit, cos_drift); cells the fit
    * never populated carry null fit columns (left join). */
  def ivfDriftWindowed(fit: DataFrame, incoming: DataFrame,
      id: String, vec: String, ts: String, targetCellSize: Long,
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    val f = vectors(fit, id, vec, "item_id", "__v")
    val cents = mdPull(f, "item_id", "__v", autoCellsOf(f, targetCellSize))
    val fitStats = cellAssignStats(f, cents, "n_fit", "mean_cos_fit")
      .select(col("__cell").cast("long").as("cell"),
        col("n_fit"), col("mean_cos_fit"))
    graft.streaming.IndexMonitor.cellDriftStream(incoming, vec, ts,
        cents, Some(fitStats), windowDur, watermarkDelay)
      .select(col("window_start").cast("long").as("window_start_s"),
        col("window_end").cast("long").as("window_end_s"),
        col("cell"), col("n_new"), col("mean_cos_new"),
        col("n_fit"), col("mean_cos_fit"), col("cos_drift"))
  }

  /** The ANN lifecycle's ACT stage — closes the loop [[ivfDriftAudit]]
    * and [[graft.streaming.IndexMonitor.cellDriftStream]] only observe:
    * run the drift audit, decide re-fit by two integer-replayable
    * triggers, and when triggered re-pull the centroid set over
    * fit ∪ incoming (the post-drift corpus) at its own [[autoCells]]
    * size; otherwise keep the fit-time centroids. Both the decision and
    * the action are deterministic md5/threshold math a SQL oracle
    * replays end to end (the sim17 policy discipline applied to index
    * maintenance).
    *
    * Triggers (integer math on the ≤-4096-row audit, no float knife
    * edge): LOAD SKEW when `sum(n_new) > 0` AND `nCells · max(n_new) ≥
    * skewFactor · sum(n_new)` — the hottest cell holds ≥ skewFactor×
    * the mean incoming load (nCells is the INDEX size from
    * [[autoCells]] over the fit count, not the audit's row count —
    * cells nothing assigned to still dilute the mean; the positivity
    * gate keeps a QUIET interval a no-op instead of the vacuous
    * `0 ≥ 0` fire); COS DRIFT when any cell with
    * `n_new ≥ minCellN` has `round(cos_drift·10^6) ≤ −driftMilli·1000`
    * — a populated cell's incoming rows assign ≥ driftMilli/1000 cosine
    * worse than the fit population (cos_drift is already 6-dp-rounded,
    * so the ×10^6 integerization is exact in any engine).
    *
    * Scale shape: the audit's two zero-shuffle assignment passes + the
    * 1-row decision aggregate; the refit branch re-pulls ≤ 4096
    * centroid ROWS (never vectors at scale — ids + vectors of the
    * chosen rows only), exactly the index-build cost, so acting costs
    * no more than fitting did. Output: one row per SERVING centroid —
    * (refit, skew_trigger, drift_trigger 0/1 longs, n_cells, cell,
    * centroid_id) — the decision ships with the re-emitted index.
    *
    * Threshold calibration, measured at a 100× corpus (PLANS.md, "Round
    * 11: the engine's own new surface closed"): the drift trigger is an
    * ANY-CELL test, so at fine cell granularity (few incoming rows per
    * cell) a tight `driftMilli` is
    * noise-sensitive — on a distributionally-IDENTICAL iid incoming
    * slice, driftMilli=20 fired off per-cell sampling noise while
    * driftMilli=100 was correctly quiet (refit=0, the no-op a stable
    * corpus should produce); on the clustered-growth corpus both
    * triggers fire at either setting and the serving index re-sizes
    * 2500 → 3125 cells with the post-drift corpus. Size driftMilli to
    * the per-cell sample size (raise it or `minCellN` when
    * n_new/nCells is small), exactly as the audit rows document. */
  def refitIfDrifted(fit: DataFrame, incoming: DataFrame,
      id: String, vec: String, targetCellSize: Long,
      skewFactor: Int = 4, driftMilli: Int = 50,
      minCellN: Long = 5L): DataFrame = {
    require(skewFactor >= 1, s"skewFactor must be >= 1, got $skewFactor")
    require(driftMilli >= 0, s"driftMilli must be >= 0, got $driftMilli")
    val f = vectors(fit, id, vec, "item_id", "__v")
    val inc = vectors(incoming, id, vec, "item_id", "__v")
    // fit side is counted ONCE and its centroid rows pulled ONCE; the
    // collected rows serve both the audit's literal centroids and (on
    // the keep branch) the serving emission itself — a periodic
    // maintenance caller pays one fit count + one ≤-4096-row pull +
    // the two assignment passes, nothing scanned twice
    val nCells = autoCellsOf(f, targetCellSize)
    val centRows = mdRows(f, "item_id", "__v", nCells)
    val audit = ivfDriftAuditWith(f, inc,
      centRows.map(_.getSeq[Double](1).toSeq).toSeq)
    // 1-row decision aggregate (bounded collect — the audit is ≤ nCells
    // rows by construction)
    val d = audit.agg(
      max(col("n_new")).as("__mx"), sum(col("n_new")).as("__tot"),
      max(when(col("n_new") >= minCellN &&
          round(col("cos_drift") * 1e6).cast("long")
            <= lit(-driftMilli.toLong * 1000L), 1L)
        .otherwise(0L)).as("__dr")).head()
    // sum(n_new) > 0 gate: a QUIET interval (no incoming rows) must be
    // a no-op — without it `nCells·0 ≥ skewFactor·0` holds vacuously and
    // a maintenance caller acting on the flag would refit on silence
    val skew = !d.isNullAt(0) && !d.isNullAt(1) && d.getLong(1) > 0L &&
      nCells.toLong * d.getLong(0) >= skewFactor.toLong * d.getLong(1)
    val drift = !d.isNullAt(2) && d.getLong(2) == 1L
    val refit = skew || drift
    if (!refit) {
      // KEEP: the serving set IS the fit-time pull already on the
      // driver — emit it directly, no second scan of the fit side
      pulledFrame(f, centRows, Seq("refit" -> 0L, "skew_trigger" -> 0L,
        "drift_trigger" -> 0L, "n_cells" -> nCells.toLong), "cell",
        "centroid_id")
    } else {
      val src = f.unionAll(inc)
      val servingCells = autoCellsOf(src, targetCellSize)
      // orderBy+limit lowers to TakeOrderedAndProject (distributed top-N,
      // never a global sort); the rank window then runs over the ≤ 4096
      // surviving rows only
      val pulled = src.orderBy(mdOrder(col("item_id")): _*)
        .limit(servingCells)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(mdOrder(col("item_id")): _*)
      pulled
        .select(lit(1L).as("refit"),
          lit(if (skew) 1L else 0L).as("skew_trigger"),
          lit(if (drift) 1L else 0L).as("drift_trigger"),
          lit(servingCells.toLong).as("n_cells"),
          (row_number().over(w) - 1).cast("long").as("cell"),
          col("item_id").as("centroid_id"))
    }
  }

  /** Event-time-windowed PQ distortion monitor — the PQ twin of
    * [[ivfDriftWindowed]] and the BATCH registry face of
    * [[graft.streaming.IndexMonitor.pqDistortionStream]] (window() is a
    * plain expression, so the same composition runs over a batch frame
    * or a stream): codebooks are derived from `fit` exactly as
    * [[pqRefitIfDistorted]] does (md5-ordered k-row pull), the fit-side
    * mean squared reconstruction error is computed once, and `incoming`
    * rows encode and aggregate per event-time window with the baseline
    * joined on so every row carries its distortion delta.
    *
    * Output: (window_start_s, window_end_s — epoch SECONDS as longs, so
    * the cross-engine compare never touches timezone rendering —,
    * n_new, mean_err_new, n_fit, mean_err_fit, err_drift); means are
    * round(sum, 6)/n exact quotients, the drift their raw difference
    * (bit-identical operands in any engine, no terminal rounding). */
  def pqDistortionWindowed(fit: DataFrame, incoming: DataFrame,
      id: String, vec: String, ts: String, dim: Int, m: Int, k: Int,
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    val f = vectors(fit, id, vec, "item_id", "__v")
    val (_, cb) = mdCodebooks(f, "item_id", "__v", dim, m, k)
    val fitStats = f
      .select(VectorOps.pqSqError(VectorOps.pqAssign(col("__v"), cb))
        .as("__e"))
      .agg(count(lit(1)).as("n_fit"),
        (round(sum(col("__e")), 6) / count(lit(1))).as("mean_err_fit"))
    graft.streaming.IndexMonitor.pqDistortionStream(incoming, vec, ts,
        cb, Some(fitStats), windowDur, watermarkDelay)
      .select(col("window_start").cast("long").as("window_start_s"),
        col("window_end").cast("long").as("window_end_s"),
        col("n_new"), col("mean_err_new"),
        col("n_fit"), col("mean_err_fit"), col("err_drift"))
  }

  /** The PQ family's ACT stage — [[refitIfDrifted]]'s quantization
    * twin, completing the maintenance loop for the THIRD index family
    * (IVF cells act via refitIfDrifted, LSH bands via
    * [[Dedup.bandReplanIfUndershot]]; PQ codebooks act here): encode
    * both sides against the fit-time codebooks ([[VectorOps.pqAssign]]
    * — the same md5-ordered literal derivation as v3/sim6), compare
    * mean squared quantization error, and when the incoming side's
    * distortion reaches `ratioPct`% of the fit side's, re-pull the
    * codebook source rows over fit ∪ incoming (the post-shift corpus);
    * otherwise keep the fit-time codebooks. A distribution shift that
    * leaves cell assignment balanced (refitIfDrifted quiet) still
    * degrades ADC distances when vectors move AWAY from every
    * centroid — reconstruction error is the signal that catches it.
    *
    * Decision (integer-replayable, the sim22 discipline): per side,
    * mean err = `round(sum(err), 6) / n` (terminal-rounded sum so
    * accumulation-order ulps can't leak, then an IEEE-exact quotient —
    * the r11 windowed-mean rule), integerized to micros via
    * `round(mean · 10⁶)`; REFIT iff `n_new > 0` (the quiet-interval
    * gate) AND `mean_new_micros > 0` (a zero-distortion incoming side
    * cannot justify a refit — without this, a pristine corpus where
    * BOTH means are 0 would fire `0 ≥ 0` vacuously, the same gate
    * class the r11 ADVICE flagged on refitIfDrifted's skew trigger)
    * AND `100 · mean_new_micros ≥ ratioPct · mean_fit_micros` — pure
    * long arithmetic both engines replay. An EMPTY incoming side
    * keeps, never divides.
    *
    * Scale shape: per side one zero-shuffle encode pass (pqAssign is a
    * literal-codebook expression) + a 1-row aggregate; the act re-pulls
    * k codebook-source ROWS (k ≤ 4096 in any sane PQ) — acting costs no
    * more than the fit-time derivation did. Output: one row per
    * codebook-source row — (refit, n_fit, n_new, mean_err_fit,
    * mean_err_new, cb_rank, cb_item_id) — the decision ships with the
    * codebook source it mandates (ids, never vectors at scale). */
  def pqRefitIfDistorted(fit: DataFrame, incoming: DataFrame,
      id: String, vec: String, dim: Int, m: Int, k: Int,
      ratioPct: Int = 150): DataFrame = {
    require(ratioPct >= 1, s"ratioPct is a percent, got $ratioPct")
    val f = vectors(fit, id, vec, "item_id", "__v")
    val inc = vectors(incoming, id, vec, "item_id", "__v")
    val (fitRows, cb) = mdCodebooks(f, "item_id", "__v", dim, m, k)
    // (n, mean-err micros) for one side — one encode pass, 1-row agg
    def sideStats(df: DataFrame): (Long, Long) = {
      val r = df
        .select(VectorOps.pqSqError(VectorOps.pqAssign(col("__v"), cb))
          .as("__e"))
        .agg(count(lit(1)), coalesce(round(sum(col("__e")), 6), lit(0.0)))
        .head()
      val n = r.getLong(0)
      val mean = if (n == 0L) 0.0 else r.getDouble(1) / n
      (n, math.round(mean * 1e6))
    }
    val (nFit, mFit) = sideStats(f)
    val (nNew, mNew) = sideStats(inc)
    val refit = nNew > 0L && mNew > 0L &&
      100L * mNew >= ratioPct.toLong * mFit
    // An id present on BOTH sides (a re-ingested vector with updated
    // coordinates) ties under the (md5, id) pull ordering, leaving the
    // selected codebook vector partition-order-dependent (r12 ADVICE).
    // Resolve deterministically BEFORE the pull: one row per id,
    // preferring the incoming row (the fresher vector — the shift this
    // refit reacts to), with the vector itself as the final within-side
    // tiebreak so even duplicate-id inputs stay reproducible.
    val srcRows = if (refit) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("item_id")).orderBy(col("__side"), col("__v"))
      mdRows(f.withColumn("__side", lit(1))
        .unionAll(inc.withColumn("__side", lit(0)))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn", "__side"),
        "item_id", "__v", k)
    } else fitRows
    pulledFrame(f, srcRows, Seq("refit" -> (if (refit) 1L else 0L),
      "n_fit" -> nFit, "n_new" -> nNew, "mean_err_fit" -> mFit / 1e6,
      "mean_err_new" -> mNew / 1e6), "cb_rank", "cb_item_id")
  }

  /** An ACT stage's rows for a pull of `f`: the `lead` decision columns
    * (longs or doubles), the 0-based pull rank and the pulled id. */
  private def pulledFrame(f: DataFrame, rows: Array[Row],
      lead: Seq[(String, Any)], rankCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(lead.map { case (n, v) => StructField(n,
        if (v.isInstanceOf[Double]) DoubleType else LongType, nullable = false)
      } ++ Seq(StructField(rankCol, LongType, nullable = false),
        f.schema("item_id").copy(name = idCol)))
    f.sparkSession.createDataFrame(java.util.Arrays.asList(
      rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(lead.map(_._2) ++ Seq(i.toLong, r.get(0))) }: _*), schema)
  }

  /** [[ivfTopKPortable]] with the cell count auto-sized from the corpus
    * count ([[autoCells]]) — the oracle-exact twin of [[ivfIndexAuto]] +
    * [[ivfProbe]]:
    * the DuckDB replay computes the same `least(4096, ceil(n/target))`
    * and ranks the same md5-ordered centroids, so the query stays
    * hash-exact at ANY fixture size, the d22/d24 dynamic-sizing
    * contract applied to cells. */
  def ivfTopKPortableAuto(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, targetCellSize: Long, nProbe: Int): DataFrame =
    ivfTopKPortable(queries, corpus, qId, qVec, cId, cVec, k,
      autoCellsOf(corpus, targetCellSize), nProbe)

  /** IVF probe against an EXPLICIT centroid set — the serving face a
    * maintenance loop needs: [[refitIfDrifted]] /
    * [[pqRefitIfDistorted]] emit the index SOURCE their decisions
    * mandate, and the server then probes with exactly those centroids
    * (which may have been fitted on an OLDER corpus snapshot than the
    * one being served — the staleness sim30 measures). Same plan as
    * [[ivfTopKPortable]] minus the pull: argmax/top-nProbe over
    * literal centroids, zero shuffle — the native RankCells kernel
    * (ORDER BY cosine DESC, cell; bit-pinned to the composed
    * array_sort form by DotProductSpec); the corpus side is assigned
    * in one pass and never broadcast. */
  def ivfTopKWithCents(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, cents: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    val assigned = assignedCorpus(corpus, cId, cVec, cents)
    val probed = probeCells(queries, qId, qVec, cents, nProbe)
    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("item_id"), col("cosine"))
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("item_id")), k)
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998) — the rerank
    * stage hybrid retrieval runs after BM25/ANN recall: greedily pick the
    * candidate maximizing `λ·rel − (1−λ)·max sim-to-already-selected`,
    * k times, so the final list trades relevance against redundancy.
    *
    * Greedy selection is inherently sequential in k, so the loop runs on
    * the DRIVER as k plan steps (no driver data fetch — selections stay
    * DataFrames); everything inside a step is bounded by the candidate
    * pool: per query ≤ nCand candidates × ≤ k selected rows join per
    * step. The candidate stage (the only corpus-sized work) runs once
    * and is persisted; at deployment scale it is the recall stage's
    * already-materialized output. Scores are ROUNDED (6 dp) before each
    * argmax with the item id as tie-break — bit-reproducible selection
    * at every step. Output: (query_id, item_id, mmr, step 1..k). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      nCand: Int, k: Int, lam: Double): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      col(qVec).cast("array<double>").as("__qv"))
    val c = corpus.select(col(cId).as("item_id"),
      col(cVec).cast("array<double>").as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("rel",
        graft.functions.GraftFunctions.cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("item_id"), col("rel"), col("__cv"))
    // loop-invariant candidate pool: pinned on query_id — every step's
    // anti-join and rescoring join cluster on it (a subset of the join
    // keys satisfies the distribution), so the pool never re-shuffles
    val cands = graft.ops.Iterate.pin(
      TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("rel").desc, col("item_id")), nCand)
      .drop("rank"), col("query_id"))
    val (fin, _) = graft.ops.Iterate.rounds(
      TopK.perGroup(cands, Seq(col("query_id")),
        Seq(col("rel").desc, col("item_id")), 1)
      .select(col("query_id"), col("item_id"),
        round(col("rel"), 6).as("mmr"), lit(1L).as("step"), col("__cv")),
      k - 1, snapInit = true, pins = Seq(cands)) { (selected, i) =>
      val step = i + 1
      val picked = selected.select(col("query_id"), col("item_id"))
      val remaining = cands
        .join(picked, Seq("query_id", "item_id"), "left_anti")
      val sims = remaining
        .join(selected.select(col("query_id"), col("__cv").as("__sv")),
          Seq("query_id"))
        .withColumn("__sim",
          graft.functions.GraftFunctions.cosine(col("__cv"), col("__sv")))
        .groupBy(col("query_id"), col("item_id"))
        .agg(first(col("rel")).as("rel"), first(col("__cv")).as("__cv"),
          max(col("__sim")).as("__msim"))
        .withColumn("__mmr",
          round(lit(lam) * col("rel") - lit(1.0 - lam) * col("__msim"), 6))
      val next = TopK.perGroup(sims, Seq(col("query_id")),
          Seq(col("__mmr").desc, col("item_id")), 1)
        .select(col("query_id"), col("item_id"), col("__mmr").as("mmr"),
          lit(step.toLong).as("step"), col("__cv"))
      Some(selected.union(next))
    }
    fin.select(col("query_id"), col("item_id"), col("mmr"), col("step"))
  }
}
