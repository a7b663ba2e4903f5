package graft.evalx

import graft.ops.PrefixSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking / classification evaluation operators, relational form
  * (reference: `lightgcn/utils.py:157-231` Precision/Recall/NDCG@K,
  * `din/utils.py:286-316` AUC/log-loss/accuracy,
  * `ranknet/utils.py:333-375` pairwise accuracy).
  *
  * Each metric is a plain aggregation plan — partial-aggregated map-side,
  * no driver-side loops — so they run unchanged at 100 TB.
  */
object Metrics {

  /** Per-user Precision@K / Recall@K / NDCG@K.
    *
    * Input: `ranked` (user, item, rank 1-based) and `relevant` (user, item).
    * NDCG uses binary gain 1/log2(rank+1), ideal = best achievable for the
    * user's #positives — exactly the reference arithmetic
    * (`lightgcn/utils.py:205-222`, incl. idcg=0 → ndcg=0).
    */
  def rankingAtK(ranked: DataFrame, relevant: DataFrame,
      user: String, item: String, rank: String, k: Int): DataFrame = {
    val topk = ranked.where(col(rank) <= k)
    val hits = topk.join(relevant, Seq(user, item), "left_semi")
      .groupBy(col(user))
      .agg(count(lit(1)).as("n_hits"),
        sum(lit(1.0) / log2(col(rank) + 1.0)).as("dcg"))
    val nRel = relevant.groupBy(col(user)).agg(count(lit(1)).as("n_rel"))
    nRel.join(hits, Seq(user), "left")
      .na.fill(0, Seq("n_hits")).na.fill(0.0, Seq("dcg"))
      .withColumn("ideal_n", least(col("n_rel"), lit(k)))
      // idcg = Σ_{i=1..min(nRel,k)} 1/log2(i+1), via a sequence fold
      .withColumn("idcg",
        aggregate(sequence(lit(1), col("ideal_n")), lit(0.0),
          (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1.0)))
      .withColumn("precision", col("n_hits").cast("double") / k)
      .withColumn("recall", col("n_hits").cast("double") / col("n_rel"))
      .withColumn("ndcg",
        when(col("idcg") === 0.0, 0.0).otherwise(col("dcg") / col("idcg")))
      .select(col(user), col("precision"), col("recall"), col("ndcg"))
  }

  /** Per-user MRR@k — reciprocal rank of the FIRST relevant item in the
    * top-k list, 0 when none hits (the navigational-search / next-item
    * metric reported next to NDCG). Same input contract as
    * [[rankingAtK]]; one semi-join + min aggregate per user. */
  def mrrAtK(ranked: DataFrame, relevant: DataFrame,
      user: String, item: String, rank: String, k: Int): DataFrame = {
    val first = ranked.where(col(rank) <= k)
      .join(relevant, Seq(user, item), "left_semi")
      .groupBy(col(user)).agg(min(col(rank)).as("__fr"))
    relevant.select(col(user)).distinct()
      .join(first, Seq(user), "left")
      .select(col(user),
        coalesce(col("__fr"), lit(0L)).cast("long").as("first_rank"),
        coalesce(lit(1.0) / col("__fr"), lit(0.0)).as("mrr"))
  }

  /** Corpus-level AUC via the rank-sum (Mann-Whitney) identity:
    * AUC = (Σ ranks(pos) − nPos(nPos+1)/2) / (nPos·nNeg); ties get average
    * rank. The rank step is a [[graft.ops.PrefixSum]] scan over the score
    * histogram, no O(n²) pairs.
    */
  def auc(scored: DataFrame, score: String, label: String): DataFrame = {
    // Histogram form of the rank-sum: aggregate to one row per DISTINCT
    // score (map-side combined). Ties get the average rank exactly as in
    // the classical formulation: avg of k consecutive ranks starting after
    // `cumBefore` is cumBefore + (k+1)/2.
    // null-label rows are excluded (both from positives and negatives) —
    // same contract as the classical formulation where they fell out of
    // both conditional sums
    val hist = scored.where(col(label).isNotNull)
      .groupBy(col(score).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(col(label).cast("double")).as("__pos"))
    val ranked = PrefixSum.exclusive(hist, Seq(col("__s")),
        Seq("__before" -> col("__n")))
      .withColumn("__avgRank",
        col("__before").cast("double") + (col("__n").cast("double") + 1) / 2.0)
    ranked.agg(
      ((sum(col("__pos") * col("__avgRank")) -
        (sum(col("__pos")) * (sum(col("__pos")) + 1)) / 2.0) /
        (sum(col("__pos")) *
          (sum(col("__n").cast("double")) - sum(col("__pos"))))).as("auc"))
  }

  /** Average precision (the "PR-AUC" classifiers report when positives
    * are rare and ROC-AUC flatters): AP = Σ_blocks P_b · pos_b / n_pos
    * over DISTINCT scores descending, with P_b = precision at the
    * block's inclusive cumulative cut — the threshold-step definition
    * (sklearn's `average_precision_score`), which makes ties
    * well-defined as blocks instead of an arbitrary within-tie order.
    * The cumulative counts are a [[graft.ops.PrefixSum]] scan over the
    * score histogram, descending. */
  def averagePrecision(scored: DataFrame, score: String,
      label: String): DataFrame = {
    val hist = scored.where(col(label).isNotNull)
      .groupBy(col(score).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(col(label).cast("double")).as("__pos"))
    PrefixSum.exclusive(hist, Seq(col("__s").desc),
        Seq("__bn" -> col("__n"), "__bp" -> col("__pos")))
      .agg(sum(col("__n")).as("n"),
        sum(col("__pos")).cast("long").as("n_pos"),
        (sum(col("__pos") * ((col("__bp") + col("__pos")) /
            (col("__bn") + col("__n")).cast("double"))) /
          sum(col("__pos"))).as("average_precision"))
  }

  /** Per-group AUC via the same rank-sum identity as [[auc]], one row per
    * group that has BOTH classes (AUC is undefined otherwise — groups
    * missing a class are dropped, matching how GAUC is reported in the
    * reco literature). Grouped first to a per-(group, score) histogram —
    * map-side combined, so a group's window input is its DISTINCT score
    * count, not its event count; the rank window partitions by group
    * (bounded by per-group cardinality, never corpus-sized — the global
    * single-sequence hazard [[auc]]'s two-level lowering exists for
    * doesn't arise when the partition key IS the group). */
  def groupAuc(scored: DataFrame, group: String, score: String,
      label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.where(col(label).isNotNull)
      .groupBy(col(group), col(score).as("__s"))
      .agg(count(lit(1)).as("__n"), sum(col(label).cast("double")).as("__pos"))
    val w = Window.partitionBy(col(group)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__avgRank",
        col("__before").cast("double") + (col("__n").cast("double") + 1) / 2.0)
    ranked.groupBy(col(group))
      .agg(sum(col("__pos") * col("__avgRank")).as("__spr"),
        sum(col("__pos")).as("__np"),
        sum(col("__n")).cast("double").as("__nt"))
      .where(col("__np") > 0 && col("__nt") - col("__np") > 0)
      .select(col(group),
        col("__np").cast("long").as("n_pos"),
        (col("__nt") - col("__np")).cast("long").as("n_neg"),
        ((col("__spr") - col("__np") * (col("__np") + 1) / 2.0) /
          (col("__np") * (col("__nt") - col("__np")))).as("auc"))
  }

  /** GAUC — impression-weighted mean of per-group AUCs (the reco-industry
    * session/user-level AUC: corpus AUC rewards cross-user score
    * calibration that a per-user ranker never exploits; GAUC scores each
    * group's ranking on its own). Weight = the group's scored impressions
    * (n_pos + n_neg). One extra 1-row aggregate over [[groupAuc]]. */
  def gauc(scored: DataFrame, group: String, score: String,
      label: String): DataFrame =
    groupAuc(scored, group, score, label)
      .agg(count(lit(1)).as("n_groups"),
        (sum((col("n_pos") + col("n_neg")).cast("double") * col("auc")) /
          sum((col("n_pos") + col("n_neg")).cast("double"))).as("gauc"))

  /** Spearman rank correlation between two columns — the standard
    * "do two rankers agree" diagnostic (score drift between model
    * versions, feature-vs-label monotonicity). ρ = Pearson correlation
    * of the AVERAGE ranks (exact tie handling, not the no-ties
    * shortcut formula).
    *
    * Ranks come from per-column value histograms run through the
    * [[graft.ops.PrefixSum]] two-level lowering (continuous columns
    * make the histogram data-sized, so a global rank window would
    * funnel the dataset through one partition); rows join their ranks
    * back by value (two distributed equi-joins), and the five moment
    * sums reduce in one scalar aggregate. Average ranks are halves, so
    * every sum is exact in doubles up to 2⁵² — the only inexact op is
    * the final ratio. Null rows in either column are excluded. */
  def spearman(df: DataFrame, a: String, b: String): DataFrame = {
    val base = df.where(col(a).isNotNull && col(b).isNotNull)
      .select(col(a).as("__a"), col(b).as("__b"))
    def rankMap(c: String, out: String): DataFrame = {
      val hist = base.groupBy(col(c)).agg(count(lit(1)).as("__n"))
      PrefixSum.ranges(hist, Seq(c), col("__n"), "__lo", "__hi")
        .select(col(c),
          (col("__lo").cast("double") +
            (col("__n").cast("double") + 1) / 2.0).as(out))
    }
    val ranked = base
      .join(rankMap("__a", "__ra"), Seq("__a"))
      .join(rankMap("__b", "__rb"), Seq("__b"))
    ranked.agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__ra")).as("__sa"), sum(col("__rb")).as("__sb"),
        sum(col("__ra") * col("__ra")).as("__saa"),
        sum(col("__rb") * col("__rb")).as("__sbb"),
        sum(col("__ra") * col("__rb")).as("__sab"))
      .select(col("__n").cast("long").as("n"),
        ((col("__n") * col("__sab") - col("__sa") * col("__sb")) /
          (sqrt(col("__n") * col("__saa") - col("__sa") * col("__sa")) *
            sqrt(col("__n") * col("__sbb") - col("__sb") * col("__sb"))))
          .as("rho"))
  }

  /** Log-loss + accuracy@0.5 (reference `din/utils.py:286-316`), with the
    * standard 1e-15 clip. */
  def classification(scored: DataFrame, score: String, label: String): DataFrame = {
    val p = least(greatest(col(score), lit(1e-15)), lit(1.0 - 1e-15))
    val y = col(label).cast("double")
    scored.agg(
      avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p))).as("logloss"),
      avg(when((col(score) >= 0.5) === (y === 1.0), 1.0).otherwise(0.0)).as("accuracy"))
  }

  /** Pairwise accuracy: fraction of (pos, neg) rows with pos_score >
    * neg_score (reference `ranknet/utils.py:333-375`). */
  def pairwiseAccuracy(pairs: DataFrame, posScore: String, negScore: String): DataFrame =
    pairs.agg(avg(when(col(posScore) > col(negScore), 1.0).otherwise(0.0))
      .as("pairwise_accuracy"))

  /** Expected calibration error (Guo et al. 2017): probability scores in
    * [0, 1] binned into `nBins` equal-width bins; ECE = Σ (n_b/N) ·
    * |mean(label)_b − mean(score)_b|. Two bounded aggregations (bin
    * rollup → ≤ nBins rows → scalar) — the model-monitoring companion
    * to [[classification]]: a model can have great AUC and still be
    * badly calibrated, which breaks any downstream expected-value
    * ranking. */
  def calibration(scored: DataFrame, score: String, label: String,
      nBins: Int): DataFrame = {
    val bin = greatest(
      least(floor(col(score) * nBins), lit(nBins - 1L)), lit(0L))
      .cast("long")
    scored.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("__n"), avg(col(score)).as("__conf"),
        avg(col(label).cast("double")).as("__acc"))
      .agg(
        round(sum(col("__n") * abs(col("__acc") - col("__conf"))) /
          sum(col("__n")), 6).as("ece"),
        count(lit(1)).as("n_bins_used"))
  }

  /** The deterministic Poisson(1) weight for (row `__id`, replicate
    * `__b`) — shared by [[bootstrapCiMean]] and [[bootstrapCiDelta]]
    * (the PAIRING in the paired delta is exactly this sharing). */
  private def poissonWeight: Column = {
    val u = conv(substring(md5(concat(col("__id"), lit("#"),
      col("__b").cast("string"))), 1, 12), 16, 10).cast("double") /
      281474976710656.0
    when(u < 0.367879441, 0.0)
      .when(u < 0.735758882, 1.0)
      .when(u < 0.919698603, 2.0)
      .otherwise(3.0)
  }

  /** Poisson-bootstrap confidence interval for a mean — the missing
    * error bar on every point metric this module emits (an AUC or mean
    * that moved 0.002 means nothing without one). Classic multinomial
    * bootstrap resampling needs coordinated global draws; the Poisson
    * bootstrap (Chamandy et al. 2012, "Estimating uncertainty for
    * massive data streams" — built for exactly this distributed setting)
    * gives each row an independent per-replicate weight ~ Poisson(1),
    * so it's one stateless expression per (row, replicate).
    *
    * Determinism contract: the weight is derived from the portable md5
    * hash of (id, replicate) mapped to u ∈ [0,1) (48-bit mantissa), cut
    * at the Poisson(1) cdf literals 0.367879441 / 0.735758882 /
    * 0.919698603 (truncated at weight 3 — P(k≥4) < 2%, part of the
    * contract), so any engine replays the identical resample.
    *
    * Scale shape: the ×B fan-out is a map-side explode (no shuffle of
    * the base table beyond the B-key aggregate whose partial sums
    * combine map-side); replicate means are B rows, the CI is a 1-row
    * sort over them. ci_lo/ci_hi are the (floor(α/2·B)+1)-th smallest /
    * symmetric largest replicate means (α = 5%).
    * Output: 1 row (n_replicates, point_mean, ci_lo, ci_hi). */
  def bootstrapCiMean(df: DataFrame, id: Column, value: Column,
      nReplicates: Int): DataFrame = {
    val base = df.select(id.cast("string").as("__id"),
      value.cast("double").as("__x"))
    val means = base
      .select(col("__id"), col("__x"),
        explode(sequence(lit(0), lit(nReplicates - 1))).as("__b"))
      .withColumn("__w", poissonWeight)
      .groupBy(col("__b"))
      .agg((sum(col("__w") * col("__x")) / sum(col("__w"))).as("__m"))
    val k = nReplicates / 40 + 1 // floor(0.025·B) + 1
    means.crossJoin(broadcast(base.agg(avg(col("__x")).as("__pm"))))
      .agg(count(lit(1)).as("n_replicates"),
        round(first(col("__pm")), 6).as("point_mean"),
        round(element_at(sort_array(collect_list(col("__m"))), k), 6)
          .as("ci_lo"),
        round(element_at(sort_array(collect_list(col("__m"))),
          nReplicates - k + 1), 6).as("ci_hi"))
  }

  /** Paired-bootstrap CI for the DELTA of two per-row metrics — the
    * A/B answer to "is model A actually better on this eval set":
    * both metrics are resampled with the SAME per-(row, replicate)
    * weights, so row-level noise common to both cancels inside each
    * replicate and the CI measures the difference, not the variance of
    * either side (the paired design every A/B methodology text
    * prescribes; unpaired CIs overlap long after a paired delta is
    * decisive). Significance readout: the interval excluding 0.
    * Same scale shape and determinism contract as [[bootstrapCiMean]].
    * Output: 1 row (n_replicates, point_delta, ci_lo, ci_hi). */
  def bootstrapCiDelta(df: DataFrame, id: Column, valueA: Column,
      valueB: Column, nReplicates: Int): DataFrame = {
    val base = df.select(id.cast("string").as("__id"),
      valueA.cast("double").as("__a"), valueB.cast("double").as("__b2"))
    val deltas = base
      .select(col("__id"), col("__a"), col("__b2"),
        explode(sequence(lit(0), lit(nReplicates - 1))).as("__b"))
      .withColumn("__w", poissonWeight)
      .groupBy(col("__b"))
      .agg((sum(col("__w") * col("__a")) / sum(col("__w")) -
        sum(col("__w") * col("__b2")) / sum(col("__w"))).as("__m"))
    val k = nReplicates / 40 + 1
    deltas.crossJoin(broadcast(
        base.agg((avg(col("__a")) - avg(col("__b2"))).as("__pd"))))
      .agg(count(lit(1)).as("n_replicates"),
        round(first(col("__pd")), 6).as("point_delta"),
        round(element_at(sort_array(collect_list(col("__m"))), k), 6)
          .as("ci_lo"),
        round(element_at(sort_array(collect_list(col("__m"))),
          nReplicates - k + 1), 6).as("ci_hi"))
  }

  /** Population stability index between a baseline and a current sample
    * of one numeric column — the standard drift alarm on score/feature
    * distributions (PSI > 0.2 ≈ retrain). Equal-width bins over
    * [lo, hi) with edge clamping; proportions Laplace-smoothed by +0.5
    * per bin so empty bins stay finite (the smoothing is part of the
    * contract — both engines must apply it identically). Two bounded
    * bin rollups and a ≤ nBins-row join: runs at any scale. */
  def psi(base: DataFrame, current: DataFrame, value: String,
      nBins: Int, lo: Double, hi: Double): DataFrame = {
    val width = (hi - lo) / nBins
    def binned(df: DataFrame): DataFrame =
      df.groupBy(least(greatest(
          floor((col(value) - lo) / width), lit(0L)), lit(nBins - 1L))
        .cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
    val b = binned(base).withColumnRenamed("n", "__nb")
    val c = binned(current).withColumnRenamed("n", "__nc")
    b.join(c, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("__nb"), lit(0L)).as("__nb"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
      .agg(sum(col("__nb")).as("__tb"), sum(col("__nc")).as("__tc"),
        // fold in ascending-bin order so the float sum is deterministic
        array_sort(collect_list(struct(col("bin"), col("__nb"),
          col("__nc")))).as("__bins"))
      .select(round(aggregate(col("__bins"), lit(0.0), (acc, s) => {
        val pb = (s.getField("__nb") + 0.5) /
          (col("__tb") + 0.5 * nBins)
        val pc = (s.getField("__nc") + 0.5) /
          (col("__tc") + 0.5 * nBins)
        acc + (pc - pb) * log(pc / pb)
      }), 6).as("psi"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic — the binless companion to
    * [[psi]]: max over all observed points of |F_base(x) − F_cur(x)|.
    * PSI needs bin edges chosen up front and saturates on shape changes
    * inside a bin; KS is parameter-free and catches any CDF divergence,
    * which is why drift monitors run both.
    *
    * The cumulative counts of BOTH sides come from one
    * [[graft.ops.PrefixSum]] scan over the full-outer-merged
    * distinct-value counts; the final max is a 1-row aggregate with
    * map-side partials. Cumulative counts stay integral, so the only
    * float op is the final ratio — deterministic across engines.
    * Output: 1 row (ks_stat, n_base, n_current). */
  def ksTest(base: DataFrame, current: DataFrame, value: String)
      : DataFrame = {
    def pts(df: DataFrame, n: String): DataFrame =
      df.select(col(value).cast("double").as("__x"))
        .where(col("__x").isNotNull)
        .groupBy(col("__x")).agg(count(lit(1)).as(n))
    val merged = pts(base, "__na").join(pts(current, "__nb"),
        Seq("__x"), "full_outer")
      .select(col("__x"), coalesce(col("__na"), lit(0L)).as("__na"),
        coalesce(col("__nb"), lit(0L)).as("__nb"))
    PrefixSum.exclusive(merged, Seq(col("__x")),
        Seq("__ca" -> col("__na"), "__cb" -> col("__nb")))
      .crossJoin(broadcast(merged.agg(sum(col("__na")).as("__ta"),
        sum(col("__nb")).as("__tb"))))
      .select(abs(
          (col("__ca") + col("__na")).cast("double") / col("__ta") -
          (col("__cb") + col("__nb")).cast("double") / col("__tb"))
        .as("__d"), col("__ta"), col("__tb"))
      .agg(round(max(col("__d")), 6).as("ks_stat"),
        first(col("__ta")).as("n_base"),
        first(col("__tb")).as("n_current"))
  }

  /** Exposure concentration of a recommendation set: catalog coverage
    * (distinct recommended items / catalog size) and the Gini coefficient
    * of per-item exposure counts — the standard diversity/long-tail
    * health gauges for a recommender (a cascade that always surfaces the
    * same popular items has coverage → 0 and Gini → 1).
    *
    * `recs`: one row per (recommendation, item); `catalogSize`: 1-row
    * frame with the item-universe count (kept as a frame so the caller's
    * count stays lazy — it broadcasts as a scalar).
    *
    * Gini = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over exposure counts x sorted
    * ascending. The global rank i comes from [[graft.ops.PrefixSum]]
    * (two-level offsets), NOT a single-partition window — at 100 TB the
    * exposure table is catalog-sized. Ties on the count share identical
    * xᵢ, so any tie order yields the same sum; the item id tiebreaker
    * just keeps the plan deterministic. */
  def exposureStats(recs: DataFrame, item: String,
      catalogSize: DataFrame): DataFrame = {
    val exposure = recs.groupBy(col(item).as("__item"))
      .agg(count(lit(1)).as("__cnt"))
    PrefixSum.ranges(exposure, Seq("__cnt", "__item"), lit(1L),
        "__lo", "__hi")
      .crossJoin(broadcast(catalogSize.toDF("__catalog")))
      .agg(
        count(lit(1)).as("n_items"),
        round(count(lit(1)).cast("double") / first(col("__catalog")), 6)
          .as("coverage"),
        round(lit(2.0) * sum((col("__lo") + 1) * col("__cnt")) /
            (count(lit(1)) * sum(col("__cnt"))) -
          (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"),
        sum(col("__cnt")).as("total_exposures"))
  }
}
