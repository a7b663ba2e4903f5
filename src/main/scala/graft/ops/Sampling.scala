package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling operators (reference §2.8: `split_users.py:22-32`,
  * `generate_training_data.py:117-178`, `lightgcn/utils.py:278-373`).
  *
  * Two families:
  *  - *seeded-random*: thin wrappers over Spark's `randomSplit` / `sampleBy`
  *    — statistically faithful to the reference's `random.*` calls.
  *  - *deterministic-hash*: the 100 TB-safe rewrite. Membership is a pure
  *    function of the row key (xxhash64), so the sample is reproducible
  *    across runs, retries and re-partitions — no driver-side RNG state,
  *    no `collect()`, and an oracle can recompute it exactly.
  */
object Sampling {

  /** Deterministic split: assign each row to a bucket 0..buckets-1 by
    * key hash; `keepBelow` buckets form the "train" side. 80/20 ≙
    * (10, 8). Replaces `split_users.py`'s shuffle-and-slice.
    */
  def hashBucket(key: Column, buckets: Int, seed: Long = 42L): Column =
    pmod(xxhash64(key, lit(seed)), lit(buckets.toLong))

  def hashSplit(df: DataFrame, key: Column, buckets: Int, keepBelow: Int,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val b = hashBucket(key, buckets, seed)
    (df.where(b < keepBelow), df.where(b >= keepBelow))
  }

  /** Deterministic shard assignment + within-shard order — the
    * reproducible "global shuffle" a distributed dataloader consumes
    * (every epoch-0 ordering question in large-scale training reduces to
    * this): shard = portable md5 hash of the key mod `nShards`, position
    * = rank of the hash within the shard (key tiebreak). Because both
    * are pure functions of the key, any worker, retry or engine
    * reproduces the identical order — no RNG state, and the oracle
    * recomputes it exactly.
    *
    * Scale shape: one shuffle on the shard id; each reducer sorts its
    * shard and typically writes it straight out as that shard's file.
    * Size `nShards` so a shard fits a reducer (at 100 TB that is
    * thousands of shards — which is also what the dataloader wants). */
  def shardAssign(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    val h = conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col("__h"), key)
    df.withColumn("__h", h)
      .withColumn("__shard", col("__h") % nShards)
      .withColumn("shard", col("__shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h", "__shard")
  }

  /** Seeded random 80/20 row split (reference `train_test_split(..., 42)`). */
  def randomSplit(df: DataFrame, trainFrac: Double, seed: Long): (DataFrame, DataFrame) = {
    val Array(a, b) = df.randomSplit(Array(trainFrac, 1 - trainFrac), seed)
    (a, b)
  }

  /** Activity-stratified sampling (reference keeps a user w.p. 0.5 if ≥10
    * interactions else 0.1, `generate_training_data.py:119-147`).
    * Deterministic-hash form: hash(user) mod 100 < rate*100 per stratum.
    */
  def stratifiedByActivity(
      perKeyCounts: DataFrame, // (key, cnt)
      key: String,
      cnt: String,
      hiThreshold: Long,
      hiRate: Double,
      loRate: Double,
      seed: Long = 42L): DataFrame = {
    val h = pmod(xxhash64(col(key), lit(seed)), lit(100L))
    perKeyCounts.where(
      when(col(cnt) >= hiThreshold, h < (hiRate * 100).toLong)
        .otherwise(h < (loRate * 100).toLong))
  }

  /** Deterministic negative sampling: for each positive (user, item), emit
    * up to `k` candidate negatives drawn pseudo-randomly from the id space
    * [minId, maxId], then drop candidates that collide with the user's own
    * positives (collision-skip, the scalable rewrite of the reference's
    * rejection loop `ranknet/utils.py:135-149`).
    *
    * `mix` is a deterministic mixing function of (user, positive item,
    * attempt#) — defaults to a Knuth multiplicative mix so the DuckDB oracle
    * can reproduce it with plain arithmetic; pass
    * `(u,i,n) => xxhash64(u,i,n)` for production-strength mixing.
    *
    * No per-user pool materialization (the reference builds
    * `all_items − user_items` per user = O(U×I)); this is O(positives × k)
    * with one broadcast-able anti-join.
    */
  def negatives(
      positives: DataFrame, // (user, item) + anything else
      user: String,
      item: String,
      k: Int,
      minId: Long,
      maxId: Long,
      mix: (Column, Column, Column) => Column = defaultMix): DataFrame = {
    val span = maxId - minId + 1
    val cands = positives
      .withColumn("attempt", explode(array((1 to k).map(i => lit(i.toLong)): _*)))
      .withColumn("neg_item",
        pmod(mix(col(user), col(item), col("attempt")), lit(span)) + minId)
    cands.join(
      positives.select(col(user), col(item).as("neg_item")).distinct(),
      Seq(user, "neg_item"), "left_anti")
  }

  /** Oracle-friendly mixing: (u*2654435761 + i*40503 + n*69069) mod span —
    * fixed-point arithmetic identical in Spark and ANSI SQL. Inputs are
    * pre-reduced mod 1e9 so the largest term stays ≤ ~2.7e18 < Long.Max:
    * arbitrary 64-bit ids (e.g. hashed user ids) can't overflow the
    * multiply, which under this engine's ANSI mode would otherwise throw
    * at runtime. Values are unchanged for ids < 1e9, and the reduction is
    * plain `% 1000000000` in any SQL engine (ids are non-negative; for
    * production-strength mixing pass `(u,i,n) => xxhash64(u,i,n)`). */
  def defaultMix(u: Column, i: Column, n: Column): Column =
    pmod(u.cast("long"), lit(1000000000L)) * 2654435761L +
      pmod(i.cast("long"), lit(1000000000L)) * 40503L +
      pmod(n.cast("long"), lit(1000000000L)) * 69069L

  /** Engine-portable deterministic sampling predicate: keep a key iff the
    * first hex digit of md5(key) is below `sixteenths` (rate granularity
    * 1/16). Any engine with md5 reproduces it exactly. */
  def md5Keep(key: Column, sixteenths: Int): Column =
    if (sixteenths >= 16) lit(true)
    else if (sixteenths <= 0) lit(false)
    else substring(md5(key.cast("string")), 1, 1) <
      lit("0123456789abcdef".charAt(sixteenths).toString)

  /** Domain-mixture sampling (corpus assembly): down-sample each group
    * (source / language domain) so the sampled corpus approximates the
    * target mixture `weights`, at overall size ≈ `targetFrac` of the input.
    *
    * Per-group keep rate `r_g = min(1, w_g · (N·targetFrac) / n_g)`; a row
    * is kept iff the first 4 hex digits of `md5(key)` sort below
    * `floor(r_g · 65536)` formatted as 4-digit hex — a pure row-local
    * predicate (16-bit rate granularity) that any md5-capable engine
    * replicates exactly. Group counts are a plan-time aggregate collected
    * to the driver (|groups| rows — domain taxonomies are small by
    * construction; the fact table itself is never collected). Groups
    * absent from `weights` get rate 0 (dropped). */
  def mixtureSample(docs: DataFrame, key: String, group: String,
      weights: Map[String, Double], targetFrac: Double): DataFrame = {
    val counts = docs.groupBy(col(group)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    val keep: Column = counts.foldRight(lit(false): Column) {
      case ((g, n), acc) =>
        // association mirrors the oracle SQL exactly: (w · (N·f)) / n
        val r = math.min(1.0, weights.getOrElse(g, 0.0) * (total * targetFrac) / n)
        val bound = math.floor(r * 65536).toInt
        val pred =
          if (r >= 1.0) lit(true)
          else substring(md5(col(key).cast("string")), 1, 4) < lit(f"$bound%04x")
        when(col(group) === g, pred).otherwise(acc)
    }
    docs.where(keep)
  }

  /** Portable form of [[stratifiedByActivity]] built on [[md5Keep]]:
    * hi-activity keys kept at hiSixteenths/16, others at loSixteenths/16. */
  def stratifiedPortable(perKeyCounts: DataFrame, key: String, cnt: String,
      hiThreshold: Long, hiSixteenths: Int, loSixteenths: Int): DataFrame =
    perKeyCounts.where(
      when(col(cnt) >= hiThreshold, md5Keep(col(key), hiSixteenths))
        .otherwise(md5Keep(col(key), loSixteenths)))

  /** Popularity-weighted negative sampling — the word2vec unigram table
    * (Mikolov et al. 2013; apply any tempering like freq^0.75 to the
    * integral `weight` column upstream): items own contiguous cumulative
    * ranges [lo, hi) over [0, W) ([[PrefixSum.ranges]], the two-level
    * scan — no data-sized single partition), each user draws `k`
    * md5-uniform points into [0, W), and a bucketized equi-join (the
    * same lowering as `AsOf.rangeJoin`) finds each point's owning item —
    * items sampled proportional to weight, deterministic and
    * engine-replicable. Point buckets are W/256 wide, so the hottest
    * item explodes into ≈ 256·(its weight share) bucket copies — bounded
    * by construction.
    *
    * `users` needs a `user` column; `items` needs (`item`, integral
    * `weight`). Output: (user, draw, item). The tiny modulo bias of
    * `u48 % W` (W ≪ 2^48) is shared by both engines. */
  def weightedNegatives(users: DataFrame, items: DataFrame,
      k: Int): DataFrame = {
    // snapshot the item ranges: the frame is consumed TWICE — the driver
    // total (an action, below) and the bucketized join — and each lazy
    // evaluation of the two-level scan computes its range-partitioned
    // input twice (local-cumsum branch + per-partition-offsets branch),
    // so the unmaterialized form ran the items pipeline 4×. The frame is
    // item-catalog-sized ([lo,hi) per item), never interaction-sized, so
    // one materialization is cheap at any corpus (guide §1.2: don't
    // compute things twice before tuning anything else).
    val ranges = Iterate.snapshot(
      PrefixSum.ranges(items, Seq("item"), col("weight"), "lo", "hi"))
    val totalRow = ranges.agg(max(col("hi"))).head
    require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
      "weightedNegatives needs a non-empty items frame with positive " +
        "total weight")
    val total = totalRow.getLong(0)
    val bucket = math.max(1L, total / 256L)
    val rexp = ranges.withColumn("__bk",
      explode(sequence(expr(s"lo div $bucket"),
        expr(s"(hi - 1) div $bucket"))))
    val draws = users
      .select(col("user"), explode(sequence(lit(0), lit(k - 1))).as("draw"))
      .withColumn("__u",
        conv(substring(md5(concat(col("user").cast("string"), lit("#"),
          col("draw").cast("string"))), 1, 12), 16, 10)
          .cast("long") % total)
      .withColumn("__bk", expr(s"__u div $bucket"))
    draws.join(rexp, draws("__bk") === rexp("__bk") &&
        col("__u") >= col("lo") && col("__u") < col("hi"))
      .select(col("user"), col("draw").cast("long").as("draw"), col("item"))
  }

  /** Preference-pair mining — the DPO/RLHF/pairwise-LTR training-data
    * build: per key, pair the strongest positives with the weakest
    * negatives and keep pairs whose score gap clears `minGap`. The naive
    * form (all pos × all neg per key) is quadratic in the hottest key;
    * this caps BOTH sides at `k` per key FIRST with the native k-capped
    * heap aggregate ([[TopK.perGroupAgg]] — map-side partial top-k, no
    * sort), so the pair stage is a bounded k×k self-join per key: one
    * shuffle per side + one bounded equi-join, at any key skew.
    *
    * `df` needs (`key`, `id`, numeric `score`) columns. Positives rank
    * by score DESC, negatives by score ASC, ties broken by id (negated
    * where needed to keep ascending-id determinism). Output:
    * (key, pos_id, neg_id, gap = pos_score − neg_score ≥ minGap). */
  def preferencePairs(df: DataFrame, key: String, id: String,
      score: String, k: Int, minGap: Double): DataFrame = {
    val base = df.select(col(key).as("__k"), col(id).as("__id"),
      col(score).cast("double").as("__s"))
    val pos = TopK.perGroupAgg(base, Seq(col("__k")),
        Seq(col("__s"), col("__id") * -1), Seq(col("__id")), k)
      .select(col("__k"), col("__id").as("pos_id"),
        col("__s").as("__ps"))
    val neg = TopK.perGroupAgg(base, Seq(col("__k")),
        Seq(col("__s") * -1, col("__id") * -1),
        Seq(col("__id"), col("__s")), k)
      .select(col("__k"), col("__id").as("neg_id"),
        col("__s").as("__ns"))
    pos.join(neg, Seq("__k"))
      .where(col("__ps") - col("__ns") >= minGap)
      .select(col("__k").as(key), col("pos_id"), col("neg_id"),
        round(col("__ps") - col("__ns"), 6).as("gap"))
  }

  /** Curriculum ordering (Bengio et al. 2009): schedule training
    * examples easy→hard, but INTERLEAVED so every difficulty level
    * appears throughout an epoch — the standard anti-forgetting
    * variant a dataloader consumes as a sort key. Rows are binned into
    * `nBuckets` equal-width difficulty bins, ranked inside each bin,
    * and the emitted position `pos = intra_rank · nBuckets + bucket`
    * round-robins across bins (all bins' first examples, then all
    * seconds, …) without ever computing a global permutation.
    *
    * Scale posture: the bin bounds are a 1-row min/max broadcast; the
    * within-bin rank is the [[PrefixSum]] two-level lowering ordered on
    * (bucket, difficulty, id) — a global rank whose per-bin offset is
    * subtracted back out via a ≤ nBuckets-row broadcast — so no
    * data-sized window partition exists at any width (a plain
    * `row_number() OVER (PARTITION BY bucket)` would funnel 1/nBuckets
    * of the corpus through single partitions). Bucket arithmetic is
    * integral (`(d − min)·nBuckets div (max − min + 1)`) — bit-exact in
    * any engine, no float boundary hazards.
    *
    * `difficulty` must be integral and `id` unique (the PrefixSum order
    * key (bucket, difficulty, id) must be a total order).
    * Output: (id, difficulty, bucket, intra_rank, pos). */
  def curriculumOrder(df: DataFrame, id: String, difficulty: String,
      nBuckets: Int): DataFrame = {
    val base = df.select(col(id).as("__id"),
      col(difficulty).cast("long").as("__d"))
    val bounds = base.agg(min(col("__d")).as("__mn"), max(col("__d")).as("__mx"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(col("__id"), col("__d"),
        expr(s"(__d - __mn) * $nBuckets div (__mx - __mn + 1)").as("__b"))
    val ranked = PrefixSum.ranges(bucketed, Seq("__b", "__d", "__id"),
      lit(1L), "__lo", "__hi")
    // Bin-start offsets come from the bucket HISTOGRAM (cheap lineage:
    // scan + 1-row bounds broadcast), not from the ranked frame — a
    // broadcast input re-executes its whole lineage as an eager job
    // (PLANS.md round-5 rule), and the histogram's running sum over
    // ≤ nBuckets rows equals min(__lo) per bucket by construction.
    val binStart = bucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__b0", coalesce(sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
          .rowsBetween(Long.MinValue, -1)), lit(0L))) // ≤ nBuckets rows
      .select(col("__b"), col("__b0"))
    ranked.join(broadcast(binStart), Seq("__b"))
      .select(col("__id").as(id), col("__d").as(difficulty),
        col("__b").as("bucket"),
        (col("__lo") - col("__b0")).as("intra_rank"),
        ((col("__lo") - col("__b0")) * nBuckets + col("__b")).as("pos"))
  }

  /** Leave-one-out evaluation split — the standard offline-recsys
    * protocol (He et al., WWW 2017 and most sequential-rec papers):
    * each user's LAST interaction under `order` becomes the held-out
    * test item; everything earlier is train. Emits one row per user
    * holding the test interaction's columns plus `n_train` (users with
    * a single interaction get n_train = 0 — callers typically filter
    * them). `order` must totally order each user's rows or the split is
    * nondeterministic — include a unique tiebreaker.
    *
    * One window shuffle keyed on the user; per-user state is a
    * single-row frame (`row_number` + a count over the same partition),
    * so no per-user buffering beyond the sort — the same posture as
    * every W-family window op. */
  def leaveOneOut(df: DataFrame, user: String,
      order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(user)).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(user))))
      .where(col("__rn") === 1)
      .withColumn("n_train", col("__n") - 1)
      .drop("__rn", "__n")
  }
}
