package graft

import graft.evalx.Metrics
import graft.functions.{Features, KmvAgg, SketchFunctions, TextFunctions, VectorOps}
import graft.llmops.{Dedup, SimSearch, TextAnalysis}
import graft.ops.{AsOf, Behavior, DictIndex, Graph, Layout, PrefixWindow, Sampling, TopK, Validate}
import graft.recall.{Cascade, ItemCf, NeuralForward, NeuralOracle}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2. Most carry a DuckDB oracle in `oracleSql` (same column
  * names, deterministic values; ordering-sensitive ops carry explicit
  * tie-breaks); entries whose internals aren't ANSI-SQL-expressible
  * (xxhash64 signatures, LSH/IVF model state, binary codecs, the stub
  * cascade) are rows-only and pinned by ScalaTest instead — COVERAGE.md
  * lists which is which.
  */
object SparkEntry {

  /** Flagship (driver smoke-checks rows > 0): SURVEY §7.2's end-to-end
    * slice — real per-user histories → mean-pooled user embeddings →
    * dot-product recall with history exclusion → top-5 — i.e. the
    * oracle-checked `m0_recommend_slice` on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    m0RecommendSlice(spark, "/root/testdata/sf0.001")

  private type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- queries

  /** A1/A4/A6-style headline aggregation (TPC-H Q1 shape) — hash-agg with
    * map-side partials; sums rounded so IEEE accumulation order can't flip
    * the oracle hash. */
  private val q1Agg: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** P1/P2: projection + predicate, pushed to the parquet scan. */
  private val p1ProjectFilter: Q = (s, dir) =>
    Tables.orders(s, dir)
      .where(col("o_totalprice") > 100000 && col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** J1/J2: star-schema broadcast lookup join chain. */
  private val j1StarJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
  }

  /** J3: as-of join — for each purchase event, the most recent non-purchase
    * event of the same user at or before it (union + running-last lowering,
    * single shuffle — SURVEY §2.3 J3). */
  private val j3AsOf: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val queries = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("query_id"), col("ts"))
    val behaviors = ev.where(col("event_type") =!= "purchase")
    AsOf.lastAsOf(queries, behaviors, "user_id", "ts", "ts",
      payload = col("event_id"), outCol = "beh_id", tieBreak = col("event_id"))
      .select(col("query_id"), col("beh_id"))
  }

  /** J11: NEAREST as-of ([[AsOf.nearestAsOf]]) — j3's fixture but the
    * closest behavior in either direction (ties backward); the
    * sensor/log alignment join, same single-shuffle union lowering. */
  private val j11AsofNearest: Q = (s, dir) => {
    // µs end to end (the ts-output contract): distances must compare at
    // the precision BOTH engines see, or same-µs candidates could pick
    // different sides of the query row
    val ev = Tables.events(s, dir)
    val queries = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("query_id"),
        expr("ts div 1000").as("tsq"))
    val behaviors = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsb"))
    AsOf.nearestAsOf(queries, behaviors, "user_id", "tsq", "tsb",
        payload = col("event_id"), outCol = "__n",
        tieBreak = col("event_id"))
      .select(col("query_id"), col("__n.p").as("beh_id"),
        abs(col("tsq") - col("__n.ts")).as("dist_us"))
  }

  /** A3/W1: per-user time-ordered history (group → sorted list),
    * pipe-joined per the reference's CSV contract. */
  private val a3UserHistory: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        concat_ws("|",
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id")))),
            p => p.getField("event_id").cast("string"))).as("history"),
        count(lit(1)).as("n_events"))

  /** W11: per-user rolling feature bank ([[PrefixWindow.rollingFeatures]],
    * last-5 frame) — inter-event gap + short-horizon count/sum/mean, the
    * recency/frequency features a ranker consumes next to embeddings.
    * Event time is truncated to MICROSECONDS before the window (DuckDB
    * reads the nanos parquet timestamp at µs precision — same contract
    * as j6's stream-join oracle). */
  private val w11RollingFeatures: Q = (s, dir) =>
    PrefixWindow.rollingFeatures(
        Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")),
        "user_id", "ts_us", "value", lastN = 5, tieBreak = Seq(col("event_id")))
      .select(col("event_id"), col("user_id"), col("gap"),
        col("roll_n"), col("roll_sum"), col("roll_mean"))

  /** W2/W3: prefix-window training samples with bounded last-5 history,
    * stride 2, min history 3 (reference `generate_training_data.py:115-178`
    * shape). */
  private val w2PrefixSamples: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    PrefixWindow.samples(ev, "user_id", "ts", col("event_id"),
        minHistory = 3, stride = 2, maxHistory = 5,
        tieBreak = Seq(col("event_id")))
      .select(col("user_id"), col("idx").cast("long").as("idx"),
        col("event_id").as("candidate"),
        concat_ws("|", transform(col("history"), _.cast("string"))).as("history"))
  }

  /** W4: top-k per group with deterministic tie-break. */
  private val w4TopkPerGroup: Q = (s, dir) =>
    TopK.perGroup(Tables.orders(s, dir), Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rank").cast("long").as("rank"))

  /** W4b: the same per-group top-k lowered to the NATIVE k-capped-heap
    * aggregate ([[graft.functions.TopKLargest]]) instead of a rank
    * window — map-side partial top-k with NO sort on either side of the
    * shuffle (the window form local-sorts twice). Tie-break is descending
    * o_orderkey (the aggregate ranks its struct lexicographically
    * descending), so this is the scale twin of `w4_topk_per_group`, not
    * a bit-identical one — it has its own oracle. */
  private val w7TopkAgg: Q = (s, dir) =>
    TopK.perGroupAgg(Tables.orders(s, dir), Seq(col("o_custkey")),
        Seq(col("o_totalprice")), Seq(col("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rank"))

  /** J8/SO2: anti join — customers with no orders. */
  private val j8AntiJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .where(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** A6: two-pass min-max scaling (scalar-aggregate broadcast, no shuffle
    * of the fact table). */
  private val a6MinMax: Q = (s, dir) =>
    Features.minMaxScale(Tables.orders(s, dir), "o_totalprice", "scaled")
      .select(col("o_orderkey"), round(col("scaled"), 9).as("scaled"))

  /** LLM-D1: exact dedup groups by content digest. */
  private val d1ExactDedup: Q = (s, dir) =>
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")

  /** LLM-T: token statistics + fingerprint (codegen'd expressions only). */
  private val t3TokenStats: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))
  }

  /** LLM-S1 / M1 / J7: brute-force cosine top-k similarity search
    * (broadcast query set, codegen'd fused dot product). */
  private val m1CosineTopk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** P4: semi join — customers with ≥1 finished order. */
  private val p4SemiJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** P7: dirty-price cleanse + cast with skip-on-unparseable semantics
    * (dirt is synthesized deterministically from part since the fixtures
    * are clean). */
  private val p7PriceCleanse: Q = (s, dir) =>
    Tables.part(s, dir)
      .withColumn("dirty",
        when(col("p_partkey") % 10 === 0, lit("N/A"))
          .when(col("p_partkey") % 7 === 0,
            concat(lit("$1,"), format_string("%.2f", col("p_retailprice"))))
          .otherwise(concat(lit("$"), format_string("%.2f", col("p_retailprice")))))
      .select(col("p_partkey"),
        round(Features.cleansePrice(col("dirty")), 2).as("price_clean"))

  /** P8: threshold predicate → conditional count (no sum-of-int to keep
    * DuckDB's HUGEINT out of the schema). */
  private val p8Threshold: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(when(col("value") >= 250.0, 1)).as("n_hi"),
        count(lit(1)).as("n"))

  /** J2: id → dense index dictionary (deterministic StringIndexer) via
    * the two-level zipWithIndex lowering — no single-partition window. */
  private val j2DictIndex: Q = (s, dir) =>
    DictIndex.denseIds(Tables.events(s, dir), "user_id", "user_idx")

  /** J4: range join — events of the same user within ±1 h of each purchase
    * (bucketized-equi lowering, SURVEY §2.3 J4). */
  private val j4RangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val oneHourNs = 3600L * 1000 * 1000 * 1000
    val queries = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("query_id"), col("ts"))
    val others = ev.select(col("user_id"), col("event_id").as("beh_id"),
      col("ts").as("bts"))
    // inner range join → per-query counts → left join back so zero-match
    // queries keep a 0 row (rangeJoin is inner-only by construction)
    val counts = AsOf.rangeJoin(queries, others, "user_id", "ts", "bts", oneHourNs)
      .where(col("beh_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__n"))
    queries.join(counts, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("__n"), lit(0L)).as("n_nearby"))
  }

  /** A1: distinct keys. */
  private val a1Distinct: Q = (s, dir) =>
    Tables.events(s, dir).select(col("user_id")).distinct()

  /** A2: distinct pairs (interaction dedup). */
  private val a2DistinctPairs: Q = (s, dir) =>
    Tables.events(s, dir).dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** A5: top-N most-active keys (global top-k = TakeOrderedAndProject). */
  private val a5TopUsers: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)

  /** A7: group-wise mean-pool of embedding vectors (scalar-shuffle form). */
  private val a7MeanPool: Q = (s, dir) =>
    VectorOps.meanPool(Tables.embeddings(s, dir), Seq("label"),
        col("embedding"), "mean_emb")
      .select(col("label"), posexplode(col("mean_emb")).as(Seq("pos", "v")))
      .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
        round(col("v"), 9).as("mean_v"))

  /** M8 (SURVEY M5): model-artifact introspection — the engine-side twin
    * of the reference's checkpoint param dump
    * (`eval_offline/model_params_api.py:26-60`): per label class, vector
    * count, embedding dim, id range and mean L2 norm of the exported
    * embedding table. One map-side-combined aggregation; norms rounded
    * after the sum so accumulation order can't flip the hash. */
  private val m8ParamStats: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        sqrt(aggregate(col("embedding"),
          lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
          .as("__norm"),
        size(col("embedding")).as("__dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("__dim")).cast("long").as("dim_min"),
        max(col("__dim")).cast("long").as("dim_max"),
        min(col("vec_id")).as("id_min"),
        max(col("vec_id")).as("id_max"),
        round(avg(col("__norm")), 4).as("avg_norm"))

  /** A9: exact interpolated percentiles per group. */
  private val a9Percentiles: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.25)), 6).as("p25"),
        round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.75)), 6).as("p75"))

  /** A16: the sketch twin of [[a9Percentiles]] — `approx_percentile`
    * (Greenwald-Khanna summaries, map-side merged, bounded memory at any
    * scale vs exact percentile's per-group value buffer). Estimates
    * aren't oracle-portable → rows-only; MiscApiSpec pins each estimate
    * inside the exact p25/p75 span ± the accuracy bound. */
  private val a16ApproxPercentiles: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(approx_percentile(col("o_totalprice"), lit(0.25), lit(1000)), 6).as("p25"),
        round(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)), 6).as("p50"),
        round(approx_percentile(col("o_totalprice"), lit(0.75), lit(1000)), 6).as("p75"))

  /** SO1: union + distinct. */
  private val so1Union: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir).select(col("s_nationkey")))
      .distinct()

  /** SO3: intersection. */
  private val so3Intersect: Q = (s, dir) =>
    Tables.customer(s, dir).where(col("c_acctbal") > 9000)
      .select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).where(col("s_acctbal") > 5000)
        .select(col("s_nationkey")))

  /** X1: deterministic engine-portable 75/25 split (md5 bucket). */
  private val x1HashSplit: Q = (s, dir) =>
    Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("split",
        when(Sampling.md5Keep(col("user_id"), 12), "train").otherwise("holdout"))

  /** X2: deterministic negative sampling with collision-skip (scalable
    * rewrite of the reference's per-user rejection loop). */
  private val x2Negatives: Q = (s, dir) => {
    val pos = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 100).as("item")).distinct()
    Sampling.negatives(pos, "user_id", "item", k = 2, minId = 0, maxId = 99)
      .select(col("user_id"), col("item"), col("attempt"), col("neg_item"))
  }

  /** X3: activity-stratified deterministic sampling (hi ≥ 70 events kept
    * at 8/16, lo at 1/16). */
  private val x3Stratified: Q = (s, dir) => {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    Sampling.stratifiedPortable(counts, "user_id", "n_events",
      hiThreshold = 70, hiSixteenths = 8, loSixteenths = 1)
  }

  /** A10: classification metrics (log-loss, accuracy, rank-sum AUC) over a
    * deterministic synthetic scoring of events. */
  private val a10Classification: Q = (s, dir) => {
    val scored = Tables.events(s, dir).select(
      (col("value") / 500.0).as("score"),
      when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"))
    Metrics.classification(scored, "score", "y")
      .crossJoin(Metrics.auc(scored, "score", "y"))
      .select(round(col("logloss"), 6).as("logloss"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("auc"), 6).as("auc"))
  }

  /** A23: per-user AUC ([[Metrics.groupAuc]]) — the per-group rank-sum
    * AUC; users missing a class are dropped (AUC undefined). */
  private val a23UserAuc: Q = (s, dir) => {
    val scored = Tables.events(s, dir).where(col("value").isNotNull)
      .select(col("user_id"), (col("value") / 500.0).as("score"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"))
    Metrics.groupAuc(scored, "user_id", "score", "y")
      .select(col("user_id"), col("n_pos"), col("n_neg"),
        round(col("auc"), 6).as("auc"))
  }

  /** A24: GAUC ([[Metrics.gauc]]) — impression-weighted mean per-user
    * AUC, the session-level ranking metric reco evals report next to
    * corpus AUC (a10). */
  private val a24Gauc: Q = (s, dir) => {
    val scored = Tables.events(s, dir).where(col("value").isNotNull)
      .select(col("user_id"), (col("value") / 500.0).as("score"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"))
    Metrics.gauc(scored, "user_id", "score", "y")
      .select(col("n_groups"), round(col("gauc"), 6).as("gauc"))
  }

  /** A25: Spearman rank correlation ([[Metrics.spearman]]) — ranker
    * agreement / monotonicity diagnostic; exact average-rank ties via
    * the PrefixSum histogram lowering. */
  private val a25Spearman: Q = (s, dir) =>
    Metrics.spearman(Tables.lineitem(s, dir), "l_quantity", "l_extendedprice")
      .select(col("n"), round(col("rho"), 6).as("rho"))

  /** A11: per-user Precision/Recall/NDCG@5 (reference arithmetic,
    * `lightgcn/utils.py:205-222`). */
  private val a11RankingMetrics: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val ranked = TopK.perGroup(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 5)
      .select(col("o_custkey"), col("o_orderkey"), col("rank"))
    val relevant = o.where(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderkey"))
    Metrics.rankingAtK(ranked, relevant, "o_custkey", "o_orderkey", "rank", 5)
      .select(col("o_custkey"),
        round(col("precision"), 6).as("prec_k"),
        round(col("recall"), 6).as("recall_k"),
        round(col("ndcg"), 6).as("ndcg_k"))
  }

  /** A26: per-user MRR@5 ([[Metrics.mrrAtK]]) on the same fixture as
    * a11 — reciprocal rank of the first relevant order in the top-5. */
  private val a26Mrr: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val ranked = TopK.perGroup(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 5)
      .select(col("o_custkey"), col("o_orderkey"), col("rank"))
    val relevant = o.where(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderkey"))
    Metrics.mrrAtK(ranked, relevant, "o_custkey", "o_orderkey", "rank", 5)
      .select(col("o_custkey"), col("first_rank"),
        round(col("mrr"), 6).as("mrr"))
  }

  /** A12: pairwise ranking accuracy (pos beats neg). */
  private val a12Pairwise: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val pos = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("value").as("pos_score"))
    val neg = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("value").as("neg_score"))
    Metrics.pairwiseAccuracy(pos.join(neg, "user_id"), "pos_score", "neg_score")
      .select(round(col("pairwise_accuracy"), 6).as("pairwise_accuracy"))
  }

  /** G2: bipartite degree normalization (supplier—part edges). */
  private val g2DegreeNorm: Q = (s, dir) => {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst")).distinct()
    Graph.normalizeEdges(edges, "src", "dst")
      .select(col("src"), col("dst"), round(col("w"), 9).as("w"))
  }

  /** G3: one LightGCN propagation round (SpMM as join + groupBy-sum) with
    * supplier account balance as a 1-dim node feature. */
  private val g3Propagate: Q = (s, dir) => {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst")).distinct()
    val nodes = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("id"), array(col("s_acctbal")).as("emb"))
    Graph.propagate(Graph.normalizeEdges(edges, "src", "dst"), nodes,
        "src", "dst", "id", "emb")
      .select(col("id").as("p_partkey"),
        round(element_at(col("emb"), 1), 6).as("score"))
  }

  /** G8: [[g3Propagate]]'s SpMM on the vector-row plan — one shuffle of
    * whole embedding rows reduced by the spillable `vec_sum` aggregate
    * ([[Graph.propagateVec]]) instead of two scalar-row shuffles. Same
    * oracle as g3; the scalar/vector crossover by embedding width is
    * recorded in PLANS.md ("SpMM width crossover"). */
  private val g8PropagateVec: Q = (s, dir) => {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst")).distinct()
    val nodes = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("id"), array(col("s_acctbal")).as("emb"))
    Graph.propagateVec(Graph.normalizeEdges(edges, "src", "dst"), nodes,
        "src", "dst", "id", "emb")
      .select(col("id").as("p_partkey"),
        round(element_at(col("emb"), 1), 6).as("score"))
  }

  /** §2.12: event-time tumbling-window activity aggregation (same plan
    * batch/stream; the design-doc operator the reference never built). */
  private val streamWindowCounts: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    streaming.BehaviorIngest.windowedActivity(ev, "ts_t", "1 hour", "1 hour")
      .select(unix_timestamp(col("w_start")).as("w_start"),
        col("user_id"), col("n_events"))
  }

  /** §2.12: sliding-window variant (1 h window, 30 min slide — every event
    * lands in exactly 2 windows). */
  private val streamSlidingWindow: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    ev.groupBy(window(col("ts_t"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"))
  }

  /** S4: JSON serialization (the Kafka producer payload contract,
    * `producer.py:63-79` — `to_json(struct(...))`). */
  private val s4JsonRoundtrip: Q = (s, dir) =>
    Tables.events(s, dir).select(col("event_id"),
      to_json(struct(col("user_id"), col("event_type"))).as("payload"))

  /** S11: point lookup on the profile table — the engine-side equivalent
    * of `GET user_profile:{u}:{ts}` (`api_service/main.py:89-107`): with
    * (user, ts)-bucketed storage this is a partition-pruned point read. */
  private val s11PointLookup: Q = (s, dir) =>
    Tables.events(s, dir)
      .where(col("user_id").isin(1L, 42L, 99L))
      .groupBy(col("user_id"))
      .agg(concat_ws("|",
        transform(array_sort(collect_list(struct(col("ts"), col("event_id")))),
          p => p.getField("event_id").cast("string"))).as("history"))

  /** §2.12: session windows (1 h inactivity gap) — the third windowing
    * family; batch plan identical to the streaming one. */
  private val streamSessionWindow: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    ev.groupBy(session_window(col("ts_t"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("session_window.start")).as("session_start_us"),
        col("user_id"), col("n_events"))
  }

  /** LLM-S3: IVF ANN top-k (k-means cells + nProbe probing — the
    * partition-pruning scale path; rows-only, centroids are model
    * state). */
  private val sim3IvfTopk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 4)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** LLM-S4: md5-portable LSH top-k (oracle twin of sim2 — proves bucket
    * signing + Hamming-1 probing + in-bucket exact ranking). */
  private val sim4LshPortable: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.lshTopKPortable(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, nBits = 8)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** LLM-S5: portable IVF top-k (oracle twin of sim3 — md5-picked centroid
    * rows, literal-centroid assignment, nProbe cell pruning). */
  private val sim5IvfPortable: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopKPortable(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 4)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** LLM-S10: metadata-filtered ANN — the vector-DB feature a plain
    * index can't serve: top-k under a structured predicate ("only items
    * of this class/tenant/license"). Pre-filter semantics — the corpus
    * is filtered BEFORE the IVF build/probe, so recall never degrades
    * from post-filter starvation (a post-filter top-k can return < k
    * when the predicate is selective). Same portable cell machinery as
    * sim5, predicate pushed to the corpus scan. */
  private val sim10FilteredAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopKPortable(
        emb.where(col("vec_id") < 10),
        emb.where(col("vec_id") >= 10 && col("label") % 2 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 4)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** LLM-S9: k-NN majority-vote pseudo-labeling
    * ([[SimSearch.knnClassify]]) — label the "unlabeled" query slice
    * from its 10 nearest labeled neighbors; the semi-supervised
    * bootstrap a training-data pipeline runs to expand a seed label
    * set. Neighbor stage = m1's broadcast pattern; vote stage touches
    * |queries|·k rows only. */
  private val sim9KnnClassify: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.knnClassify(
      emb.where(col("vec_id") < 25), emb.where(col("vec_id") >= 25),
      "vec_id", "embedding", "vec_id", "embedding", "label", k = 10)
  }

  /** S2: JSON value parse (the Kafka-payload contract, batch form). */
  private val s2JsonParse: Q = (s, dir) =>
    Tables.events(s, dir).select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** LLM-D4: exact n-gram Jaccard near-dup pairs via inverted shingle
    * index (skew-capped hot shingles). */
  private val d4NgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, minJaccard = 0.15, maxBucket = 1000)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** LLM-D5: engine-portable MinHash near-dup pairs (md5-based signature —
    * same banding/estimation mechanics as the xxhash64 production path but
    * reproducible by the DuckDB oracle). Bands come from the d31 planner
    * at the declared (j = 0.30, target 80%) operating point — (16, 1);
    * the old caller-constant (16, 4) layout detected ~3% of true pairs
    * at j = 0.3 (its own S-curve), i.e. the query was silently missing
    * almost everything its threshold declared it wanted. The oracle
    * replays the divisor scan before banding, the d32 contract. */
  private val d5MinhashPortable: Q = (s, dir) =>
    Dedup.minHashPairsPortableAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 16, minJaccardPct = 30,
        targetDetectPct = 80)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  /** LLM-T4: corpus-level statistics (the curation dashboard query):
    * per-language doc counts, length distribution, distinct sources,
    * token totals. */
  private val t4CorpusStats: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
  }

  /** LLM-T5: rollup aggregation over (lang, source) — subtotal/grand-total
    * rows for the curation report (beyond the reference's surface; shows
    * grouping-set lowering). */
  private val t5CorpusRollup: Q = (s, dir) =>
    Tables.documents(s, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("avg_chars"))

  /** V1: L2-normalize an embedding column (the standard pre-ANN
    * transform) — norm + first normalized component as scalars the oracle
    * can check. */
  private val v1NormalizeEmb: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val norm = VectorOps.l2Norm(col("embedding"))
    emb.select(col("vec_id"),
      round(norm, 9).as("l2_norm"),
      round(element_at(col("embedding"), 1).cast("double") / norm, 9).as("u0"))
  }

  /** LLM-T1: language-ID heuristic + quality + stopword ratio. */
  private val t1TextAnalysis: Q = (s, dir) =>
    TextAnalysis.analyze(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang_guess"), col("quality"),
        col("stopword_ratio"))

  /** LLM-D6: embedding-cosine near-dup pairs via banded LSH
    * (`SimSearch.lshPairs`: bucket-local candidates on md5-portable sign
    * bands, no broadcast, no O(n²); the oracle replicates the banding
    * bit-for-bit and `OpsSpec` pins lshPairs ⊆ brute-force cosinePairs).
    * 0.4 sits at the top ~0.1% of the synthetic corpus's pair-cosine
    * distribution (max ≈ 0.51 — no planted dups). */
  private val d6EmbeddingDedup: Q = (s, dir) =>
    Dedup.embeddingPairsBandedPlanned(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, minCosinePct = 40, nBits = 16,
        targetDetectPct = 80)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** LLM-D22: auto-sized embedding near-dup pairs
    * ([[Dedup.embeddingPairsBandedAutoPlanned]]) — the band width is derived
    * from the corpus count (`ceil(log2(ceil(n/target)))`, pure integer
    * bit-length math) so expected bucket size stays ≈ target as the
    * corpus grows. This is the scale path d6's FIXED 16-bit signature
    * lacks: the 100x scale row (PLANS.md "Round 8: the fixed-signature
    * capacity wall, measured") shows d6's buckets all exceeding
    * the hot-bucket cap (runtime flat because every bucket is excluded
    * — recall zero), while this variant re-sizes to 4×16 bits at 2M
    * rows and keeps finding pairs. The DuckDB oracle replays the width
    * computation dynamically (`least(24, length(bin(m-1)))`), so the
    * query stays oracle-exact at ANY fixture size, not just the gate's. */
  private val d22EmbeddingDedupAuto: Q = (s, dir) =>
    Dedup.embeddingPairsBandedAutoPlanned(Tables.embeddings(s, dir),
        "vec_id", "embedding", dim = 64, minCosinePct = 40,
        targetBucketSize = 50L, targetDetectPct = 80)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** LLM-D23: LSH capacity audit ([[SimSearch.lshBucketHistogramAuto]])
    * — per-band bucket-size histogram at the width the auto-sized pair
    * stage (d22) uses. The hot-bucket cap that keeps every pair
    * generator's memory bounded fails SILENTLY when the signature is
    * undersized for the corpus (d6's fixed 16 bits at 1000×: all rows
    * in over-cap buckets → zero pairs, flat runtime, no error); this
    * query is the monitoring view that exposes it — rows in buckets
    * above the cap are rows the pair stage never sees. */
  private val d23LshCapacityAudit: Q = (s, dir) =>
    SimSearch.lshBucketHistogramAutoPlanned(Tables.embeddings(s, dir),
        "vec_id", "embedding", dim = 64, minCosinePct = 40,
        targetBucketSize = 50L, targetDetectPct = 80)
      .select(col("band"), col("bucket_size"), col("n_buckets"))

  /** LLM-D24: the d22/d23 treatment applied to SIMHASH's fixed-width
    * banding wall ([[Dedup.simHashPairsAuto]]): a 64-bit md5 fingerprint
    * (two 32-bit halves from one digest per token) over 4 disjoint bands
    * whose width is auto-sized from the corpus count — pigeonhole-exact
    * through Hamming 3 — where d3's fixed 2×16-bit form saturates its
    * buckets at ~100M docs and silently emits nothing. The DuckDB oracle
    * replays the dynamic width (`least(16, length(bin(m-1)))`) and both
    * bit rules, so the query stays oracle-exact at any fixture size. */
  private val d24SimhashAuto: Q = (s, dir) =>
    Dedup.simHashPairsAuto(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, targetBucketSize = 50L)

  /** LLM-D25: simhash banding capacity audit
    * ([[Dedup.simHashBucketHistogramAuto]]) — d23's monitoring view for
    * the d24 band family: per-band bucket-size histogram at the exact
    * width the pair stage runs, making rows-silently-lost-to-the-cap a
    * query instead of a post-mortem. */
  private val d25SimhashCapacityAudit: Q = (s, dir) =>
    Dedup.simHashBucketHistogramAuto(Tables.documents(s, dir), "doc_id",
        "text", targetBucketSize = 50L)
      .select(col("band"), col("bucket_size"), col("n_buckets"))

  /** LLM-D29: the 128-bit SimHash family ([[Dedup.simHashPairsAuto128]])
    * — d24's prescribed next lever shipped: four 32-bit md5-digit lanes
    * (p0 ≡ d8's signature, (p0,p1) ≡ d24's) banded at auto width up to
    * 24 bits, moving the capacity wall from ~65k·target to ~16M·target
    * docs. Hamming verifies over all 128 projections (a stricter bar
    * than d24's 64 at the same threshold, so this runs at 6 ≈ d24's 3);
    * detection is pigeonhole-EXACT through 3 differing bits and
    * probabilistic at 4–6 (any shared band still surfaces the pair —
    * standard LSH recall, identical in the oracle since it replays the
    * same banding). Oracle replays the dynamic width and all four
    * hex-digit bit rules. */
  private val d29Simhash128Auto: Q = (s, dir) =>
    Dedup.simHashPairsAuto128(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 6, targetBucketSize = 50L)

  /** LLM-D30: capacity audit for the 128-bit banding
    * ([[Dedup.simHashBucketHistogramAuto128]]) — d25's monitor at d29's
    * exact width. */
  private val d30Simhash128CapacityAudit: Q = (s, dir) =>
    Dedup.simHashBucketHistogramAuto128(Tables.documents(s, dir),
        "doc_id", "text", targetBucketSize = 50L)
      .select(col("band"), col("bucket_size"), col("n_buckets"))

  /** LLM-D26: the xxhash64 MinHash PRODUCTION kernel
    * ([[Dedup.minHashPairs]] → [[graft.functions.MinHashSig]]) on the
    * bench path. Rows-only by construction (DuckDB cannot replay
    * xxhash64 internals) and twinned to the oracle-exact md5-portable
    * d5 exactly as sim2→sim4: the kernel's VALUES are unit-pinned
    * bit-identical to the composed HOF spec (LlmOpsSpec), this entry
    * restores BENCH/registry coverage of its runtime — a perf
    * regression in the fast path was invisible between the r8
    * re-family and this entry. Runs the SAME planner-chosen layout as
    * its twin d5 ([[Dedup.minHashPairsAuto]], (16, 1) at j = 0.30 /
    * target 80%) — twins are only twins at one operating point. */
  private val d26MinhashFast: Q = (s, dir) =>
    Dedup.minHashPairsAuto(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, minJaccardPct = 30,
        targetDetectPct = 80)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  /** LLM-D27: the xxhash64 64-bit SimHash PRODUCTION kernel
    * ([[Dedup.simHashPairs]] over [[Dedup.simHash64]]) on the bench
    * path — rows-only, twinned to the oracle-exact d3/d24 md5 family;
    * same rationale as d26 (LlmOpsSpec pins the signature values, this
    * pins the runtime into BENCH). 4 × 16-bit bands = d24's operating
    * point (pigeonhole-exact through Hamming 3; 8-bit keys measured
    * 2.6 s vs 0.9–1.3 s warm at sf0.1 — n/256 buckets are band noise,
    * the r8 d3 banding A/B repeated; PLANS.md round 9). */
  private val d27SimhashFast: Q = (s, dir) =>
    Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, bands = Dedup.simHashBandPlan(3))

  /** LLM-D13: SemDeDup ([[Dedup.semDedup]]) — portable-centroid
    * clustering of the embedding space, then cell-local near-dup drop:
    * a row is dropped iff a smaller-id row in the SAME cell has cosine
    * ≥ 0.4 (the threshold d6 established for this synthetic corpus).
    * Cells above the hot-cell cap (mirrored in the oracle) are excluded
    * from pair generation — no unbounded quadratic task at scale.
    * Output: every vector with its cell and keep verdict. */
  private val d13SemDedup: Q = (s, dir) =>
    Dedup.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 4, minCosine = 0.4, maxCell = 10000)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("keep"))

  /** LLM-D28: auto-sized SemDeDup ([[Dedup.semDedupAuto]]) — the d22/d24
    * dynamic-sizing contract applied to cluster counts: nCells =
    * `least(4096, ceil(n/128))` (pure integer math the oracle replays),
    * so expected cell size stays ≈ 128 as the corpus grows instead of
    * cells swelling toward the maxCell cutoff where rows silently stop
    * being deduped. At the sf0.01 gate this sizes to d13's 4 cells —
    * the point is that the SAME query stays correctly sized at 100×. */
  private val d28SemdedupAuto: Q = (s, dir) =>
    Dedup.semDedupAuto(Tables.embeddings(s, dir), "vec_id", "embedding",
        targetCellSize = 128L, minCosine = 0.4, maxCell = 10000)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("keep"))

  /** LLM-S15: auto-sized portable IVF top-k
    * ([[SimSearch.ivfTopKPortableAuto]]) — nCells =
    * `least(4096, ceil(n/64))` derived from the corpus count, probing
    * stays at 4 cells, so probe FRACTION (≈ nProbe·target/n) shrinks
    * as the corpus grows while per-probe work stays ≈ 64·nProbe rows —
    * the scaling a fixed nCells=8 forfeits (its cells grow linearly
    * and every probe rescans n/2 of the corpus forever). Oracle-exact:
    * the DuckDB twin recomputes the cell count and ranks the same
    * md5-ordered centroids. Production path = [[SimSearch.ivfIndexAuto]]
    * + [[SimSearch.ivfProbe]] (real k-means; same sizing). */
  private val sim15IvfAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopKPortableAuto(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, targetCellSize = 64L, nProbe = 4)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** LLM-D7: duplicate clusters — near-dup pairs (exact n-gram Jaccard
    * ≥ 0.6) closed transitively into components; cluster_id = min member
    * (oracle: DuckDB recursive CTE over the same pairs). */
  private val d7DupClusters: Q = (s, dir) =>
    Dedup.dupClusters(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, minJaccard = 0.6, maxBucket = 1000)

  /** LLM-D10: the composed corpus-dedup pipeline — the end-to-end slice a
    * training-data curation run executes: learned quality gate (t12) ▷
    * exact dedup (d1) ▷ MinHash-LSH near-dup clustering (d5+d7) ▷
    * canonical selection (keep the min-id member per duplicate cluster).
    * Registered on the md5-portable signature path so the FULL pipeline is
    * oracle-checkable end to end; a production run swaps the signature
    * stage for the xxhash64 kernels (d2) — same plan shapes. */
  private val d10DedupPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val qual = graft.ops.Par.spread(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"),
        TextFunctions.hashedClassifierScore(col("text")).as("__q"))
      .where(col("__q") >= 0.5)
    // the quality+exact-dedup survivor set feeds BOTH the near-dup pair
    // generation (via the components fixpoint) and the final anti-join —
    // persist it so the classifier/dedup stages run once, not twice
    // (ContextCleaner reclaims it once the plan is unreferenced)
    val exact = Dedup.exactRows(qual, "doc_id", "text").persist()
    // planner-chosen layout at the declared (j = 0.50, target 80%)
    // operating point → (8, 2); the old (16, 4) constant detected ~23%
    // of true pairs at j = 0.5 (round-11 verdict)
    val pairs = Dedup.minHashPairsPortableAuto(exact, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)
    val comps = Graph.connectedComponents(pairs, "doc_a", "doc_b")
    val dropped = comps.where(col("doc_a") =!= col("component"))
      .select(col("doc_a").as("doc_id"))
    exact.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), round(col("__q"), 6).as("quality"))
  }

  /** LLM-T21: the composed CURATION pipeline — the full "raw crawl →
    * training set" slice, extending [[d10DedupPipeline]]'s gate ▷ dedup
    * stages with the selection stages a real curation run adds: DSIR
    * importance weighting toward the English target slice
    * ([[TextAnalysis.dsirWeights]] over the dedup survivors) and a
    * per-source token-budget fill in DESCENDING weight order (keep the
    * most target-like docs per domain until the budget fills — x10's
    * fill with DSIR rank instead of hash order). One lazy plan; every
    * stage is the already-verified operator. */
  private val t21CurationPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val qual = graft.ops.Par.spread(docs.select(col("doc_id"),
        col("source"), col("lang"), col("text")))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        TextFunctions.hashedClassifierScore(col("text")).as("__q"))
      .where(col("__q") >= 0.5)
    val exact = Dedup.exactRows(qual, "doc_id", "text").persist()
    // planned (8, 2) at (j = 0.50, target 80%) — see d10
    val pairs = Dedup.minHashPairsPortableAuto(exact, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)
    val comps = Graph.connectedComponents(pairs, "doc_a", "doc_b")
    val dropped = comps.where(col("doc_a") =!= col("component"))
      .select(col("doc_a").as("doc_id"))
    val survivors = exact.join(dropped, Seq("doc_id"), "left_anti")
    // DSIR distributions are estimated on the RAW corpus (that is the
    // method's posture — target vs raw crawl), not the survivor set.
    // This also matters physically: dsirWeights' broadcast bucket table
    // runs as an EAGER job before the main stage, and anchoring it on
    // the survivors lineage re-executed the whole components fixpoint
    // per broadcast (measured 18.7 s warm; raw-corpus weights: ~3 s).
    val weighted = survivors.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(TextAnalysis.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", nBuckets = 64)
        .select(col("doc_id"), col("log_w")), "doc_id")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("log_w").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weighted.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= 300)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("log_w"), col("cum_tokens"))
  }

  /** LLM-D11: incremental (ingestion-time) dedup — a "new batch"
    * (doc_id % 5 = 0) deduped against the already-curated base corpus:
    * exact digest matches and banded-minhash near-dups against the base
    * are dropped; only the surviving new docs ship. The asymmetric shape
    * (never re-pair the base with itself) is what keeps a rolling 100 TB
    * corpus's per-snapshot dedup cost proportional to the SNAPSHOT. */
  private val d11IncrementalDedup: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val incoming = docs.where(col("doc_id") % 5 === 0)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val exactDrop = incoming
      .join(base.select(md5(col("text")).as("__d")).distinct(),
        md5(col("text")) === col("__d"), "left_semi")
      .select(col("doc_id"))
    val nearDrop = Dedup.minHashMatchesAgainstAuto(incoming, base,
        "doc_id", "text", shingleN = 3, numHashes = 16,
        minJaccardPct = 50, targetDetectPct = 80)
      .select(col("doc_new").as("doc_id")).distinct()
    incoming.join(exactDrop.union(nearDrop).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** LLM-T13: canonical text normalization ([[TextFunctions.normalize]])
    * — the stage every matching-sensitive op (dedup, fingerprint,
    * contamination) runs first. Narrow codegen'd projection, no
    * shuffle. */
  private val t13Normalize: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      TextFunctions.bind(TextFunctions.normalize(col("text"))) { n =>
        struct(n.as("norm_text"),
          length(col("text")).cast("long").as("n_before"),
          length(n).cast("long").as("n_after"))
      }.as("__s"))
      .select(col("doc_id"), col("__s.*"))

  /** LLM-T16: winnowing fingerprint overlap — position-robust LOCAL
    * overlap pairs (MOSS algorithm; [[TextAnalysis.winnowFingerprints]]):
    * docs sharing ≥ 2 winnowed fingerprints, the copied-boilerplate /
    * quoted-passage detector that complements MinHash's global
    * resemblance (d2/d5). Oracle replicates the full pipeline —
    * shingle md5s, per-window minima, hot-fingerprint cap, pair
    * counts — in SQL. */
  private val t16Winnowing: Q = (s, dir) =>
    TextAnalysis.winnowOverlapPairs(Tables.documents(s, dir), "doc_id",
      "text", k = 3, w = 4, minShared = 2, maxBucket = 1000)

  /** LLM-T15 (exact twin of t14): exact top-30 corpus tokens — the
    * ground truth the sketch estimates are judged against. */
  private val t15HeavyHittersExact: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token")).limit(30)

  /** LLM-T14: heavy-hitter tokens via a count-min sketch
    * ([[graft.functions.CmsEstimate]] is the probe half; the build half
    * is Spark's one-pass `count_min_sketch` aggregate, ~100 KB at ANY
    * corpus size, map-side merged). Output: top-30 exact tokens with the
    * sketch's estimate alongside — `n_est ≥ n_exact` always, and within
    * eps·N w.h.p. (SketchSpec pins both bounds). Rows-only: CMS hashing
    * isn't oracle-portable; the (token, n_exact) projection is pinned by
    * the t15 twin. At 100 TB the exact-count pass here is what the
    * sketch REPLACES — candidates come from a sample or per-partition
    * heavy hitters, then one broadcast KB answers every probe; the
    * fixture keeps the exact pass so the contract stays checkable. */
  private val t14CmsHeavyHitters: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val sketch = toks.agg(count_min_sketch(col("token"),
      lit(0.001), lit(0.99), lit(42)).as("__sk"))
    t15HeavyHittersExact(s, dir).crossJoin(broadcast(sketch))
      .select(col("token"), col("n_exact"),
        SketchFunctions.cmsEstimate(col("__sk"), col("token")).as("n_est"))
  }

  /** LLM-D12: the same new-vs-base exact dedup with a BLOOM prefilter —
    * bloom-negative docs (the vast majority of a fresh snapshot) never
    * touch a join; only bloom positives pay the exact confirm anti-join.
    * Result is exact (see [[Dedup.bloomNewDocs]]), so the oracle is the
    * plain anti-join. The synthetic corpus has cross-document exact dups
    * (rows match d1's digest groups), so both branches execute. */
  private val d12BloomIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val incoming = docs.where(col("doc_id") % 5 === 0)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    Dedup.bloomNewDocs(incoming, base, "text",
        expectedItems = 100000L, fpp = 0.03)
      .select(col("doc_id"))
  }

  /** L1: Z-order curve index — the write-side clustering key for
    * two-dimensional scan pruning ([[Layout.zValue16]]; `clusterByZ` is
    * the `repartitionByRange` + local-sort step over this value). The
    * oracle replicates the 32-term bit interleave in SQL. */
  private val l1Zorder: Q = (s, dir) =>
    Tables.orders(s, dir).select(col("o_orderkey"),
      Layout.zValue16(pmod(col("o_custkey"), lit(65536L)),
        pmod(col("o_orderkey"), lit(65536L))).as("zval"))

  /** L2: bucketed co-located join — both sides written once with
    * [[Layout.writeBucketed]] (same bucket count, join key as bucket
    * column), then sort-merge-joined with ZERO Exchange on either side:
    * the join's shuffle is paid at write time and amortized over every
    * downstream join (OpsSpec asserts the exchange-free plan). The only
    * shuffle left in this query is the final small `groupBy(segment)`
    * rollup. Values are identical to the plain join, so the oracle is
    * the plain join — bucketing may change only the physical layout. */
  private val l2BucketedJoin: Q = (s, dir) => {
    Layout.writeBucketed(Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "graft_bkt_orders", "o_custkey", nBuckets = 8)
    Layout.writeBucketed(Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment")),
      "graft_bkt_customer", "c_custkey", nBuckets = 8)
    s.table("graft_bkt_orders")
      .join(s.table("graft_bkt_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** LLM-T6: PII redaction — deterministic synthetic PII injected on both
    * engine and oracle sides (the fixture corpus has none), then counted
    * and scrubbed with the shared RE2-safe patterns. */
  private val t6PiiScrub: Q = (s, dir) => {
    val injected = Tables.documents(s, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" call 555-"),
        format_string("%03d", col("doc_id") % 1000), lit("-1234"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, concat(lit(" host 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".1"))).otherwise(lit("")))
      .as("text"))
    injected.select(col("doc_id"),
      regexp_count(col("text"), lit(TextFunctions.emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(TextFunctions.phoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(TextFunctions.ipv4Re)).cast("long").as("n_ips"),
      TextFunctions.redactPii(col("text")).as("redacted"))
  }

  /** LLM-T7: train→test n-gram contamination scan (eval-leak check):
    * every 10th doc is the "eval set", the rest the training corpus. */
  private val t7Contamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextAnalysis.contamination(
      docs.where(col("doc_id") % 10 === 0),
      docs.where(col("doc_id") % 10 =!= 0),
      "doc_id", "text", shingleN = 3)
  }

  /** LLM-X6: concat-and-chunk sequence packing — per source stream, docs
    * in id order are laid into fixed token-budget training blocks; output
    * = which block each doc starts in and at what offset (the standard
    * "concatenate then split every N tokens" LLM pretraining layout).
    * Window is partitioned by source — no global single-partition scan. */
  private val x6PackSequences: Q = (s, dir) => {
    val budget = 512L
    val toks = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("__cum") / budget).cast("long").as("block_id"),
        (col("__cum") % budget).as("block_offset"))
  }

  /** LLM-A13: quality-quantile filter — drop the bottom 25% by quality
    * score WITHIN each language (per-group percentile filtering, the
    * standard corpus-mix curation step). Ranks on the 6-dp-rounded score
    * so engine and oracle sort identical keys. */
  private val a13QuantileFilter: Q = (s, dir) => {
    val t = TextAnalysis.analyze(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang_guess"),
        round(col("quality"), 6).as("quality"))
    val w = Window.partitionBy(col("lang_guess")).orderBy(col("quality"))
    t.withColumn("q_rank", round(percent_rank().over(w), 6))
      .where(col("q_rank") >= 0.25)
  }

  /** A14: per-source distinct-document cardinality via HLL++
    * (`approx_count_distinct`) — the sketch path for corpus accounting at
    * 100 TB, where exact COUNT(DISTINCT digest) means shuffling every
    * digest; HLL partials merge map-side into KB-sized sketches. Approx
    * values aren't oracle-portable → rows-only here; [[a15DistinctExact]]
    * is the oracle-exact twin (same shape, exact distinct), and the
    * ScalaTest pin bounds the HLL estimate against the exact counts. */
  private val a14HllDistinct: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(approx_count_distinct(md5(col("text")), 0.02).as("n_distinct"))

  /** A14-twin: exact per-source distinct-document counts — the
    * DuckDB-checkable form of [[a14HllDistinct]]. */
  private val a15DistinctExact: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(countDistinct(md5(col("text"))).as("n_distinct"))

  /** A27: audience-overlap estimate via KMV sketches
    * ([[graft.functions.KmvAgg]]) — the intersection question HLL (a14)
    * cannot answer: |click ∩ purchase| users without shuffling raw ids.
    * ONE pass builds both sketches as conditional aggregates (null-
    * skipping update), state ≤k longs per side per task; the estimator
    * runs on the two ≤k arrays in a 1-row projection. Rows-only (the
    * hash domain is engine-specific); [[a28OverlapExact]] is the
    * oracle-exact twin, and TopKAggSpec pins estimate-vs-exact bounds
    * plus unsaturated-sketch exactness. */
  private val a27KmvOverlap: Q = (s, dir) => {
    val k = 256
    val ev = Tables.events(s, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), KmvAgg.hash64(col("user_id")).as("h"))
    val sk = ev.agg(
      KmvAgg.kmv(when(col("event_type") === "click", col("h")), k).as("sa"),
      KmvAgg.kmv(when(col("event_type") === "purchase", col("h")), k).as("sb"))
    val (ea, eb, eo) = KmvAgg.overlap(col("sa"), col("sb"), k)
    sk.select(round(ea, 2).as("est_click"), round(eb, 2).as("est_purchase"),
      round(eo, 2).as("est_overlap"))
  }

  /** A27-twin: exact audience overlap — one scan, one distinct-shuffle
    * on user_id (per-user flag fold, then a 1-row sum). */
  private val a28OverlapExact: Q = (s, dir) =>
    Tables.events(s, dir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      .agg(sum(col("c")).cast("long").as("n_click"),
        sum(col("p")).cast("long").as("n_purchase"),
        sum(col("c") * col("p")).cast("long").as("n_overlap"))

  /** LLM-X8: CCNet-style perplexity-bucketed mixture — docs split into
    * head/middle/tail by unigram-LM score terciles, then sampled at
    * per-bucket keep rates (head kept, middle 1/2, tail 1/8 via the md5
    * sixteenths recipe). The tercile cut points are a 1-row broadcast
    * (bounded single-partition agg), never a global rank window. */
  private val x8PplMixture: Q = (s, dir) => {
    // the LM-score table feeds both the percentile agg and the bucketed
    // output — persist it so the token aggregations run once, not twice
    val lm = TextAnalysis.unigramLogProb(Tables.documents(s, dir),
        "doc_id", "text")
      .where(col("n_tokens") > 0)
      .persist()
    val qs = lm.agg(
      percentile(col("avg_neg_logp"), lit(1.0 / 3)).as("__q1"),
      percentile(col("avg_neg_logp"), lit(2.0 / 3)).as("__q2"))
    val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
    lm.crossJoin(broadcast(qs))
      .withColumn("bucket",
        when(col("avg_neg_logp") <= col("__q1"), lit("head"))
          .when(col("avg_neg_logp") <= col("__q2"), lit("middle"))
          .otherwise(lit("tail")))
      .where(when(col("bucket") === "head", lit(true))
        .when(col("bucket") === "middle", nib < "8")
        .otherwise(nib < "2"))
      .select(col("doc_id"), col("bucket"), col("avg_neg_logp"))
  }

  /** LLM-X9: deterministic exact-N sample — carve an eval set of EXACTLY
    * `n` docs by md5-hash order. Unlike rate-based sampling (x1/x7, whose
    * output size is binomial), the count is exact, and the lowering is
    * `TakeOrderedAndProject` (per-partition heaps of size n, no global
    * sort), so it holds at any corpus size. */
  private val x9ExactN: Q = (s, dir) =>
    TopK.global(
      Tables.documents(s, dir).select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("pick_key")),
      Seq(col("pick_key"), col("doc_id")), 200)

  /** W8: recency-weighted (EWMA-style) user-activity feature — per user,
    * per event: the decayed sum of the last 50 event values in time
    * order ([[Features.decayedSum]], alpha = 0.5 — the decay factor is a
    * power of two, so each weight multiply is an exact exponent shift and the
    * engine/oracle folds are bit-identical). One shuffle on the
    * user key sharing the (ts, event_id) sort with every other per-user
    * window op; the frame bound (50) caps both state and weight
    * underflow. No rounding: identical addends folded in identical
    * order are bit-identical doubles on both engines (the 6-dp round
    * tried first actually CAUSED mismatches — the two engines disagree
    * on exact .5 boundaries, which power-of-two weights make common). */
  private val w8Ewma: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-49, 0)
    Tables.events(s, dir).where(col("value").isNotNull)
      .withColumn("__vals", collect_list(col("value")).over(w))
      .select(col("user_id"), col("event_id"),
        Features.decayedSum(col("__vals"), 0.5).as("ewma"))
  }

  /** W9: event-time ROLLING aggregate — trailing-7-day event count and
    * value sum per user at each event, a RANGE frame over epoch-nanos
    * `ts` (the frame is defined by TIME, not row count — w8's
    * `rowsBetween` twin on the time axis; the standard trailing-activity
    * feature a ranker consumes). One shuffle on the user key; the frame
    * bound is a long literal so the whole window stays codegen-friendly
    * and engine-portable. */
  private val w9RollingWindow: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-604800L * 1000000000L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_7d"),
        round(sum(coalesce(col("value"), lit(0.0))).over(w), 6)
          .as("sum_7d"))
  }

  /** W10: SCD Type-2 history build — turn a change log into
    * interval-versioned rows (valid_from, valid_to, is_current), the
    * standard warehouse temporal table that [[graft.ops.AsOf]] joins
    * against and the interval-history sibling of s12's latest-wins
    * snapshot. Each user's events become versions closed by the NEXT
    * change's timestamp (lead window; open interval for the current
    * row). One shuffle on the entity key; ties on ts break by event_id
    * so replays are deterministic. */
  private val w10Scd2: Q = (s, dir) => {
    // µs granularity end to end (DuckDB surfaces the nano timestamps at
    // µs precision, the s12/j3 output contract) — ORDER on the truncated
    // value too, or same-µs neighbors could order differently per engine
    val us = expr("ts div 1000")
    val w = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), us.as("valid_from"),
        lead(us, 1).over(w).as("valid_to"),
        round(coalesce(col("value"), lit(0.0)), 6).as("value"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** LLM-T17: HTML/markup strip — the web-extract preprocessing stage
    * ([[TextFunctions.stripMarkup]]). The fixture corpus is plain text,
    * so deterministic markup is injected identically on both engine and
    * oracle sides (the t6 PII-injection pattern), then stripped; output
    * pins the cleaned text and the tag count removed. */
  private val t17HtmlStrip: Q = (s, dir) => {
    val injected = Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("<div id=\""), col("doc_id").cast("string"), lit("\"><p>"),
      col("text"),
      lit(" &amp; more &lt;escaped&gt;</p><br/></div>")).as("__html"))
    injected.select(col("doc_id"),
      TextFunctions.bind(col("__html")) { h =>
        struct(
          TextFunctions.stripMarkup(h).as("clean_text"),
          regexp_count(h, lit("<[^>]*>")).cast("long").as("n_tags"))
      }.as("__s"))
      .select(col("doc_id"), col("__s.*"))
  }

  /** M9: item-CF recommendation end-to-end — the neighborhood-recall
    * twin of the neural cascade (m7): per-customer candidate scoring by
    * summed co-occurrence cosine over their purchase history
    * ([[ItemCf.recommend]]), seen-item exclusion, top-5. A second
    * independent recall source a production cascade unions with the
    * embedding path (m0/m1). */
  private val m9ItemCfRecommend: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct()
    val co = ItemCf.cooccurrence(Tables.lineitem(s, dir), "l_orderkey",
      "l_partkey", maxBasket = 50, minCo = 2L)
    ItemCf.recommend(ui, co, k = 5)
      .select(col("user"), col("item"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  /** A17: windowed activity anomaly detection — hourly per-user event
    * counts z-scored against the user's own trailing 24 windows (ROWS
    * frame, mean/stddev window aggregates): the standard ops-monitoring
    * gate over behavioral streams (spike/bot detection). Integer `div`
    * for the hour bucket (epoch-nanos exceed 2^53, so double division
    * would mis-bucket); z rounded to 4 dp and flags derived FROM the
    * rounded z so both engines agree at the threshold. */
  private val a17WindowAnomaly: Q = (s, dir) => {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"),
        expr("ts div 3600000000000").as("win"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("win"))
      .rowsBetween(-24, -1)
    counts
      .select(col("user_id"), col("win"), col("n"),
        avg(col("n")).over(w).as("__mu"),
        stddev_samp(col("n")).over(w).as("__sd"))
      .select(col("user_id"), col("win"), col("n"),
        round(col("__mu"), 6).as("mean_prev"),
        when(col("__sd") > 0,
          round((col("n") - col("__mu")) / col("__sd"), 4)).as("z"))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 3, lit(false)))
  }

  /** L3: dynamic partition pruning — the month-partitioned fact table
    * ([[Layout.writePartitioned]]) joined to a selective month dimension
    * (an aggregate subtree, so the IN-set is only known at runtime):
    * Spark plants a DPP subquery and the fact scan reads ONLY the two
    * matching partition directories (OpsSpec pins the
    * `dynamicpruningexpression` and values ≡ the plain join). Completes
    * the layout trio: z-order (l1) for file skipping, bucketing (l2)
    * for shuffle-free joins, partitioning (l3) for directory pruning. */
  private val l3PartitionPruning: Q = (s, dir) => {
    Layout.writePartitioned(Tables.orders(s, dir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM")),
      "graft_part_orders", "month")
    val dim = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("__n"))
      .where(col("month").isin("1995-01", "1995-02"))
      .select(col("month"))
    s.table("graft_part_orders").join(dim, "month")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** X12: popularity-weighted negative sampling — the word2vec unigram
    * table over "parts by basket popularity" ([[Sampling
    * .weightedNegatives]]): distributed prefix-sum ranges, md5 draws,
    * bucketized point-in-range join. The oracle rebuilds ranges with a
    * plain window cumsum (fine at oracle scale) and the identical hex
    * draw arithmetic. */
  private val x12WeightedNegatives: Q = (s, dir) => {
    val items = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("item"))
      .agg(countDistinct(col("l_orderkey")).as("weight"))
    val users = Tables.orders(s, dir)
      .select(col("o_custkey").as("user")).distinct()
    Sampling.weightedNegatives(users, items, k = 4)
  }

  /** A18: expected calibration error over the a10 scored frame
    * ([[Metrics.calibration]], 10 bins) — the monitoring twin of a10:
    * AUC can stay high while calibration drifts. */
  private val a18Calibration: Q = (s, dir) => {
    val scored = Tables.events(s, dir).select(
      (col("value") / 500.0).as("score"),
      when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"))
    Metrics.calibration(scored, "score", "y", nBins = 10)
  }

  /** A19: PSI drift between the even- and odd-user halves of the event
    * value distribution ([[Metrics.psi]], 10 bins over [0, 500)) — the
    * standard feature/score drift alarm; near 0 on the fixture because
    * the halves are iid, which the oracle confirms exactly. */
  private val a19Psi: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    Metrics.psi(ev.where(col("user_id") % 2 === 0),
      ev.where(col("user_id") % 2 === 1), "value",
      nBins = 10, lo = 0.0, hi = 500.0)
  }

  /** A20: Poisson-bootstrap 95% CI for the mean event value
    * ([[Metrics.bootstrapCiMean]], 40 deterministic replicates keyed on
    * event_id) — the error bar every point metric in this family
    * needs. */
  private val a20BootstrapCi: Q = (s, dir) =>
    Metrics.bootstrapCiMean(Tables.events(s, dir), col("event_id"),
      col("value"), nReplicates = 40)

  /** A21: paired-bootstrap A/B delta ([[Metrics.bootstrapCiDelta]]) —
    * two calibrations of the same signal (a18's linear score vs a
    * logistic rescale) compared on shared resamples; the CI answers
    * whether the calibration change shifts the mean score at all. */
  private val a21AbDelta: Q = (s, dir) =>
    Metrics.bootstrapCiDelta(Tables.events(s, dir), col("event_id"),
      col("value") / 500.0,
      lit(1.0) / (lit(1.0) + exp(-(col("value") - 250.0) / 100.0)),
      nReplicates = 40)

  /** A22: two-sample Kolmogorov–Smirnov drift ([[Metrics.ksTest]]) —
    * purchase vs non-purchase event-value distributions. The binless
    * companion to a19's PSI: no edges to pick, catches any CDF
    * divergence; the cumulative counts ride the two-level prefix-sum
    * lowering so no data-sized single partition exists. */
  private val a22KsDrift: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    Metrics.ksTest(ev.where(col("event_type") =!= "purchase"),
      ev.where(col("event_type") === "purchase"), "value")
  }

  /** A29: recommendation exposure diversity
    * ([[Metrics.exposureStats]]) — catalog coverage and exposure Gini of
    * a top-5-per-customer recommendation set (per-customer favorite
    * parts by purchased quantity; quantities are exact small integers,
    * so the ranking can't drift on float-sum order). The long-tail
    * health gauge every production recommender monitors next to its
    * accuracy metrics; the global exposure rank rides the two-level
    * [[graft.ops.PrefixSum]], not a single-partition window. */
  private val a29ExposureGini: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val recs = TopK.perGroup(ui, Seq(col("user")),
      Seq(col("qty").desc, col("item").asc), 5)
    Metrics.exposureStats(recs, "item",
      Tables.part(s, dir).agg(count(lit(1))))
  }

  /** W17: inter-event burstiness — per-user coefficient of variation of
    * consecutive event gaps (CV ≈ 1 for memoryless arrivals, ≫ 1 for
    * bursty humans, ≈ 0 for metronomic bots — the classic
    * Goh–Barabási signal and a first-line bot gate). One lag window on
    * the user key; variance via E[g²]−E[g]² on exact-integer-derived
    * gaps in seconds, clamped at 0 before the sqrt. */
  private val w17Burstiness: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("__gap",
        (col("ts") - lag(col("ts"), 1).over(byUser)).cast("double") / 1e6)
      .where(col("__gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("__gap")), 6).as("mean_gap_s"),
        round(sqrt(greatest(
            avg(col("__gap") * col("__gap")) -
              avg(col("__gap")) * avg(col("__gap")), lit(0.0))) /
          avg(col("__gap")), 6).as("burstiness"))
  }

  /** W16: half-life-decayed activity — per-user recency-weighted event
    * mass Σ 2^(−Δt/halflife) with a 7-day half-life against the corpus
    * max-ts "now": the standard freshness feature a recommender stores
    * beside raw counts (yesterday's burst outweighs last month's). One
    * broadcast scalar + one user-keyed aggregate; exact integer Δt in µs
    * feeds the float pow, output rounded. */
  private val w16DecayActivity: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"))
    ev.crossJoin(broadcast(ev.agg(max(col("ts")).as("__tmax"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(pow(lit(2.0),
          -(col("__tmax") - col("ts")).cast("double") / 6.048e11)), 6)
          .as("decayed_activity"))
  }

  /** A30: recommendation novelty — mean self-information
    * −log₂(p(item)) of the a29 top-5 recommendation set, where p is the
    * item's share of all (user, item) interactions: the long-tail
    * companion to a29's Gini (a recommender can have decent coverage
    * yet still point everyone at head items; novelty catches that).
    * Same shuffles as a29 plus one broadcast scalar. */
  private val a30Novelty: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val recs = TopK.perGroup(ui, Seq(col("user")),
      Seq(col("qty").desc, col("item").asc), 5)
    val pop = ui.groupBy(col("item")).agg(count(lit(1)).as("__cnt"))
    recs.join(pop, "item")
      .crossJoin(broadcast(ui.agg(count(lit(1)).as("__tot"))))
      .select((-log(2.0, col("__cnt").cast("double") / col("__tot")))
        .as("__si"))
      .agg(count(lit(1)).as("n_recs"),
        round(avg(col("__si")), 6).as("mean_novelty"),
        round(min(col("__si")), 6).as("min_novelty"),
        round(max(col("__si")), 6).as("max_novelty"))
  }

  /** A31: average precision (PR-AUC) — [[Metrics.averagePrecision]]
    * over the same scored frame as a10: the metric that stays honest at
    * purchase-rate base rates where ROC-AUC flatters. Threshold-step
    * (sklearn) semantics so score ties are block-exact, not
    * order-dependent. */
  private val a31AveragePrecision: Q = (s, dir) => {
    val scored = Tables.events(s, dir).select(
      (col("value") / 500.0).as("score"),
      when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"))
    Metrics.averagePrecision(scored, "score", "y")
      .select(col("n"), col("n_pos"),
        round(col("average_precision"), 6).as("average_precision"))
  }

  /** A32: decile lift table — the model-evaluation artifact campaign
    * targeting reads: events ranked by score descending, split into 10
    * equal-count bins, each reporting its positive rate and lift over
    * the base rate. The global rank rides [[graft.ops.PrefixSum]]
    * (deterministic via the event-id tiebreak), bin assignment is exact
    * integer arithmetic ⌊rank·10/n⌋ — no ntile, whose tie placement is
    * engine-dependent. */
  private val a32LiftDeciles: Q = (s, dir) => {
    val scored = Tables.events(s, dir).select(col("event_id"),
      (-col("value") / 500.0).as("__neg"),
      when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("__y"))
    val ranked = graft.ops.PrefixSum.ranges(scored,
      Seq("__neg", "event_id"), lit(1L), "__lo", "__hi")
    val n = broadcast(scored.agg(count(lit(1)).as("__n"),
      sum(col("__y")).as("__pos")))
    ranked.crossJoin(n)
      .withColumn("decile", ((col("__lo") * 10 -
        pmod(col("__lo") * 10, col("__n"))) / col("__n")).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__y")).cast("long").as("n_pos"),
        round(sum(col("__y")) / count(lit(1)), 6).as("response_rate"),
        round((sum(col("__y")) / count(lit(1))) /
          (first(col("__pos")) / first(col("__n"))), 6).as("lift"))
  }

  /** W18: session conversion rates — w6's gap sessions rolled up per
    * user: how many browse sessions exist and how many contain a
    * purchase, the session-level success metric the funnel (w12) views
    * event-level. Same one-shuffle session build, one extra rollup. */
  private val w18SessionConversion: Q = (s, dir) => {
    val gapUs = 3600L * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"),
        col("event_type"))
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts") - col("__prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("__conv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("__conv")).as("n_converted"),
        round(sum(col("__conv")).cast("double") / count(lit(1)), 6)
          .as("conversion_rate"))
  }

  /** W15: churn/return label generation — for every event, whether the
    * user produced ANOTHER event within the following 7 days (the next
    * event's gap decides: it is the earliest later event). The label a
    * retention model trains on, derived with one lead window per user —
    * the labeling twin of w13's aggregate retention view. */
  private val w15ChurnLabels: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("__next", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("__next") - col("ts")).as("next_gap_us"),
        (col("__next").isNotNull &&
          col("__next") - col("ts") <= 7L * 86400 * 1000 * 1000)
          .as("returns_7d"))
  }

  /** X18: mixup augmentation pairing — each embedding convexly combined
    * with a hash-shuffled partner (rank i pairs with i+1 mod n in
    * md5-of-id order — a deterministic random permutation), λ ∈
    * [0.3, 0.7) from the hash: the vicinal-risk augmentation recipe
    * (Zhang et al. 2018) as a relational transform. The global rank
    * rides [[DictIndex.denseIds]]' two-level lowering, so no
    * single-partition window; output pins the pairing, λ, label pair
    * and the mixed-vector checksum λ·Σa + (1−λ)·Σb. */
  private val x18Mixup: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      col("label").cast("long").as("label"),
      md5(col("vec_id").cast("string")).as("__h"))
    val withIdx = emb.join(DictIndex.denseIds(emb, "__h", "__idx"), "__h")
    val sumV: Column => Column =
      v => aggregate(v, lit(0.0), (acc, x) => acc + x)
    val lam = (conv(substring(col("__h"), 1, 4), 16, 10).cast("long") % 400)
      .cast("double") / 1000.0 + 0.3
    val left = withIdx
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("__n"))))
      .select(pmod(col("__idx") + 1, col("__n")).as("__idx"),
        col("vec_id").as("vec_id_a"),
        sumV(col("v")).as("__sa"), col("label").as("label_a"), col("__h"))
    val right = withIdx.select(col("__idx"),
      col("vec_id").as("vec_id_b"), sumV(col("v")).as("__sb"),
      col("label").as("label_b"))
    left.join(right, "__idx")
      .select(col("vec_id_a"), col("vec_id_b"),
        round(lam, 6).as("lam"), col("label_a"), col("label_b"),
        round(lam * col("__sa") + (lit(1.0) - lam) * col("__sb"), 6)
          .as("mix_sum"))
  }

  /** X20: rank normalization — each event value mapped to its global
    * percentile rank (rank−1)/(n−1) ∈ [0,1]: the distribution-free
    * feature transform (rank-gauss minus the probit) tabular trainers
    * apply to heavy-tailed inputs. Global rank via
    * [[graft.ops.PrefixSum]] with the event-id tiebreak — deterministic
    * and never a single-partition sort. */
  private val x20RankNormalize: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("value"))
    graft.ops.PrefixSum.ranges(ev, Seq("value", "event_id"), lit(1L),
        "__lo", "__hi")
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("__n"))))
      .select(col("event_id"), round(col("value"), 6).as("value"),
        round(col("__lo").cast("double") / (col("__n") - 1), 6)
          .as("pct_rank"))
  }

  /** X17: class-balanced oversampling — deterministic repetition
    * factors ⌈maxN/n_c⌉ per label class, each row emitted `factor`
    * times with a copy index (`explode(sequence)`): the
    * class-imbalance fix a classifier-training pipeline applies when
    * downsampling the majority would starve it. The ≤|classes|-row
    * factor table broadcasts; no shuffle touches the replicated rows. */
  private val x17Oversample: Q = (s, dir) => {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val counts = base.groupBy(col("label")).agg(count(lit(1)).as("__n"))
    val factors = counts
      .crossJoin(broadcast(counts.agg(max(col("__n")).as("__max"))))
      .select(col("label"),
        ceil(col("__max").cast("double") / col("__n")).cast("long")
          .as("__f"))
    base.join(broadcast(factors), "label")
      .select(col("vec_id"), col("label"),
        explode(sequence(lit(1L), col("__f"))).as("copy"))
  }

  /** L4: CDC merge-upsert ([[Layout.mergeUpsert]]) — MERGE INTO
    * semantics on plain parquet: a 1992-97 order snapshot absorbs a
    * change set of inserts (1998+ orders), full-row updates (+1000 on
    * keys ≡ 3 mod 10) and deletes (keys ≡ 7 mod 10), with provenance.
    * The nightly-upsert primitive an incremental 100 TB pipeline runs;
    * against an [[Layout.writeBucketed]] base the base-side shuffle
    * disappears (l2's plan pin). */
  private val l4MergeUpsert: Q = (s, dir) => {
    val base = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) <= 1997)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val changes = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), lit(false).as("__is_del"))
      .unionAll(base.where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000).as("o_totalprice"),
          lit(false).as("__is_del")))
      .unionAll(base.where(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), lit(true).as("__is_del")))
    Layout.mergeUpsert(base, changes, Seq("o_orderkey"),
        col("__is_del"), provenance = Some("src"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("src"))
  }

  /** G10: majority-vote label propagation
    * ([[Graph.labelPropagation]]) — 3 synchronous LPA rounds over the
    * bought-together graph (parts sharing an order; order baskets are
    * bounded, so the pair build is linear). Community structure for the
    * co-purchase graph, distinct from d7's connected components: min
    * labels merge everything reachable, majority voting keeps dense
    * groups apart. Oracle replays all 3 rounds relationally. */
  private val g10LabelProp: Q = (s, dir) => {
    // distincts carry an explicit partition-count floor: AQE coalesces
    // these ~10 MB shuffles below the core count and serializes the
    // final hash aggregate (r8 A/B: ui distinct 2.5 s -> 0.7 s; at
    // cluster scale the shuffle is this wide anyway). The pair set is
    // distinct with pa<pb by construction, so labelPropagation skips
    // its symmetrize-side distinct (edgesDistinct = true)
    val p = s.sparkContext.defaultParallelism
    val ui = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .repartition(p, col("b"), col("i")).distinct()
    val pairs = ui.as("x").join(ui.as("y"), "b")
      .where(col("x.i") < col("y.i"))
      .select(col("x.i").as("pa"), col("y.i").as("pb"))
      .repartition(p, col("pa"), col("pb")).distinct()
    Graph.labelPropagation(pairs, "pa", "pb", rounds = 3,
        edgesDistinct = true)
      .select(col("pa").as("item"), col("label"))
  }

  /** X16: skip-gram pair extraction (item2vec training data) — each
    * customer's time-ordered purchase sequence yields (center, context)
    * item pairs within a ±2-position window, the exact corpus a
    * word2vec-family item-embedding trainer consumes. Lowered LINEARLY:
    * each center row explodes into its 4 probe positions and equi-joins
    * on (customer, position) — never a per-customer self-join, so a
    * hyperactive customer costs 4× rows, not |history|². Both shuffles
    * key on the customer (window + join), then one (center, context)
    * aggregate with the inverse-distance weight word2vec uses. */
  private val x16SkipgramPairs: Q = (s, dir) => {
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate"), col("o_orderkey"),
        col("l_linenumber"), col("item"))
    val seq = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      // (orderkey, linenumber) is NOT unique in the synthetic fixture
      // (driver data is TPC-H-ish, not TPC-H): l_partkey joins the sort
      // key so tied rows carry the same item and the sequence is
      // deterministic
      .select(col("o_custkey").as("cust"), col("o_orderdate"),
        col("o_orderkey"), col("l_linenumber"),
        col("l_partkey").as("item"))
    // forward neighbors via lead, then both orientations: a (center,
    // context) pair at distance d forward IS the (context, center) pair
    // at distance d backward — so two lead columns replace the
    // position-probe join (one window shuffle + one aggregate instead
    // of window + join + aggregate over 4x probe rows)
    val fwd = seq.select(col("cust"), col("item"),
      lead(col("item"), 1).over(w).as("__n1"),
      lead(col("item"), 2).over(w).as("__n2"))
    fwd.select(explode(array(
        struct(col("item").as("center"), col("__n1").as("context"),
          lit(1).as("d")),
        struct(col("__n1").as("center"), col("item").as("context"),
          lit(1).as("d")),
        struct(col("item").as("center"), col("__n2").as("context"),
          lit(2).as("d")),
        struct(col("__n2").as("center"), col("item").as("context"),
          lit(2).as("d")))).as("p"))
      .select(col("p.*"))
      .where(col("center").isNotNull && col("context").isNotNull)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"),
        round(sum(lit(1.0) / col("d")), 6).as("w"))
  }

  /** G11: triangle counting on the co-purchase graph via degree
    * orientation — THE scale-safe formulation: orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, build
    * wedges only from each node's outgoing edges (out-degree is
    * O(√|E|) after orientation regardless of hub size), and close them
    * against the oriented edge list. A naive wedge join on raw
    * adjacency explodes on hubs; orientation bounds the quadratic step,
    * which is why every production triangle counter (COST, GraphX's
    * TriangleCount) orients first. Output: one row, total triangles +
    * oriented-wedge count (the closure ratio is the global clustering
    * coefficient's numerator/denominator). */
  private val g11Triangles: Q = (s, dir) => {
    // one order-year window (the g7 posture): triangle counting is the
    // super-linear step of the pipeline, so production bounds the graph
    // to the recent interaction window before orienting
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val und = ui.as("x").join(ui.as("y"), "b")
      .where(col("x.i") < col("y.i"))
      .select(col("x.i").as("u"), col("y.i").as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).unionAll(
        und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // keep the target's degree: wedges must be ordered by the SAME
    // (degree, id) total order the orientation uses, or the closing
    // edge of a triangle whose degree order disagrees with id order
    // would be looked up in the wrong direction
    // persist: `oriented` feeds three consumers (both wedge sides + the
    // closure semi-join); unpersisted, each re-expands the whole
    // ui→und→deg lineage and the static plan balloons to ~150 shuffles
    // (plan audit, PLANS.md "Round-5 continuation (second session)") —
    // cached, the first stage fills it and the rest reuse.
    // Pinned at the session shuffle width on the wedge key `s`
    // ([[graft.ops.Par.byKey]]): the cached frame otherwise inherits the
    // AQE-coalesced 1-partition layout of the small deg-join exchange,
    // and the wedge SELF-JOIN — the generate-heavy O(Σ outdeg²) step the
    // orientation exists to bound — ran single-task downstream of it
    // (measured ~1 s serialized across 5 one-task stages); both wedge
    // sides reuse the pinned `s` layout, so no new exchange is added.
    val oriented = graft.ops.Par.byKey(und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s"), col("e.t"), col("e.dt")), col("s"))
      .persist()
    val wedges = oriented.as("e1").join(oriented.as("e2"), "s")
      .where(col("e1.dt") < col("e2.dt") ||
        (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t")))
      .select(col("e1.t").as("a"), col("e2.t").as("b"))
    val tri = wedges.join(oriented.select(col("s").as("a"),
        col("t").as("b")), Seq("a", "b"), "left_semi")
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
  }

  /** G12: k-core peeling (k = 3, 3 synchronous rounds) on the g11
    * co-purchase window — the graph-cleanup stage run before community
    * or embedding work: peripheral nodes (degree < k) drop, degrees
    * recompute on the induced subgraph, repeat. Bounded rounds like
    * g10 (full decomposition iterates to fixpoint; 3 rounds is the
    * production compromise and keeps the oracle unrollable). Each
    * round: one degree aggregate + two semi-joins on
    * [[graft.ops.Iterate.rounds]]. Output: surviving (item, degree). */
  private val g12KCore: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val (fin, _) = graft.ops.Iterate.rounds(
      ui.as("x").join(ui.as("y"), "b")
        .where(col("x.i") < col("y.i"))
        .select(col("x.i").as("u"), col("y.i").as("v"))
        .distinct(), 3, snapInit = true) { (edges, _) =>
      val keep = degrees(edges).where(col("d") >= 3).select(col("n"))
      Some(edges
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
    }
    degrees(fin).select(col("n").as("item"), col("d").as("degree"))
  }

  /** G7: Swing item similarity ([[ItemCf.swingPairs]]) — user-pair
    * damped co-occurrence over the same "parts bought together" baskets
    * as g6; the pair (i,j) score sums 1/(α + |shared items of (u,v)|)
    * over supporting user pairs. Oracle replicates all three relational
    * stages (capped user-pair generation, shared counts, damped
    * rollup). */
  private val g7Swing: Q = (s, dir) => {
    // similarity is built on a recent interaction window (one order
    // year), the production posture — Swing is user-pair quadratic, so
    // the window is the primary cost lever alongside maxUsersPerItem
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
    ItemCf.swingPairs(ui, "user", "item", alpha = 1.0,
      maxUsersPerItem = 200)
  }

  /** M10: item-CF backtest — the pre-deploy evaluation a real team runs:
    * build the similarity model on the past (orders before 2000),
    * recommend ([[ItemCf.recommend]], k=5), score against held-out
    * future purchases. Output: eval-user count, hit-rate@5 (≥1 hit),
    * precision@5 (hit recs / recs), catalog coverage (distinct
    * recommended / distinct train items). Every stage is the already-
    * verified g6/m9 machinery on a time slice, so the backtest is one
    * more composition, not new math. */
  private val m10ItemCfBacktest: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    def inter(pred: Column) = o.where(pred)
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct()
    // train on the two years before the split (the recency posture g7
    // also uses — the similarity model's cost lever is the window)
    val train = inter(year(col("o_orderdate")).between(1998, 1999))
    val test = inter(year(col("o_orderdate")) >= 2000)
    val trainBaskets = o.where(year(col("o_orderdate")).between(1998, 1999))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"))
    val recs = ItemCf.recommend(train,
      ItemCf.cooccurrence(trainBaskets, "l_orderkey", "l_partkey",
        maxBasket = 50, minCo = 2L), k = 5)
    // one pass over recs: eval-flag and hit-flag ride along as left
    // joins so the (expensive) recommendation pipeline runs once — the
    // coverage numerator aggregates the SAME rows unfiltered
    val marked = recs
      .join(test.select(col("user")).distinct()
        .withColumn("__eval", lit(1L)), Seq("user"), "left")
      .join(test.select(col("user"), col("item"), lit(1L).as("__hit")),
        Seq("user", "item"), "left")
    marked.agg(
        countDistinct(when(col("__eval") === 1, col("user")))
          .as("n_eval_users"),
        count(when(col("__eval") === 1, lit(1))).as("__n_recs"),
        sum(when(col("__eval") === 1, coalesce(col("__hit"), lit(0L)))
          .otherwise(lit(0L))).as("__n_hits"),
        countDistinct(when(col("__eval") === 1 && col("__hit") === 1,
          col("user"))).as("__n_hit_users"),
        countDistinct(col("item")).as("__n_rec_items"))
      .crossJoin(train.agg(countDistinct(col("item"))
        .as("__n_train_items")))
      .select(col("n_eval_users"),
        round(col("__n_hit_users").cast("double") / col("n_eval_users"),
          6).as("hit_rate"),
        round(col("__n_hits").cast("double") / col("__n_recs"), 6)
          .as("precision_at_5"),
        round(col("__n_rec_items").cast("double") /
          col("__n_train_items"), 6).as("coverage"))
  }

  /** LLM-T18: URL canonicalization — the web-corpus dedup key
    * ([[TextFunctions.canonicalUrl]]): scheme/case/www/tracking-param/
    * trailing-slash variants of the same page collapse to one key.
    * Deterministic URL variants are synthesized per doc on both engine
    * and oracle sides (the t6/t17 injection pattern); output pins the
    * canonical key, host, and the collapse (distinct canon keys ≪
    * distinct raw urls). */
  private val t18UrlCanonical: Q = (s, dir) => {
    val raw = Tables.documents(s, dir).select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
      when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com/docs/"),
      (col("doc_id") % 100).cast("string"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
        .otherwise(lit(""))).as("url"))
    raw.select(col("doc_id"), col("url"),
      TextFunctions.canonicalUrl(col("url")).as("canon_url"),
      TextFunctions.urlHost(col("url")).as("host"))
  }

  /** LLM-X11: exact-N PER-GROUP deterministic sample — each source keeps
    * exactly min(N, |source|) docs, picked by md5 hash order, computed
    * with the native k-capped-heap aggregate ([[TopK.perGroupAgg]]): one
    * shuffle of ≤N rows per (source, map task) and NO sort anywhere —
    * the scale-right form of per-stratum fixed-size sampling (the window
    * lowering of `x3_stratified` rate-samples; this one pins the exact
    * count). Hash order is descending because the aggregate keeps the
    * lexicographically largest structs — equally uniform. */
  private val x11ExactNPerGroup: Q = (s, dir) =>
    TopK.perGroupAgg(
      Tables.documents(s, dir).select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("pick_key")),
      Seq(col("source")), Seq(col("pick_key")), Seq(col("doc_id")), 30)
      .select(col("source"), col("rank"), col("doc_id"))

  /** LLM-X14: preference-pair mining ([[Sampling.preferencePairs]]) —
    * the DPO/RLHF pairwise training-data build: per user, the 3
    * strongest-signal events paired against the 3 weakest, kept when
    * the gap clears 200. Both sides are capped per key by the native
    * heap aggregate BEFORE pairing, so the pair stage is a bounded 3×3
    * join per user at any activity skew. */
  private val x14PrefPairs: Q = (s, dir) =>
    Sampling.preferencePairs(
      Tables.events(s, dir).where(col("value").isNotNull),
      "user_id", "event_id", "value", k = 3, minGap = 200.0)

  /** LLM-X13: deterministic shard assignment + within-shard order
    * ([[Sampling.shardAssign]], 8 shards over doc_id) — the reproducible
    * global shuffle a distributed dataloader reads. */
  private val x13ShardAssign: Q = (s, dir) =>
    Sampling.shardAssign(
        Tables.documents(s, dir).select(col("doc_id")), col("doc_id"), 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** LLM-X15: curriculum ordering ([[Sampling.curriculumOrder]], 8
    * equal-width n_chars bins) — easy→hard interleaved training order;
    * within-bin ranks via the PrefixSum two-level lowering, bin offsets
    * from the cheap-lineage bucket histogram, so no data-sized window
    * partition at any corpus width. */
  private val x15Curriculum: Q = (s, dir) =>
    Sampling.curriculumOrder(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", nBuckets = 8)

  /** LLM-X10: per-source token-budget fill — keep docs (in deterministic
    * md5 order) until each source's running token total reaches the
    * budget: the "fill k tokens per domain" step of corpus mixing. One
    * shuffle on the source key; the running sum is a spillable window.
    * Skewed giant sources sort fully within their partition — at real
    * scale, pre-prune with a per-source hash threshold estimated from
    * budget / avg-tokens-per-doc, then exact-fill the survivors. */
  private val x10TokenBudget: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("__h"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= 600)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** LLM-D3: SimHash near-dup pairs ([[Dedup.simHashPairsPortable]]) —
    * 2 bit-bands over the portable 32-bit signature, candidates sharing a
    * 16-bit band verified by exact Hamming ≤ 1 (pigeonhole-exact: any pair
    * within 1 differing bit shares a clean band). 16-bit band keys keep
    * random collisions to ~1/65536 so candidate volume tracks true
    * near-dup clusters, not corpus size² — 8-bit keys measured 1.4-1.5×
    * the runtime on band noise (PLANS.md round-8 banding A/B; an earlier
    * unrecorded "3×" claim did not reproduce). d8 proves the signature math against
    * DuckDB; this proves the banding + popcount-verify pipeline built on
    * it. The 64-bit xxhash64 signature ([[Dedup.simHash64]]) stays the
    * production path, pinned by LlmOpsSpec. */
  private val d3SimHash: Q = (s, dir) =>
    Dedup.simHashPairsPortable(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 1, bands = Dedup.simHashBandPlan(1))

  /** LLM-D8: md5-portable 32-bit SimHash signature dump (proves the
    * vote/sign-bit math against an independent engine; d3 builds the
    * near-dup pair pipeline on this same signature). */
  private val d8SimhashPortable: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simHash32Portable(col("text")).as("sig"))

  /** LLM-D9: C4-style corpus-level repeated-chunk scrub (3-token aligned
    * chunks occurring ≥3× corpus-wide are dropped from every doc). */
  private val d9ChunkScrub: Q = (s, dir) =>
    Dedup.scrubRepeatedChunks(Tables.documents(s, dir), "doc_id", "text",
      n = 3, maxOccurs = 3)

  /** LLM-D14: cross-document duplicated spans
    * ([[Dedup.duplicateSpans]], k = 6 tokens) — the relational form of
    * exact-substring dedup (Lee et al. 2022): maximal token runs whose
    * every 6-window also appears in another document, found by
    * shingle-hash grouping + per-doc island merge instead of a
    * non-distributable suffix array. */
  private val d14DupSpans: Q = (s, dir) =>
    Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
      k = 6)

  /** LLM-D15: shingle-containment pairs ([[Dedup.containmentPairs]]) —
    * the asymmetric dedup signal: |A∩B| / min(|A|,|B|) scores an excerpt
    * inside a longer parent ~1.0 where Jaccard caps at the size ratio
    * (d4 at 0.15 can never surface a 3×-length mismatch). Fixture: every
    * fifth doc gains a first-third excerpt twin (ids +1,000,000), the
    * quotation/expanded-rewrite population web dedup actually meets. */
  private val d15Containment: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val excerpts = Tables.documents(s, dir)
      .where(col("doc_id") % 5 === 2)
      .select((col("doc_id") + 1000000).as("doc_id"),
        col("text").substr(lit(1),
          (length(col("text")) / 3).cast("int")).as("text"))
    Dedup.containmentPairs(docs.unionAll(excerpts), "doc_id", "text",
        shingleN = 3, minContainment = 0.5, maxBucket = 1000)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** LLM-T26: per-doc character entropy — the gibberish/encoding-junk
    * detector quality pipelines run beside t1's ratio signals (random
    * bytes score ≈ 8 bits, natural English ≈ 4, repeated filler → 0;
    * both tails get cut). Explode to (doc, char) then two aggregates
    * keyed by (doc, char) / doc — partial-aggregated, shuffle rows
    * bounded by |doc|·|alphabet|. Entropy in bits from exact integer
    * counts, so both engines round the same doubles. */
  private val t26CharEntropy: Q = (s, dir) => {
    val freq = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("__c"))
      .where(length(col("__c")) > 0)
      .groupBy(col("doc_id"), col("__c")).agg(count(lit(1)).as("__n"))
    freq.groupBy(col("doc_id"))
      .agg(sum(col("__n")).as("__tot"),
        sum(col("__n") * log(2.0, col("__n"))).as("__nlogn"))
      .select(col("doc_id"), col("__tot").as("n_chars"),
        round(log(2.0, col("__tot")) - col("__nlogn") / col("__tot"), 6)
          .as("char_entropy"))
  }

  /** LLM-T27: per-doc memorization exposure — the share of a doc's
    * distinct 5-gram shingles that also occur in ≥ 1 OTHER document
    * (document frequency ≥ 2): the doc-level rollup of d14's span
    * analysis and the per-example duplication risk score train-set
    * audits report (Lee et al. 2022 §4). Shingles hash to 64 bits
    * before the shuffle (d4's argument); one df aggregate + one join
    * back on the same shingle partitioning + one doc rollup. */
  private val t27Memorization: Q = (s, dir) => {
    val inv = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        TextFunctions.shingles(col("text"), 5))).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("sh"))
    val df = inv.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    inv.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"),
        round(sum(when(col("__df") >= 2, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("memorization_ratio"))
  }

  /** LLM-T8: Gopher-style within-doc repetition signals. */
  private val t8Repetition: Q = (s, dir) =>
    TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")

  /** LLM-X7: domain-mixture sampling — resample the corpus toward target
    * per-language weights at ~half the original size. */
  private val x7SourceMix: Q = (s, dir) =>
    Sampling.mixtureSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15), targetFrac = 0.5)
      .select(col("doc_id"), col("lang"))

  /** SIM6: PQ asymmetric-distance top-k (the IVF-PQ scan): corpus stored
    * as 4-byte PQ codes, each query builds a 4×4 lookup table of
    * subspace distances once ([[VectorOps.pqAdcLut]]), and ranking reads
    * codes only — at 100 TB the scan touches m bytes per item instead of
    * 4·d, and the query batch broadcasts. Codebooks are the same
    * data-derived literals as v3 (corpus side), so the oracle rebuilds
    * the whole pipeline — codes, LUTs, summed lookups, rank — in SQL. */
  private val sim6PqAdc: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 10)
    val (_, cb) = SimSearch.mdCodebooks(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 4)
    val codes = corpus.select(col("vec_id").as("item_id"),
      VectorOps.pqCodes(VectorOps.pqAssign(col("embedding"), cb))
        .as("__codes"))
    val luts = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        VectorOps.pqAdcLut(col("embedding"), cb).as("__lut"))
    val scored = codes.crossJoin(broadcast(luts))
      .select(col("query_id"), col("item_id"),
        VectorOps.pqAdcDist(col("__lut"), col("__codes")).as("adc_dist"))
    TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("item_id")), 5)
      .select(col("query_id"), col("item_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** SIM8: MMR diversified re-ranking ([[SimSearch.mmrRerank]], 20
    * candidates → 5 picks, λ = 0.5) — the rerank stage after BM25/ANN
    * recall; greedy steps are driver-side plan steps, never data
    * fetches, and every per-step frame is candidate-pool-bounded. */
  private val sim8Mmr: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.mmrRerank(emb.where(col("vec_id") < 10),
      emb.where(col("vec_id") >= 10), "vec_id", "embedding",
      "vec_id", "embedding", nCand = 20, k = 5, lam = 0.5)
  }

  /** SIM7: composed IVF-PQ ANN ([[SimSearch.ivfPqTopKPortable]], 8 cells
    * probe 4, 4×16-dim codebooks) — cell pruning bounds which items are
    * scored, PQ codes bound what is read per item; the layout a
    * billion-vector deployment stores on disk. Same corpus/query split
    * and codebook derivation as sim6, so the oracle reuses its proven
    * SQL machinery plus sim5's cell logic. */
  private val sim7IvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 10)
    val (_, cb) = SimSearch.mdCodebooks(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 4)
    SimSearch.ivfPqTopKPortable(emb.where(col("vec_id") < 10), corpus,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 4, codebooks = cb)
      .select(col("query_id"), col("item_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** SIM33: RESIDUAL IVF-PQ — IVFADC proper ([[SimSearch
    * .ivfPqResidualTopK]]; Jégou et al. TPAMI 2011 §III.C). sim7
    * quantizes raw vectors, so its 4-byte codes re-encode the coarse
    * position the cell id already names; this variant encodes the
    * residual `y − c(y)` and builds each query's ADC lookup table per
    * PROBED CELL from `q − c`, approximating ‖(q−c) − r‖² — the layout
    * every billion-scale deployment actually stores. Same corpus/query
    * split and cell derivation as sim7; codebooks are the RESIDUALS of
    * md5-ordered corpus vectors 9–12 (portable: the oracle
    * rebuilds cells → residuals → codebooks → per-cell LUTs → ranks in
    * SQL). LlmOpsSpec measures the fidelity gain vs sim7's raw-PQ form
    * on the fixture corpus. */
  private val sim33IvfPqResidual: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 10)
    val pull = SimSearch.mdPull(corpus, "vec_id", "embedding", 12)
    val cents = pull.take(8)
    // residuals of md5-ordered corpus vectors 9–12 w.r.t. their assigned
    // cells — the same data-derived-literal trick as sim6/sim7, shifted
    // to residual space so the codebooks quantize what the codes actually
    // store. Vectors 1–8 are the centroids themselves: their residuals,
    // and so every codebook entry, would be 0
    import s.implicits._
    val res4: Seq[Seq[Double]] = pull.drop(8).toDF("__cv")
      .select(SimSearch.residual(col("__cv"),
        SimSearch.assignCell(col("__cv"), cents), cents))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cb = SimSearch.pqSplit(res4, dim = 64, m = 4)
    SimSearch.ivfPqResidualTopKWithCents(emb.where(col("vec_id") < 10),
        corpus, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 4, cents = cents, codebooks = cb)
      .select(col("query_id"), col("item_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** V3: product quantization — codes + total squared quantization error
    * per vector ([[VectorOps.pqAssign]]; m=4 subspaces × 16 dims, k=4
    * centroids). The query's codebooks are data-derived literals (the
    * first 4 corpus vectors in md5 order — same determinism trick as
    * sim5's literal centroids) so the oracle can rebuild the identical
    * codebooks in SQL; the production path fits real codebooks once via
    * [[VectorOps.pqTrain]] (MiscApiSpec covers it). */
  private val v3PqEncode: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val (_, cb) = SimSearch.mdCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 4)
    val assigned = VectorOps.pqAssign(col("embedding"), cb)
    emb.select(col("vec_id"), assigned.as("__a"))
      .select(col("vec_id"), VectorOps.pqCodes(col("__a")).as("__codes"),
        VectorOps.pqSqError(col("__a")).as("sq_err"))
      .select(col("vec_id") +:
        (0 until 4).map(i =>
          element_at(col("__codes"), i + 1).cast("long").as(s"c$i")) :+
        col("sq_err"): _*)
  }

  /** V4: PQ encode with TRAINED codebooks — [[VectorOps.pqTrain]] fits
    * real per-subspace k-means centers once (fit-once posture, then
    * inlined as literals into the same zero-shuffle [[VectorOps.pqAssign]]
    * expression tree). Rows-only fast-path twin of the oracle-exact
    * literal-codebook v3 (k-means centers aren't SQL-portable); OpsSpec
    * asserts trained total sq_err ≤ v3's literal-codebook sq_err
    * corpus-wide, pinning that the training genuinely helps. Same scalar
    * output schema as v3 (vec_id, c0..c3, sq_err). */
  private val v4PqTrained: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cb = VectorOps.pqTrain(emb, "embedding", dim = 64, m = 4, k = 4)
    val assigned = VectorOps.pqAssign(col("embedding"), cb)
    emb.select(col("vec_id"), assigned.as("__a"))
      .select(col("vec_id"), VectorOps.pqCodes(col("__a")).as("__codes"),
        VectorOps.pqSqError(col("__a")).as("sq_err"))
      .select(col("vec_id") +:
        (0 until 4).map(i =>
          element_at(col("__codes"), i + 1).cast("long").as(s"c$i")) :+
        col("sq_err"): _*)
  }

  /** V5: Johnson–Lindenstrauss sign-matrix projection
    * ([[VectorOps.randomProject]], 64→16 dims) — the dimension cut in
    * front of an ANN scan (4× less to read per candidate, norms and
    * inner products preserved in expectation). The ±1 matrix derives
    * from md5 parity, so the oracle rebuilds it exactly in SQL; the
    * engine side inlines it as plan-time literals — zero shuffle,
    * whole-stage codegen. */
  private val v5RandomProjection: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    emb.select(col("vec_id"),
        VectorOps.randomProject(col("embedding"), 64, 16).as("__y"))
      .select(col("vec_id") +:
        (0 until 16).map(j =>
          round(element_at(col("__y"), j + 1), 6).as(s"r$j")): _*)
  }

  /** LLM-V2: per-vector affine int8 quantization + max reconstruction
    * error (the 4× storage-reduction path for 100 TB embedding tables). */
  private val v2QuantizeEmb: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = VectorOps.quantizeInt8(col("embedding"))
    emb.select(col("vec_id"), q.as("__q"),
        VectorOps.dequantize(q).as("__r"),
        col("embedding").cast("array<double>").as("__v"))
      .select(col("vec_id"),
        element_at(col("__q").getField("codes"), 1).cast("long").as("q0"),
        aggregate(col("__q").getField("codes"), lit(0.0), (a, c) => a + c)
          .cast("long").as("q_sum"),
        round(col("__q").getField("mn"), 9).as("mn"),
        round(col("__q").getField("scale"), 9).as("scale"),
        round(aggregate(zip_with(col("__v"), col("__r"),
            (x, y) => abs(x - y)), lit(0.0),
          (a, e) => greatest(a, e)), 9).as("max_err"))
  }

  /** LLM-D2: MinHash-LSH near-dup pairs at the LOW-THRESHOLD operating
    * point (j = 0.20 vs d5's 0.30) — the planner answers with
    * singleton bands ((16, 1): at 16 hashes nothing coarser reaches the
    * 80% target below j ≈ 0.5), so the d2/d5 contrast is now the honest
    * one: at a short signature the recall knob saturates and the REAL
    * trade is signature length (lengthen + re-plan, the d34 replan
    * loop), not hand-tuned bands. Runs on the md5-portable signature so
    * the DuckDB oracle replays scan + banding exactly; the xxhash64
    * production kernel ([[Dedup.minHashPairs]]) is pinned bit-identical
    * to its HOF spec by LlmOpsSpec. */
  private val d2MinHashPairs: Q = (s, dir) =>
    Dedup.minHashPairsPortableAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 16, minJaccardPct = 20,
        targetDetectPct = 80)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  /** LLM-S2: LSH-bucketed ANN top-k (scale path of m1_cosine_topk). */
  private val sim2LshTopk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.lshTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, nBits = 8)
      .select(col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** MM1: REAL image feature extraction
    * ([[multimodal.RealCodecs.imageQuadFeatures]]): PNG encode → ImageIO
    * decode → 2×2 quadrant-pooled grayscale sums, the pooled-patch
    * feature shape of an image front-end. Integer-exact (gray = r+g+b
    * summed per 8×8 quadrant), so the oracle replays the pixel formula
    * per (x, y) and any stride/channel-order decode bug breaks the
    * hash — the mm5/mm6 trick, now carrying the feature path too
    * (retired the round-≤8 DETERMINISTIC-FAKE byte-mix kernel). */
  private val mm1MediaFeatures: Q = (s, dir) =>
    multimodal.RealCodecs.imageQuadFeatures(
      Tables.documents(s, dir), "doc_id")

  /** G4: full LightGCN forward (2 layers + skip-connection average) on the
    * bidirectional supplier↔part graph. */
  private val g4LightGcn: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
    // bipartite: offset part ids, add reverse edges (reference
    // `lightgcn/utils.py:86-100`)
    val edges = e.select(col("s").as("src"), (col("p") + 1000000L).as("dst"))
      .union(e.select((col("p") + 1000000L).as("src"), col("s").as("dst")))
    val nodes = Tables.supplier(s, dir)
      .select(col("s_suppkey").cast("long").as("id"), array(col("s_acctbal")).as("emb"))
      .union(Tables.part(s, dir)
        .select((col("p_partkey") + 1000000L).as("id"), array(col("p_retailprice")).as("emb")))
    Graph.lightGcn(Graph.normalizeEdges(edges, "src", "dst"), nodes,
        layers = 2, "src", "dst", "id", "emb")
      .select(col("id"), round(element_at(col("emb"), 1), 6).as("score"))
  }

  /** M4: the full 3-stage cascade as a dir-parameterized query. Wired with
    * the portable [[Cascade.mixScorer]] stubs (asymmetric per stage) so the
    * recall → rank → re-rank pipeline is hash-checkable end-to-end against
    * the DuckDB oracle; external neural scorers drop in via the same
    * `Scorer` seam. */
  private val m4Cascade: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val users = emb.where(col("vec_id") < 50)
      .select(col("vec_id").as("user_id"), col("embedding").as("user_emb"),
        array(lit(100L), lit(101L)).as("history"))
    val items = emb.where(col("vec_id") >= 50)
      .select(col("vec_id").as("item_id"), col("embedding").as("item_emb"))
    Cascade.recommend(users, items,
      Cascade.mixScorer("user_id", "item_id"),
      Cascade.mixScorer("item_id", "user_id"),
      n1 = 100, n2 = 50, n3 = 10)
      .withColumn("final_rank", col("final_rank").cast("long"))
  }

  // ---- M2/M3: real neural forward passes (din.py / ranknet.py) ----
  // Shared input convention (both engines slice the same way): 8-dim
  // feature vectors are slices of the 64-dim embedding column, and each
  // user's history is the first 1 + user_id % 3 of three further slices —
  // variable length, so the DIN softmax/mask path is genuinely exercised.

  private def embSlice(from: Int): Column =
    slice(col("embedding").cast("array<double>"), from, 8)

  private def dinHists(emb: DataFrame, maxUser: Int): DataFrame =
    emb.where(col("vec_id") < maxUser).select(col("vec_id").as("user_id"),
      slice(array(embSlice(9), embSlice(17), embSlice(25)), lit(1),
        (pmod(col("vec_id"), lit(3L)) + 1).cast("int")).as("hist"))

  private def histSql(alias: String): String = {
    val e = s"CAST($alias.embedding AS DOUBLE[])"
    s"([$e[9:16], $e[17:24], $e[25:32]])[1:(1 + CAST($alias.vec_id % 3 AS INT))]"
  }

  /** M2: DIN attention+MLP forward (eval mode) as an executor-side batch
    * scorer over broadcast fixture weights — the real arithmetic of
    * `eval_online/main/din.py:91-129`, not a stub. */
  private val m5DinForward: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val hists = dinHists(emb, 10)
    val items = emb.where(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("item_id"), embSlice(1).as("feat"))
    val cands = hists.select(col("user_id")).crossJoin(items.select(col("item_id")))
    NeuralForward.dinScorer(items, hists, NeuralForward.fixtureDin())(cands)
      .select(col("user_id"), col("item_id"), round(col("score"), 6).as("score"))
  }

  /** M3: RankNet two-tower MLP forward (`ranknet.py:34-58`), raw score. */
  private val m6RankNetForward: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val userFeats = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("user_id"), embSlice(1).as("ufeat"))
    val items = emb.where(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("item_id"), embSlice(1).as("feat"))
    val cands = userFeats.select(col("user_id")).crossJoin(items.select(col("item_id")))
    NeuralForward.rankNetScorer(userFeats, items, NeuralForward.fixtureRankNet())(cands)
      .select(col("user_id"), col("item_id"), round(col("score"), 6).as("score"))
  }

  /** M4 with the real models: recall (dot-product top-100) ▷ DIN rank
    * (top-50) ▷ RankNet re-rank (top-10) — the reference's full serving
    * cascade (`eval_online/main/inference.py:78-106`) with both neural
    * stages scored executor-side from broadcast weights. */
  private val m7NeuralCascade: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val users = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("user_id"), col("embedding").as("user_emb"),
        array(lit(100L), lit(101L)).as("history"))
    val items = emb.where(col("vec_id") >= 50)
      .select(col("vec_id").as("item_id"), col("embedding").as("item_emb"))
    val itemFeats = emb.where(col("vec_id") >= 50)
      .select(col("vec_id").as("item_id"), embSlice(1).as("feat"))
    val userFeats = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("user_id"), embSlice(1).as("ufeat"))
    Cascade.recommend(users, items,
      NeuralForward.dinScorer(itemFeats, dinHists(emb, 20),
        NeuralForward.fixtureDin()),
      NeuralForward.rankNetScorer(userFeats, itemFeats,
        NeuralForward.fixtureRankNet()),
      n1 = 100, n2 = 50, n3 = 10)
      .withColumn("final_rank", col("final_rank").cast("long"))
  }

  /** M0 — SURVEY §7.2's minimum end-to-end slice, oracle-checked: per
    * user, last-10 interaction history (W3) → mean-pooled user embedding
    * from history-item vectors (J5/A7) → dot-product scoring against the
    * full item table (J7/M1) → history exclusion (P9) → top-5 (W4). The
    * reference's cold-start recommendation path (`models.py:66-85`) as one
    * lazy plan. */
  private val m0RecommendSlice: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // |items| rides along as a broadcast one-row scalar instead of an
    // eager count(): the whole slice stays ONE lazy plan (no plan-build
    // job), and the modulus is computed where the rows are
    val nItems = broadcast(emb.agg(count(lit(1)).as("__n_items")))
    val beh = Tables.events(s, dir).where(col("user_id") < 5)
      .crossJoin(nItems)
      .select(col("user_id"), (col("event_id") % col("__n_items")).as("item_id"),
        col("ts"))
    val recent = TopK.perGroup(beh, Seq(col("user_id")),
        Seq(col("ts").desc, col("item_id").desc), 10)
      .select(col("user_id"), col("item_id"))
    val fetched = recent.join(
      broadcast(emb.select(col("vec_id").as("item_id"), col("embedding"))),
      "item_id")
    val userVecs = VectorOps.meanPool(fetched, Seq("user_id"),
      col("embedding"), "uemb")
    val scored = userVecs.crossJoin(broadcast(
        emb.select(col("vec_id").as("item_id"), col("embedding").as("iemb"))))
      .join(recent.withColumnRenamed("item_id", "item_id"),
        Seq("user_id", "item_id"), "left_anti")
      .withColumn("score",
        graft.functions.GraftFunctions.dot(col("uemb"),
          col("iemb").cast("array<double>")))
    TopK.perGroup(scored, Seq(col("user_id")),
        Seq(col("score").desc, col("item_id")), 5)
      .select(col("user_id"), col("item_id"),
        round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
  }

  /** M11 — the reference's full 3-branch cold-start recall decision
    * (`model_service/models.py:42-88`) over a mixed user batch:
    * users 0–3 have trained embeddings (branch 1), 4–7 only history
    * (branch 2, mean-pooled history embedding), 8–14 neither
    * (branch 3, popularity fallback). One lazy plan via
    * [[Cascade.coldStartRecall]]. */
  private val m11ColdstartRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val nItems = broadcast(emb.agg(count(lit(1)).as("__n")))
    val users = Tables.customer(s, dir).where(col("c_custkey") < 15)
      .select(col("c_custkey").as("user_id"))
    val hist = Tables.events(s, dir).where(col("user_id") < 8)
      .crossJoin(nItems)
      .select(col("user_id"), (col("event_id") % col("__n")).as("item_id"),
        col("ts"))
    val recent = TopK.perGroup(hist, Seq(col("user_id")),
        Seq(col("ts").desc, col("item_id").desc), 10)
      .select(col("user_id"), col("item_id"))
    val userEmb = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("user_id"),
        col("embedding").cast("array<double>").as("uemb"))
    val items = emb.select(col("vec_id").as("item_id"),
      col("embedding").cast("array<double>").as("iemb"))
    val interactions = Tables.events(s, dir).crossJoin(nItems)
      .select((col("event_id") % col("__n")).as("item_id"))
    Cascade.coldStartRecall(users, userEmb, recent, items, interactions, 5)
      .select(col("user_id"), col("branch"), col("item_id"),
        round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
  }

  /** M12 — the deployment-shaped composition: [[m11ColdstartRecall]]'s
    * 3-branch decision feeding an IVF ANN recall (the past-broadcast-
    * threshold path), then rank ▷ rerank. Registered with the PORTABLE
    * IVF ([[SimSearch.ivfTopKPortable]], sim5's md5-centroid contract)
    * so the ENTIRE composition — branch routing, cell assignment/probe,
    * ANN top-k, history exclusion, popularity fallback, both mixScorer
    * rank stages — hash-checks against the DuckDB oracle end-to-end;
    * CascadeSpec separately pins the same composition wired with the
    * TRAINED-centroid [[SimSearch.ivfTopK]] (kmeans fit isn't SQL-
    * portable) against brute-force recall and per-branch routing. */
  private val m12ColdstartCascade: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val nItems = broadcast(emb.agg(count(lit(1)).as("__n")))
    val users = Tables.customer(s, dir).where(col("c_custkey") < 15)
      .select(col("c_custkey").as("user_id"))
    val hist = Tables.events(s, dir).where(col("user_id") < 8)
      .crossJoin(nItems)
      .select(col("user_id"), (col("event_id") % col("__n")).as("item_id"),
        col("ts"))
    val recent = TopK.perGroup(hist, Seq(col("user_id")),
        Seq(col("ts").desc, col("item_id").desc), 10)
      .select(col("user_id"), col("item_id"))
    val userEmb = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("user_id"),
        col("embedding").cast("array<double>").as("uemb"))
    val items = emb.select(col("vec_id").as("item_id"),
      col("embedding").cast("array<double>").as("iemb"))
    val interactions = Tables.events(s, dir).crossJoin(nItems)
      .select((col("event_id") % col("__n")).as("item_id"))
    Cascade.recommendColdStart(users, userEmb, recent, items, interactions,
        Cascade.mixScorer("user_id", "item_id"),
        Cascade.mixScorer("item_id", "user_id"),
        n1 = 20, n2 = 10, n3 = 5) { (queries, corpus) =>
      SimSearch.ivfTopKPortable(queries, corpus, "user_id", "uemb",
          "item_id", "iemb", k = 20, nCells = 4, nProbe = 2)
        .select(col("query_id").as("user_id"), col("item_id"))
    }.select(col("user_id"), col("branch"), col("item_id"),
      col("final_rank").cast("long").as("final_rank"))
  }

  /** §3.3 flagship: the reference's training-data ETL chain as ONE lazy
    * plan — activity-stratified user sampling (X3) ▷ prefix-window samples
    * (W2/W3) ▷ rating-threshold positives (P2) ▷ deterministic negative
    * sampling with collision-skip (X2) — `generate_training_data.py`
    * end-to-end, no driver-side loops, two shuffles total (user window +
    * anti-join). */
  private val etlTrainingData: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 200).as("item"),
        col("ts"), col("value"))
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val keep = Sampling.stratifiedPortable(counts, "user_id", "n",
        hiThreshold = 70, hiSixteenths = 8, loSixteenths = 1)
      .select(col("user_id"))
    val base = ev.join(broadcast(keep), Seq("user_id"), "left_semi")
    val samples = PrefixWindow.samples(base, "user_id", "ts", col("item"),
      minHistory = 3, stride = 2, maxHistory = 5, tieBreak = Seq(col("item")))
    val pos = samples.where(col("value") >= 250)
      .select(col("user_id"), col("idx").cast("long").as("idx"),
        col("item").as("cand"),
        concat_ws("|", transform(col("history"), _.cast("string"))).as("history"))
    val userItems = base.select(col("user_id"), col("item")).distinct()
    val negs = pos
      .withColumn("attempt", explode(array(lit(1L), lit(2L))))
      .withColumn("cand_neg", pmod(
        Sampling.defaultMix(col("user_id"), col("cand"), col("attempt")),
        lit(200L)))
      .join(userItems.select(col("user_id"), col("item").as("cand_neg")),
        Seq("user_id", "cand_neg"), "left_anti")
    pos.select(col("user_id"), col("idx"), col("cand").as("item"),
        lit(1L).as("label"), lit(0L).as("attempt"), col("history"))
      .unionByName(negs.select(col("user_id"), col("idx"),
        col("cand_neg").as("item"), lit(0L).as("label"), col("attempt"),
        col("history")))
  }

  /** P5: isin membership filters. */
  private val p5Isin: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .where(col("l_returnflag").isin("A", "R") && col("l_linenumber").isin(1, 2))
      .groupBy(col("l_returnflag"), col("l_linenumber"))
      .agg(count(lit(1)).as("n"))

  /** P9: history-contains predicate over per-user ordered event lists. */
  private val p9HistoryContains: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        e => e.getField("event_type")).as("types"))
      .select(col("user_id"),
        array_contains(slice(col("types"), 1, 10), "error").as("early_error"))

  /** J5: per-history-item embedding fetch + mean-pool reassembly (the
    * reference's history-tensor build, `inference.py:46-56` + A7). */
  private val j5HistoryFetch: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val users = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("user_id"),
        array(col("vec_id") + 20, col("vec_id") + 40, col("vec_id") + 60).as("hist"))
    val exploded = users.select(col("user_id"), explode(col("hist")).as("item_id"))
    val fetched = exploded.join(
      broadcast(emb.select(col("vec_id").as("item_id"), col("embedding"))),
      "item_id")
    VectorOps.meanPool(fetched, Seq("user_id"), col("embedding"), "user_emb")
      .select(col("user_id"), posexplode(col("user_emb")).as(Seq("pos", "v")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("pos"),
        round(col("v"), 9).as("mean_v"))
  }

  private val q0Warmup: Q = (s, dir) =>
    Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))

  /** T9: TF-IDF keyword extraction — top-3 most characteristic tokens per
    * document (explode → two-level agg → broadcast corpus size → per-doc
    * rank window; ties broken on token for cross-engine determinism). */
  private val t9Tfidf: Q = (s, dir) =>
    TextAnalysis.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text", 3)

  /** J6: stream-stream interval join (batch twin of
    * `BehaviorIngest.purchaseAttribution`, which StreamingSpec pins
    * stream ≡ batch): per purchase, the same user's views in the
    * preceding hour. µs-truncated event time on BOTH sides (stream
    * watermarks need TimestampType; the oracle replicates the
    * truncation), left-joined back so zero-view purchases keep a row. */
  private val j6StreamJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_t").as("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_t").as("ts"))
    val joined = streaming.BehaviorIngest.purchaseAttribution(views, purchases)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("__n"), max(col("v_ts")).as("__last"))
    purchases.join(joined, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("__n"), lit(0L)).as("n_views"),
        unix_micros(col("__last")).as("last_view_us"))
  }

  /** J9: salted join — `ops.Skew.saltedJoin` pushed through the oracle
    * gate: events (big, skew-prone user key) ⋈ customer (small), salted
    * 8 ways, then per-nation rollup. The oracle is the PLAIN join — the
    * whole point is that salting changes the physical shuffle layout and
    * nothing else. */
  private val j9SaltedJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("value"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    ops.Skew.saltedJoin(ev, cust, "user_id", salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** MM2: video frame sampling — metadata-driven explode of binary assets
    * into per-frame rows with a portable md5 frame digest
    * (`Multimodal.sampleFramesPortable`; production digest is xxhash64). */
  private val mm2FrameSample: Q = (s, dir) => {
    val assets = multimodal.Multimodal.videoAssetsFromText(
      Tables.documents(s, dir).where(col("doc_id") % 10 === 0), "doc_id", "text")
    multimodal.Multimodal.sampleFramesPortable(assets, everyMs = 40)
  }

  /** T10: unigram-LM corpus quality scoring (CCNet-style perplexity
    * proxy): corpus-estimated token probabilities → per-doc mean
    * -log p(token), tf-weighted so the join carries distinct (doc, token)
    * rows only. */
  private val t10LmScore: Q = (s, dir) =>
    TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")

  /** T20: overlapping token-window chunking ([[TextAnalysis.chunkDocs]],
    * 40-token windows, stride 20) — the embedding/RAG index prep step. */
  private val t20Chunk: Q = (s, dir) =>
    TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
      window = 40, stride = 20)

  /** T22: Okapi BM25 retrieval ([[TextAnalysis.bm25]], 4-term query,
    * top 20) — the lexical side of hybrid (BM25 ∪ ANN) retrieval; the
    * explode is filtered to query-term hits before any shuffle and the
    * cut is `TakeOrderedAndProject`, never a global sort. */
  private val t22Bm25: Q = (s, dir) =>
    TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("hash", "join", "scan", "vector"), k = 20)

  /** T23: BPE merge training ([[TextAnalysis.bpeTrain]], first 3
    * merges) — the tokenizer-training step t11's pair counting feeds;
    * trains on the word-count vocabulary so corpus size drops out
    * after one aggregate. */
  private val t23BpeTrain: Q = (s, dir) =>
    TextAnalysis.bpeTrain(Tables.documents(s, dir), "text", rounds = 3)

  /** T24: BPE segmentation ([[TextAnalysis.bpeSegment]]) with the
    * t23-learned merge table — per-doc BPE token counts, the number
    * token-budget / packing / billing pipelines consume. */
  private val t24BpeSegment: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = TextAnalysis.bpeTrain(docs, "text", rounds = 3)
      .orderBy(col("merge_round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    TextAnalysis.bpeSegment(docs, "doc_id", "text", merges)
  }

  /** T19: DSIR importance weights ([[TextAnalysis.dsirWeights]]) —
    * hashed-bigram target/raw log-likelihood ratio per document; target
    * sample = the English slice of the corpus, 64 hash buckets. */
  private val t19Dsir: Q = (s, dir) =>
    TextAnalysis.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en", nBuckets = 64)

  /** T11: BPE merge-pair counting — the distributed inner loop of
    * byte-pair-encoding tokenizer training (first merge iteration over a
    * word-frequency dictionary; top-20 candidate merges). */
  private val t11BpePairs: Q = (s, dir) =>
    TextAnalysis.bpePairCounts(Tables.documents(s, dir), "doc_id", "text", 20)

  /** T12: fastText-style hashed n-gram linear quality classifier — zero
    * shuffles, pure codegen map pass (the cheap learned-filter pattern for
    * corpus cleaning at 100 TB; the md5-derived weight table stands in for
    * trained parameters). */
  private val t12QualityClassifier: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      round(TextFunctions.hashedClassifierScore(col("text")), 6).as("quality"))

  /** G6: item-item co-occurrence CF recall — per-item top-5 neighbor
    * lists over "parts ordered together" baskets (lineitem), cosine over
    * binary basket membership ([[ItemCf]]). The neighborhood twin of the
    * learned g4 recall; the oracle replicates capping, bucket-local
    * pairs, degrees and ranking in SQL. */
  private val g6ItemCf: Q = (s, dir) =>
    ItemCf.topKNeighbors(
        ItemCf.cooccurrence(Tables.lineitem(s, dir), "l_orderkey",
          "l_partkey", maxBasket = 50, minCo = 2L), k = 5)
      .select(col("item"), col("neighbor"), col("co"), col("cosine"),
        col("rank").cast("long").as("rank"))

  /** M13: hybrid retrieval — BM25 ∪ ANN fused by Reciprocal Rank Fusion
    * (Cormack et al. 2009, the standard hybrid-search combiner:
    * `Σ 1/(60 + rank)` over the source lists, rank-only so the two
    * scoring scales never need calibration). Lexical side =
    * [[TextAnalysis.bm25]] top-50; semantic side =
    * [[SimSearch.bruteForceTopK]] top-50 for the query embedding
    * (doc_id ≡ vec_id in the fixture corpus); full-outer fuse on the
    * doc id, top-10 by fused score via `TakeOrderedAndProject`. The
    * composition every RAG stack runs as its recall front. */
  private val m13HybridRrf: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).where(col("doc_id") >= 1)
    val emb = Tables.embeddings(s, dir)
    val lex = TextAnalysis.bm25(docs, "doc_id", "text",
        terms = Seq("hash", "join", "scan", "vector"), k = 50)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = SimSearch.bruteForceTopK(emb.where(col("vec_id") === 0),
        emb.where(col("vec_id") >= 1),
        "vec_id", "embedding", "vec_id", "embedding", k = 50)
      .select(col("item_id").as("doc_id"),
        col("rank").cast("long").as("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)), 6))
    val top = graft.ops.TopK.global(fused,
      Seq(col("rrf").desc, col("doc_id")), 10)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf"), col("rank"))
  }

  /** G9: Adamic–Adar link prediction ([[ItemCf.adamicAdar]]) — weighted
    * common-neighbor item-item scores on the order–part graph; completes
    * the item-CF ladder (g6 raw counts ▷ g9 neighbor-degree damping ▷
    * g7 user-pair damping). */
  private val g9AdamicAdar: Q = (s, dir) =>
    ItemCf.adamicAdar(Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
      maxBasket = 50, minCo = 2L)

  /** Q2: one-scan column profile of `orders` (completeness, cardinality,
    * range per column — [[Validate.profile]]); the data-quality gate a
    * pipeline publishes beside every output. Profiled columns are
    * int/string so the min/max string casts are engine-portable. */
  private val q2DataProfile: Q = (s, dir) =>
    Validate.profile(Tables.orders(s, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** Q5: duplicate-rate monitor — per-source exact-dup health gauge
    * (share of docs whose content digest repeats within the source):
    * the number a curation pipeline alerts on between full d1 runs.
    * One aggregate; distinct-count reduces on (source, digest). */
  private val q5DupRate: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        round(lit(1.0) -
          countDistinct(md5(col("text"))).cast("double") / count(lit(1)), 6)
          .as("dup_rate"))

  /** X19: split manifest — the reproducibility card written beside every
    * training export: per split (x1's hash assignment), row count,
    * distinct users and an ORDER-INDEPENDENT content digest (sum of
    * 48-bit md5 prefixes — commutative, so any partitioning/arrival
    * order yields the same manifest; a concat-based digest would be
    * plan-dependent). The sum accumulates in decimal(38) and is taken
    * modulo 2^48 so the digest stays exact and bounded at ANY user
    * count — a plain long sum overflows past ~65k users per split
    * (ANSI mode would throw at exactly the scale the manifest is
    * for). Verifying yesterday's manifest against today's re-read is
    * the cheap tripwire for silent data drift. */
  private val x19SplitManifest: Q = (s, dir) => {
    val users = Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("split",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "c",
          "train").otherwise("holdout"))
    users.groupBy(col("split"))
      .agg(count(lit(1)).as("n_users"),
        pmod(sum(conv(substring(md5(col("user_id").cast("string")), 1, 12),
            16, 10).cast("decimal(20,0)")),
          lit(281474976710656L).cast("decimal(20,0)"))
          .cast("long").as("digest"))
  }

  /** J14: temporal dimension join — purchases joined to the profile
    * version (SCD2 intervals from the user's non-purchase events, w10's
    * plan) active at purchase time: the versioned-dimension lookup every
    * warehouse fact load runs, composed from [[AsOf.overlapJoin]] with
    * point intervals on the fact side and the open current-version end
    * capped at the corpus max-ts. Exclusive upper bounds via −1 on exact
    * µs integers. */
  private val j14TemporalJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"),
        col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"),
      col("event_id"))
    val dim = ev.where(col("event_type") =!= "purchase")
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("__tmax"))))
      .select(col("user_id"), col("event_id").as("version_id"),
        col("valid_from"),
        (coalesce(col("valid_to"), col("__tmax") + 1) - 1).as("__hi"))
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("fact_ts"), col("ts").as("__flo"),
        col("ts").as("__fhi"))
    AsOf.overlapJoin(facts, dim, Seq("user_id"),
        "__flo", "__fhi", "valid_from", "__hi",
        bucket = 86400L * 1000 * 1000)
      .select(col("user_id"), col("purchase_id"), col("fact_ts"),
        col("version_id"), col("valid_from"))
  }

  /** Q4: two-snapshot profile drift ([[Validate.profileDrift]]) — the
    * even/odd order-key halves stand in for yesterday/today partitions;
    * per-column null-rate, cardinality and range comparison in two
    * scans. */
  private val q4ProfileDrift: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    Validate.profileDrift(
      o.where(col("o_orderkey") % 2 === 0),
      o.where(col("o_orderkey") % 2 === 1),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"))
  }

  /** Q3: declared-constraint violation counts ([[Validate]]): row-level
    * predicates in ONE scan plus a referential orphan check (anti-join,
    * broadcast when the dim is small). All four gates pass on the
    * fixture — and the oracle agrees the counts are zero, which is the
    * point: the gate is only trustworthy if "clean" is verifiable. */
  private val q3Constraints: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    Validate.checkViolations(o, Seq(
        "totalprice_positive" -> (col("o_totalprice") > 0),
        "status_known" -> col("o_orderstatus").isin("O", "F", "P"),
        "custkey_notnull" -> col("o_custkey").isNotNull))
      .unionByName(Validate.referentialViolations(o, "o_custkey",
        Tables.customer(s, dir), "c_custkey", "custkey_in_customer"))
  }

  /** G5: personalized PageRank (2 rounds, damping 0.5) on the
    * bidirectional supplier↔part interaction graph, seeded at suppliers
    * 0-9 — the model-free random-walk recall signal complementing g4's
    * LightGCN forward. */
  private val g5PageRank: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .select(col("l_suppkey").cast("long").as("sk"),
        (col("l_partkey") + 1000000L).as("pk")).distinct()
    val edges = e.select(col("sk").as("src"), col("pk").as("dst"))
      .union(e.select(col("pk").as("src"), col("sk").as("dst")))
    val seeds = Tables.supplier(s, dir).where(col("s_suppkey") < 10)
      .select(col("s_suppkey").cast("long").as("seed"))
    Graph.pageRank(edges, "src", "dst", seeds, "seed",
        iters = 2, damping = 0.5)
      .select(col("id"), round(col("score"), 6).as("score"))
  }

  /** MM3: REAL audio analysis-window segmentation
    * ([[multimodal.RealCodecs.audioWindowEnergy]]): WAV encode → RIFF
    * header parse + PCM16 decode → overlapping 160-sample (10 ms)
    * windows every 80 samples over the DECODED stream, integer Σs²
    * energy per window — the MFCC framing front-end on a real codec
    * path. The oracle replays the sample formula per (window, t), so
    * any endianness/offset decode bug shifts every energy and breaks
    * the hash (retired the round-≤8 fake mean-of-chars kernel). */
  private val mm3AudioWindows: Q = (s, dir) =>
    multimodal.RealCodecs.audioWindowEnergy(
      Tables.documents(s, dir).where(col("doc_id") % 10 === 5), "doc_id",
      winSamples = 160, hopSamples = 80)

  /** MM4: REAL perceptual-hash near-dup detection — the image-dedup
    * stage of a multimodal curation pipeline on a real codec path
    * ([[multimodal.RealCodecs.imageAHashes]]): each doc id renders an
    * original AND a one-block-perturbed variant, both PNG-encoded and
    * ImageIO-DECODED, hashed with the classical average-hash over the
    * decoded pixels (8×8 blocks, bit = 64·blockSum > totalSum —
    * integer-exact, so the oracle replays it from the pixel formula).
    * The 64-bit hash travels as two 32-bit halves (d24's layout) over
    * 4 × 16-bit disjoint bands: Hamming ≤ 3 guarantees ≥ 1 clean band
    * by pigeonhole, so banding finds every true pair without an
    * all-pairs product, and the exact popcount filter verifies.
    * Duplicate-saturated corpora would add the d2-style hot-bucket cap
    * before the self-join (retired the round-≤8 fake byte-parity
    * kernel). */
  private val mm4PhashDedup: Q = (s, dir) => {
    val ph = multimodal.RealCodecs.imageAHashes(
      Tables.documents(s, dir).where(col("doc_id") % 5 === 0), "doc_id")
    val bands = ph.select(col("asset_id"), col("lo"), col("hi"),
        explode(array(
          struct(lit(0).as("band"),
            col("lo").bitwiseAND(lit(0xffffL)).as("bits")),
          struct(lit(1).as("band"),
            shiftright(col("lo"), 16).bitwiseAND(lit(0xffffL)).as("bits")),
          struct(lit(2).as("band"),
            col("hi").bitwiseAND(lit(0xffffL)).as("bits")),
          struct(lit(3).as("band"),
            shiftright(col("hi"), 16).bitwiseAND(lit(0xffffL)).as("bits"))
        )).as("b"))
      .select(col("asset_id"), col("lo"), col("hi"),
        col("b.band"), col("b.bits"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("a"), col("y.asset_id").as("b"),
        col("x.lo").as("__la"), col("x.hi").as("__ha"),
        col("y.lo").as("__lb"), col("y.hi").as("__hb"))
      .distinct() // a close pair collides in several bands
      .select(col("a"), col("b"),
        expr("CAST(bit_count(__la ^ __lb) + bit_count(__ha ^ __hb) AS BIGINT)")
          .as("hamming"))
      .where(col("hamming") <= 3)
  }

  /** MM5: REAL image codec roundtrip ([[multimodal.RealCodecs]]) — each
    * doc id renders a deterministic 16×16 RGB pattern, ENCODES it
    * through the JDK's actual PNG codec (javax.imageio), DECODES the
    * compressed bytes back, and aggregates per-channel pixel means.
    * PNG is lossless over integer-formula pixels, so the DuckDB oracle
    * replays the formula relationally and any codec bug (stride,
    * channel order, header math, zlib framing) breaks the hash compare.
    * Closes the "DETERMINISTIC-FAKE decode" gap for images. */
  private val mm5ImageCodec: Q = (s, dir) =>
    multimodal.RealCodecs.imageCodecRoundtrip(
        Tables.documents(s, dir), "doc_id")
      .select(col("asset_id"), col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))

  /** MM7: REAL image resize ([[multimodal.RealCodecs
    * .imageResizeRoundtrip]]) — the last charter verb (decode /
    * feature-extract / RESIZE / frame-sample) moved off a metadata
    * stub: decode → integer nearest-neighbor 16×16 → 8×8 downsample →
    * RE-encode as PNG → decode again → channel sums. Two full codec
    * roundtrips per asset; the oracle replays the resample as the
    * pixel formula at (2x, 2y), so a bug in either encode or either
    * decode (or the sampling arithmetic) breaks the hash. */
  private val mm7ImageResize: Q = (s, dir) =>
    multimodal.RealCodecs.imageResizeRoundtrip(
      Tables.documents(s, dir), "doc_id", outW = 8, outH = 8)

  /** MM6: REAL audio codec roundtrip — deterministic PCM16 samples
    * ENCODED as a canonical RIFF/WAVE file (44-byte header + LE data)
    * and DECODED by parsing the header fields and sign-extending the
    * samples; output RMS (from the exact Σs² long) and peak. Same
    * losslessness argument as mm5: the oracle replays the sample
    * formula, so endianness/sign/header errors all surface. */
  private val mm6AudioCodec: Q = (s, dir) =>
    multimodal.RealCodecs.audioCodecRoundtrip(
        Tables.documents(s, dir), "doc_id")
      .select(col("asset_id"), col("sample_rate"), col("n_samples"),
        round(col("rms"), 6).as("rms"), col("peak"))

  /** Per-user sessions of one event type (the w6 lag plan, filtered):
    * shared by j13's overlap join below. */
  private def typedSessions(s: SparkSession, dir: String, et: String,
      pfx: String, gapUs: Long = 3600L * 1000 * 1000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).where(col("event_type") === et)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts") - col("__prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid").as(s"${pfx}_sid"))
      .agg(min(col("ts")).as(s"${pfx}_start"),
        max(col("ts")).as(s"${pfx}_end"))
  }

  /** J13: interval-overlap join ([[AsOf.overlapJoin]]) — each user's
    * browse (view) sessions against their CLICK sessions (the `p_`
    * column prefix is just the "probe side" label), pairs whose
    * time ranges intersect plus the overlap length: the attribution
    * primitive j6's point-in-window join can't express when BOTH sides
    * are ranges. Bucket width = the session gap; the
    * canonical-bucket trick emits each pair once with no distinct
    * shuffle. */
  private val j13OverlapJoin: Q = (s, dir) =>
    // 24 h session gap: browse/click sessions long enough that overlaps
    // are a real population at fixture scale (197 pairs at sf0.01)
    AsOf.overlapJoin(
      typedSessions(s, dir, "view", "v", gapUs = 86400L * 1000 * 1000),
      typedSessions(s, dir, "click", "p", gapUs = 86400L * 1000 * 1000),
      Seq("user_id"), "v_start", "v_end", "p_start", "p_end",
      bucket = 86400L * 1000 * 1000)
      .select(col("user_id"), col("v_sid"), col("p_sid"),
        col("v_start"), col("v_end"), col("p_start"), col("p_end"),
        (least(col("v_end"), col("p_end")) -
          greatest(col("v_start"), col("p_start"))).as("overlap_us"))

  /** W6: lag-based sessionization — the window-function twin of
    * `session_window` (`stream_session_window`): event-time gap > 1 h
    * opens a new session; session id = running count of gap-breaks per
    * user. One shuffle on the user key; both window frames (lag, running
    * sum) share the same (user, ts) sort. */
  private val w6Sessionize: Q = (s, dir) => {
    // µs-truncated event time on both engine and oracle sides: DuckDB's
    // parquet reader truncates TIMESTAMP(NANOS) to µs, so raw-ns outputs
    // can never hash-match (ties stay deterministic via the event_id key)
    val gapUs = 3600L * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts") - col("__prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
  }

  /** W6: sequence padding — per-(user, event_type) ordered histories
    * padded to exactly 10 entries with -1 (appending), plus the true
    * length (`PrefixWindow.padded`; reference `din/utils.py:74-92` pads
    * history tensors the same way). Grouping by (user, type) makes both
    * branches real at sf0.01: rare types give short (padded) lists, common
    * ones exercise the truncation slice. */
  private val w6Padding: Q = (s, dir) => {
    val hist = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id")))),
        e => e.getField("event_id")).as("h"))
    val (pad, n) = PrefixWindow.padded(col("h"), 10, lit(-1L))
    hist.select(col("user_id"), col("event_type"),
      concat_ws("|", transform(pad, _.cast("string"))).as("padded"),
      n.cast("long").as("true_len"))
  }

  /** W12: ordered conversion funnel over the behavior log
    * ([[graft.ops.Behavior.funnel]]): earliest view, then earliest click
    * STRICTLY AFTER it, then earliest purchase after that — the
    * sequential-funnel semantics product analytics runs on exactly the
    * event stream the reference produces
    * (`deploy_datapipeline/data_pipeline/kafka_stream/producer.py`).
    * Every stage shuffles on the user key only. */
  private val w12Funnel: Q = (s, dir) =>
    Behavior.funnel(
      Tables.events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts"), col("event_type")),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))

  /** W13: weekly cohort retention ([[graft.ops.Behavior.retention]]):
    * cohort = week of a user's first event, one row per
    * (cohort, week-offset) with the distinct users still active — the
    * triangular retention matrix. Exact integer week bucketing on µs
    * epochs (no float division anywhere near the bucket boundary). */
  private val w13Retention: Q = (s, dir) =>
    Behavior.retention(
      Tables.events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts")),
      "user_id", "ts", 7L * 86400 * 1000 * 1000)

  /** W14: first-order behavior transition matrix — P(next event type |
    * current event type) from each user's time-ordered stream (lag
    * window, ties on event_id), the Markov-chain view of the behavior
    * log that session-based recommenders and bot detectors both start
    * from. One shuffle on the user key for the ordering, then a 25-cell
    * aggregate; probabilities renormalize per source type with exact
    * integer counts. */
  private val w14Transitions: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__next", lead(col("event_type"), 1).over(byUser))
      .where(col("__next").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("from_type"))
    pairs.withColumn("p",
      round(col("n") / sum(col("n")).over(totals), 6))
  }

  /** S12 (batch twin): latest snapshot per key — the batch equivalent of
    * `BehaviorIngest.latestProfiles` keyed state (and the reference's
    * Redis `KEYS *` + max-version scan): one row per user with the most
    * recent event, ties broken on event_id. */
  private val s12LatestSnapshot: Q = (s, dir) =>
    TopK.perGroup(
      Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts"),
          col("event_id"), col("event_type")),
      Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc), 1)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))

  /** L5: snapshot diff ([[Layout.snapshotDiff]]) — per-customer order
    * state over the 1995–96 window vs the 1996–97 window: customers
    * active only in the earlier window emit `removed`, only in the
    * later `added`, in both with different (n_orders, total) `changed`
    * with the exact differing columns listed; the unchanged majority is
    * filtered before any wide row is built. The CDC primitive that
    * audits a nightly load or regression-tests a pipeline rewrite. */
  private val l5SnapshotDiff: Q = (s, dir) => {
    def snap(years: Seq[Int]) = Tables.orders(s, dir)
      .where(year(col("o_orderdate")).isin(years.map(Integer.valueOf): _*))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
    Layout.snapshotDiff(snap(Seq(1995, 1996)), snap(Seq(1996, 1997)),
      Seq("custkey"))
      // Registry invariant: oracle-compared outputs carry no top-level
      // array columns (the driver's pandas compare can't sort them) — the
      // a3 convention. Library callers get the array via Layout directly.
      .withColumn("changed_cols",
        concat_ws(",", array_sort(col("changed_cols"))))
  }

  /** G13: association rules ([[ItemCf.associationRules]]) — directed
    * "bought X ⇒ also bought Y" rules with support / confidence / lift
    * over the same capped parts-bought-together baskets as g6; minCo 2
    * keeps singleton noise out, and both rule directions emit (their
    * confidences differ even though support is shared). */
  private val g13AssocRules: Q = (s, dir) =>
    ItemCf.associationRules(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", maxBasket = 50, minCo = 2L)

  /** X21: smoothed target encoding ([[Features.targetEncode]]) — the
    * order-priority categorical encoded against order value with a
    * 20-pseudo-count shrink toward the global mean: the table a
    * training pipeline joins onto train AND eval features in place of
    * a one-hot or hashed category. */
  private val x21TargetEncode: Q = (s, dir) =>
    Features.targetEncode(
      Tables.orders(s, dir).select(col("o_orderpriority"),
        col("o_totalprice")),
      "o_orderpriority", "o_totalprice", m = 20.0)
      .select(col("o_orderpriority").as("category"), col("n"),
        col("enc"), col("prior"))

  /** X22: equi-depth feature binning ([[Features.quantileBins]]) —
    * order value discretized into 8 exact-quantile bins, then the bin
    * histogram (count, span) that validates the discretizer: near-equal
    * counts, contiguous spans. The boundary aggregate broadcasts; bin
    * assignment is a pure expression scan, no sort of the data. */
  private val x22QuantileBins: Q = (s, dir) =>
    Features.quantileBins(
      Tables.orders(s, dir).select(col("o_totalprice")),
      "o_totalprice", nBins = 8, outCol = "bin")
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))

  /** X24: leave-one-out split ([[Sampling.leaveOneOut]]) — each
    * customer's latest order (date, orderkey tiebreak) held out as the
    * eval interaction with the remaining count as n_train: the standard
    * offline-recsys protocol's data prep, one window shuffle. */
  private val x24LeaveOneOut: Q = (s, dir) =>
    Sampling.leaveOneOut(
      Tables.orders(s, dir).select(col("o_custkey").as("cust"),
        col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      "cust", Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("cust"), col("o_orderkey").as("test_order"),
        round(col("o_totalprice"), 2).as("test_price"), col("n_train"))

  /** T28: PMI collocations ([[TextAnalysis.pmiPairs]]) — document-level
    * pointwise mutual information over the 150 highest-df tokens:
    * which terms co-occur more than independence predicts. Vocabulary
    * cap bounds the pair space at any corpus size. */
  private val t28Pmi: Q = (s, dir) =>
    TextAnalysis.pmiPairs(Tables.documents(s, dir), "doc_id", "text",
      vocabSize = 150, minCo = 5L)

  /** T29: interpolated bigram LM scoring ([[TextAnalysis.bigramLmScore]])
    * — per-doc average negative log probability under a
    * corpus-trained λ=0.75 bigram/unigram mixture; the word-order
    * quality signal unigram profiling (t10) cannot see. λ=0.75 is
    * binary-exact, so 1−λ is the SAME double in any engine — 0.7 would
    * make Scala's `1.0 - 0.7` and the oracle's literal `0.3` differ in
    * the last ulp. */
  private val t29BigramLm: Q = (s, dir) =>
    TextAnalysis.bigramLmScore(Tables.documents(s, dir), "doc_id", "text",
      lambda = 0.75)

  /** G14: HITS hubs-and-authorities ([[Graph.hits]]) — 2 max-normalized
    * power-iteration rounds over the directed supplier→part supply
    * graph. Authority ranks parts by being supplied by well-connected
    * (hub) suppliers — a different centrality than g5's seeded
    * PageRank (authority flows AGAINST hub mass, not along a damped
    * walk). Oracle replays both rounds relationally. */
  private val g14Hits: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .select(col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
    // broadcast-scores mode (zero |E| exchanges per round — the r13
    // A/B: warm 3.0-3.3 s vs 3.5-5.1 s at sf0.1, oracle-exact, both
    // core counts) is only safe while the node-score frames fit the
    // broadcast budget. The gate lives INSIDE Graph.hits (r13 ADVICE +
    // verdict item 5): it estimates the distinct node counts —
    // the quantity the broadcast actually ships, not an edge-count
    // proxy that permits multi-100MB score frames — with a separate HLL
    // `approx_count_distinct` job over the already-pinned frame, and
    // degrades the SAME query to the shuffling plan at cluster scale.
    Graph.hits(e, "src", "dst", rounds = 2)
      .select(col("dst").as("part"),
        round(col("authority"), 6).as("authority"))
  }

  /** X25: k-fold cross-validation manifest — every user lands in one
    * of 5 folds via the PORTABLE hash (md5 prefix mod k, the x1/x19
    * convention: any engine and any partitioning reproduces the
    * assignment bit-exactly), and the manifest reports each fold's
    * user/event mass so a training loop can verify balance before
    * spending compute. One shuffle (the user-fold aggregate). */
  private val x25Kfold: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("fold",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 6),
          16, 10).cast("long"), lit(5L)))
    ev.groupBy(col("fold"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
  }

  /** V6: scalar (int8) quantization audit — the SQ8 compression path
    * ANN indexes use when product quantization is overkill: per-dim
    * corpus [min, max] (the trained "codebook" — 2×64 doubles, a
    * broadcast), each coordinate encoded to an 8-bit level by uniform
    * gridding, and the per-vector squared reconstruction error
    * reported. Lowered relationally: posexplode to (vec, dim, x) —
    * 64×N rows, linear — the 64-row stats aggregate broadcasts back,
    * and the error re-aggregates per vector; no driver-side math.
    * round(…,7) absorbs the sub-ulp summation-order drift of the
    * 64-term error sum. */
  private val v6Sq8: Q = (s, dir) => {
    val d = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
    val stats = d.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    d.join(broadcast(stats), "dim")
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(floor((col("x") - col("lo")) /
            ((col("hi") - col("lo")) / 255.0) + 0.5).cast("long")))
      .withColumn("recon",
        col("lo") + col("code").cast("double") *
          (col("hi") - col("lo")) / 255.0)
      .groupBy(col("vec_id"))
      // (x−recon)·(x−recon), not pow(…,2): libm pow differs in the last
      // ulp between engines; multiplication is IEEE-exact in both
      .agg(round(sum((col("x") - col("recon")) * (col("x") - col("recon"))),
        7).as("sq_err"))
  }

  /** T30: last-touch campaign attribution — each purchase's value is
    * credited to the campaign (the `k` field of the click's JSON
    * props, mod 10) of the user's LAST click in the 24 h before it;
    * unattributed purchases (no qualifying click) report as campaign
    * −1. The classic marketing-analytics join: a per-user range join
    * (bounded by per-user event counts), a deterministic last-click
    * argmax by (click ts, click id) lowered to one sort-free
    * `max(struct)` hash aggregate, then the campaign rollup. */
  private val t30Attribution: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"), col("value"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"),
        col("event_id").as("cid"),
        pmod(get_json_object(col("props"), "$.k").cast("long"),
          lit(10L)).as("campaign"))
    // the window condition lives IN the join: a post-join filter would
    // drop purchases whose clicks all fall outside the 24 h window
    // instead of attributing them to campaign −1
    val joined = purchases.as("p").join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c.cts") <= col("p.pts") &&
          col("c.cts") >= col("p.pts") - lit(86400000000000L),
        "left")
      .select(col("p.pid").as("pid"), col("p.value").as("value"),
        col("c.cts").as("cts"), col("c.cid").as("cid"),
        col("c.campaign").as("campaign"))
    // last-click pick as ONE sort-free hash aggregate (the d17/g10
    // one-pass discipline, r12 A/B in PLANS.md): max(struct(cts, cid,
    // campaign)) per purchase — struct ordering sorts null fields
    // FIRST, so the unattributed left-join row loses to any real click
    // and an all-null purchase surfaces campaign null → −1, exactly
    // the old desc_nulls_last rank-1 pick without the window's
    // per-partition sort; `value` is purchase-functional so it rides
    // in the grouping key
    joined.groupBy(col("pid"), col("value"))
      .agg(max(struct(col("cts"), col("cid"), col("campaign"))).as("__t"))
      .select(coalesce(col("__t.campaign"), lit(-1L)).as("campaign"),
        col("value"))
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("conversions"),
        round(sum(col("value")), 2).as("revenue"))
  }

  /** L6: compaction plan — the OPTIMIZE planning step of lakehouse
    * table maintenance: per month partition, the table's small files
    * (simulated as o_orderkey mod 200 within the month) greedily
    * bin-pack in file-id order into target-sized output groups
    * (bin = cumulative-rows-before ÷ target). Pure window arithmetic —
    * one shuffle on the partition key, no sort of the data rows — and
    * the plan (partition, bin, files, rows) is what a rewrite job
    * would execute. */
  private val l6CompactionPlan: Q = (s, dir) => {
    val files = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part"),
        pmod(col("o_orderkey"), lit(200L)).as("file_id"))
      .agg(count(lit(1)).as("rows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("file_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files
      .withColumn("bin",
        (coalesce(sum(col("rows")).over(w), lit(0L)) / lit(60L))
          .cast("long"))
      .groupBy(col("part"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("total_rows"))
  }

  /** Q6: exact column profiling — the data-quality sweep a pipeline
    * runs before training on a new corpus drop: per column, row count,
    * null count, exact distinct cardinality, and mean stringified
    * length, all in ONE scan (a single multi-aggregate, then a `stack`
    * unpivot of the 4×4 scalar results — no per-column pass, no
    * driver-side loop). Exact-distinct shuffles by design; `a14`'s HLL
    * sketch is the registered approximate twin for when 100 TB makes
    * exactness optional. */
  private val q6Profile: Q = (s, dir) => {
    val cols = Seq("text", "lang", "source", "n_chars")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      round(avg(length(col(c).cast("string"))), 6).as(s"al_$c")))
    Tables.documents(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${cols.length}, " + cols.map(c =>
          s"'$c', n_rows, n_rows - nn_$c, nd_$c, al_$c").mkString(", ") +
          ") as (column_name, n_rows, n_null, n_distinct, avg_len)"))
  }

  /** M14: Markov next-event recommendation — compose the w14 transition
    * matrix with each user's latest event (the s12 snapshot) and emit
    * the top-3 predicted next event types per user. The matrix is a
    * ≤25-row broadcast, so the only shuffle is the per-user ordering —
    * and the final rank window reuses that same user partitioning (no
    * second exchange). The simplest session-based recommender: a
    * serving-time lookup that is pure relational algebra here. */
  private val m14MarkovNext: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // per-from ranking in the matrix ≡ per-user ranking after the join
    // (each user hits exactly one from_type row group); the same matrix
    // serves the streaming twin (BehaviorIngest.nextEventPredictions)
    val trans = Behavior.transitionTopK(ev, "user_id", "ts", "event_id",
      "event_type", 3)
    val last = TopK.perGroup(ev, Seq(col("user_id")),
        Seq(col("ts").desc, col("event_id").desc), 1)
      .select(col("user_id"), col("event_type").as("cur_type"))
    last.join(broadcast(trans), col("cur_type") === col("from_type"))
      .select(col("user_id"), col("cur_type"),
        col("to_type").as("next_type"), round(col("p"), 6).as("p"),
        col("rank").cast("long").as("rank"))
  }

  /** X26: k-anonymity audit — group the release-candidate table by its
    * quasi-identifiers (nation, market segment, account-balance
    * thousand-bucket) and flag every anonymity set smaller than k=5 for
    * suppression; the privacy gate a training-data export runs before
    * user-level features leave the pipeline. One shuffle (the QI
    * aggregate); output is bounded by the QI-combination count, not the
    * row count. */
  private val x26Kanon: Q = (s, dir) =>
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("suppressed", col("n") < 5)

  /** T31: lexical richness — per-document type/token counts, type-token
    * ratio, and hapax-legomenon ratio over the same whitespace
    * tokenization as t3. Explode → (doc, token) count → per-doc
    * re-aggregate: two shuffles, both on keys that grow linearly with
    * the corpus; no array materialization of per-doc vocabularies.
    * The feature trio quality filters use to catch keyword-stuffed and
    * boilerplate documents (low TTR) vs ones of organic prose. */
  private val t31Lexical: Q = (s, dir) => {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
        .as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types") * lit(1.0) / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax") * lit(1.0) / col("n_types"), 6)
          .as("hapax_ratio"))
  }

  /** A33: intra-list diversity of the m1 retrieval lists — 1 − mean
    * pairwise cosine among each query's top-5 items, the standard
    * check that a recommender is not returning five near-copies.
    * Per-list pairwise is k(k−1)/2 with k=5 — bounded by construction
    * per query, never corpus-quadratic; the item-vector fetch is one
    * hash join and the pair join is keyed on query_id. Each pairwise
    * sim rounds to 6 before the mean (the sim9 convention) so both
    * engines average identical values. */
  private val a33Ild: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val top = annTruth(emb)
      .join(emb.select(col("vec_id").as("item_id"), col("embedding")),
        "item_id")
    val a = top.select(col("query_id"), col("item_id").as("i"),
      col("embedding").as("va"))
    val b = top.select(col("query_id"), col("item_id").as("j"),
      col("embedding").as("vb"))
    a.join(b, Seq("query_id")).where(col("i") < col("j"))
      .select(col("query_id"),
        round(VectorOps.cosine(col("va"), col("vb")), 6).as("sim"))
      .groupBy(col("query_id"))
      .agg(round(lit(1.0) - avg(col("sim")), 6).as("ild"),
        count(lit(1)).as("n_pairs"))
  }

  /** G15: per-node local clustering coefficient on the g11 co-purchase
    * window — cc(v) = 2·tri(v) / (d(v)·(d(v)−1)), the node-level
    * community-density feature (g11 reports only the global closure
    * ratio). Same degree-oriented wedge machinery as g11 (orientation
    * bounds the quadratic step on hubs); the only addition is keeping
    * the wedge apex so each closed triangle can credit all three
    * corners via a 3-way explode — a bounded, linear post-pass. */
  private val g15ClusteringCoeff: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val und = ui.as("x").join(ui.as("y"), "b")
      .where(col("x.i") < col("y.i"))
      .select(col("x.i").as("u"), col("y.i").as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).unionAll(
        und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s"), col("e.t"), col("e.dt"))
      .persist()
    val wedges = oriented.as("e1").join(oriented.as("e2"), "s")
      .where(col("e1.dt") < col("e2.dt") ||
        (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t")))
      .select(col("s"), col("e1.t").as("a"), col("e2.t").as("b"))
    val triNodes = wedges
      .join(oriented.select(col("s").as("a"), col("t").as("b")),
        Seq("a", "b"))
      .select(explode(array(col("s"), col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.where(col("d") >= 2)
      .join(triNodes, Seq("n"), "left")
      .select(col("n").as("part"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(coalesce(col("n_tri"), lit(0L)) * lit(2.0) /
          (col("d") * (col("d") - lit(1L))), 6).as("cc"))
  }

  /** SIM11: ANN quality evaluation — recall@5 of the portable LSH index
    * (sim4's bucket+probe engine) against the exact brute-force top-5
    * (m1's), per query. THE metric that decides whether an approximate
    * index is shippable; here it is a join of two already-verified
    * operators, so the recall numbers themselves are oracle-checkable.
    * Left join from the exact side: a query whose LSH probes miss
    * everything still reports recall 0 rather than vanishing. */
  private val sim11AnnRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    perQueryRecall(emb, SimSearch.lshTopKPortable(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, nBits = 8))
  }

  /** W19: inter-event gap statistics per user — median / p90 / max gap
    * in integer nanoseconds over the time-ordered stream, the cadence
    * features behind churn scoring (w15) and bot detection (w17's
    * burstiness uses the same gaps' dispersion). DISCRETE (type-1)
    * quantiles — the value at rank ⌈p·n⌉, picked by a rank window —
    * not interpolated ones: ns gaps here are multiples of 1000, so a
    * continuous median's two-point midpoint lands EXACTLY on the
    * round-half boundary and the engines' tie rounding diverges;
    * integer order statistics hash identically by construction. Two
    * window passes over one user-partitioned shuffle. */
  private val w19GapStats: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap", col("ts") - lag(col("ts"), 1).over(byUser))
      .where(col("gap").isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("gap"))))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        max(when(col("rn") <= ceil(lit(0.5) * col("cnt")), col("gap")))
          .as("p50_ns"),
        max(when(col("rn") <= ceil(lit(0.9) * col("cnt")), col("gap")))
          .as("p90_ns"),
        max(col("gap")).as("max_ns"))
  }

  /** L7: zone-map audit — per storage block (simulated as
    * l_orderkey÷6000 row groups), min/max ship-date plus whether a
    * 1995-window predicate could SKIP the block entirely: the
    * file-skipping arithmetic behind parquet row-group pruning and
    * lakehouse data-skipping indexes, surfaced as a query so layout
    * quality (clustering by ship date vs by key) is measurable. One
    * aggregate over the natural key order; timestamps exported as
    * epoch-µs so both engines hash identical integers. */
  private val l7ZoneMap: Q = (s, dir) => {
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1996-01-01").cast("timestamp")
    Tables.lineitem(s, dir)
      // parquet NTZ → TIMESTAMP: instant-preserving under the session's
      // fixed UTC zone, and unix_micros/comparison require LTZ
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .groupBy(expr("l_orderkey div 6000").as("file_id"))
      .agg(count(lit(1)).as("nrows"),
        min(col("l_shipdate")).as("mn"), max(col("l_shipdate")).as("mx"))
      .select(col("file_id"), col("nrows"),
        unix_micros(col("mn")).as("min_ship_us"),
        unix_micros(col("mx")).as("max_ship_us"),
        (col("mx") < lo || col("mn") >= hi).as("skip"))
  }

  /** D16: train/test split leakage audit — near-duplicate documents
    * that cross the x1-style portable hash split, i.e. test documents
    * whose near-copy sits in train: the contamination mode that
    * silently inflates eval metrics. Pure composition of verified
    * primitives: the portable md5 split (x1) feeding
    * [[Dedup.minHashMatchesAgainst]] (d11's cross-set engine — banded
    * signatures, per-side hot-bucket caps, no self-pairing), so the
    * audit scales exactly as incremental dedup does. */
  private val d16SplitLeakage: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).withColumn("__split",
      when(substring(md5(col("doc_id").cast("string")), 1, 1) < "c",
        "train").otherwise("test"))
    Dedup.minHashMatchesAgainstAuto(
        docs.where(col("__split") === "test"),
        docs.where(col("__split") === "train"),
        "doc_id", "text", shingleN = 3, numHashes = 16,
        minJaccardPct = 30, targetDetectPct = 80)
      .select(col("doc_new").as("doc_test"),
        col("doc_base").as("doc_train"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** T33: readability scoring — Flesch-reading-ease-shaped formula from
    * exact integer counts: whitespace words (t3's tokenization),
    * sentences (non-empty [.!?]+ splits, floored at 1), and a
    * deterministic syllable proxy (vowel-group runs per word, floored
    * at 1 — the standard approximation when no pronunciation dict is
    * shippable). The score is an exact rational of the three counts,
    * so it is emitted as `flesch_milli` = round(1000·score) computed in
    * INTEGER half-away-from-zero arithmetic — a double `round(…, 4)`
    * measurably diverged between engines at sf0.1 (values like
    * 28.19375 sit exactly on the round-half boundary; the w19 lesson
    * again). Pure per-row codegen'd expressions, no shuffle at all. */
  private val t33Readability: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("__toks",
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .where(col("n_words") > 0)
      .withColumn("n_sents", greatest(lit(1L),
        size(filter(split(col("text"), "[.!?]+"),
          x => length(trim(x)) > 0)).cast("long")))
      .withColumn("n_syll", aggregate(
        transform(col("__toks"), t => greatest(lit(1),
          size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))),
        lit(0), (a, x) => a + x).cast("long"))
      // 206.835 − 1.015·w/s − 84.6·syl/w = N/D with
      // N = 206835·s·w − 1015·w² − 84600·syl·s, D = 1000·s·w;
      // round(1000·score) = half-away(N / (s·w)) — all-integer
      .withColumn("__num", lit(206835L) * col("n_sents") * col("n_words")
        - lit(1015L) * col("n_words") * col("n_words")
        - lit(84600L) * col("n_syll") * col("n_sents"))
      .withColumn("__den", col("n_sents") * col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        (signum(col("__num")).cast("long") *
          expr("(2 * abs(__num) + __den) div (2 * __den)"))
          .as("flesch_milli"))

  /** A34: label hit-rate@k — for each m1 query, whether (and how often)
    * a same-label item appears in the exact top-k, for k ∈ {1,3,5} in
    * ONE pass: the retrieval lists are computed once, a 3-element k
    * explode fans each (query, item) row out, and a single aggregate
    * produces the whole recall curve. The ground truth is the
    * embeddings table's own label column — the proxy-relevance eval
    * run when no human judgments exist. */
  private val a34HitRate: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val lbl = emb.select(col("vec_id"), col("label"))
    SimSearch.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("item_id"), col("rank"))
      .join(lbl.select(col("vec_id").as("query_id"),
        col("label").as("ql")), "query_id")
      .join(lbl.select(col("vec_id").as("item_id"),
        col("label").as("il")), "item_id")
      .withColumn("k", explode(array(lit(1), lit(3), lit(5))))
      .groupBy(col("query_id"), col("k").cast("long").as("k"))
      .agg(count(when(col("rank") <= col("k") &&
        col("ql") === col("il"), 1)).as("n_rel"))
      .withColumn("hit", col("n_rel") > 0)
  }

  /** G16: degree assortativity — the Pearson correlation of endpoint
    * degrees over the (symmetrized) co-purchase edge list: one scalar
    * that says whether hubs attach to hubs (assortative, r > 0) or to
    * the periphery (disassortative, r < 0) — the topology check run
    * before trusting degree-based sampling or propagation designs.
    * Double sums of < 2⁵³ integers are order-independent-exact, so the
    * correlation is engine-portable (the a25 posture). */
  private val g16Assortativity: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val und = ui.as("x").join(ui.as("y"), "b")
      .where(col("x.i") < col("y.i"))
      .select(col("x.i").as("u"), col("y.i").as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).unionAll(
        und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val sym = und.select(col("u").as("x"), col("v").as("y")).unionAll(
      und.select(col("v").as("x"), col("u").as("y")))
    val dd = sym
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(col("dx").cast("double").as("a"),
        col("dy").cast("double").as("b"))
    dd.agg(count(lit(1)).as("n_edges"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"),
        sum(col("a") * col("b")).as("sab"))
      .select(col("n_edges"),
        round((col("n_edges") * col("sab") - col("sa") * col("sb")) /
          (sqrt(col("n_edges") * col("saa") - col("sa") * col("sa")) *
           sqrt(col("n_edges") * col("sbb") - col("sb") * col("sb"))), 6)
          .as("r"))
  }

  /** D17: cluster canonicalization — d7's near-dup clusters resolved to
    * a QUALITY-chosen representative (longest n_chars, doc_id
    * tie-break) instead of d10's min-id convention: the curation step
    * that keeps the fullest copy of each duplicated article and maps
    * every member to it. One rank window per cluster over the
    * already-bounded cluster frame; emits the doc → canonical mapping
    * with an is_canonical flag a downstream filter keys on. */
  private val d17Canonicalize: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.dupClusters(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.6, maxBucket = 1000)
    // first_value over the ordered cluster window (default frame =
    // UNBOUNDED PRECEDING..CURRENT ROW, and the first row by the ORDER
    // is the representative) replaces the former rank-then-self-join:
    // one window pass instead of two plan subtrees joined on
    // cluster_id — measured fresh-JVM warm 4.5/3.5 → 3.6/3.0 s at sf0.1
    clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("canonical_id", first(col("doc_id")).over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** X27: team-draft interleaving — the online-evaluation merge of two
    * ranked lists (parts by units sold vs parts by revenue) into one
    * result page: A's rank r lands at position 2r−1, B's at 2r, first
    * position wins for items on both lists, and the merged page is
    * re-ranked and cut at 10. Scores round to 6 BEFORE ranking so an
    * accumulation-order ulp can't flip a rank between engines; the
    * top-10 cut is TakeOrderedAndProject (no global sort), and every
    * window after it runs on ≤20 rows. */
  private val x27Interleave: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    def top10(scored: DataFrame): DataFrame = {
      val cut = scored.orderBy(col("score").desc, col("part")).limit(10)
      cut.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("part"))))
    }
    val byQty = top10(li.groupBy(col("l_partkey").as("part"))
      .agg(round(sum(col("l_quantity")), 6).as("score")))
    val byRev = top10(li.groupBy(col("l_partkey").as("part"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
        .as("score")))
    val pooled = byQty.select(col("part"),
        (col("rank") * 2 - 1).cast("long").as("pos")).unionAll(
      byRev.select(col("part"), (col("rank") * 2).cast("long").as("pos")))
      .groupBy(col("part")).agg(min(col("pos")).as("first_pos"))
      .withColumn("src",
        when(col("first_pos") % 2 === 1, "qty").otherwise("rev"))
    pooled.withColumn("page_rank", row_number().over(
        Window.orderBy(col("first_pos"))).cast("long"))
      .where(col("page_rank") <= 10)
      .select(col("page_rank"), col("part"), col("src"), col("first_pos"))
  }

  /** D18: MinHash estimator calibration — for every candidate pair the
    * portable LSH path (d5) surfaces, the EXACT shingle Jaccard
    * computed pair-locally (set intersection of the two docs' distinct
    * shingle arrays — bounded by |candidate pairs|·shingle width, never
    * corpus-quadratic) beside the 16-hash estimate and the signed
    * error. The audit that decides whether a signature budget is
    * adequate before a 100 TB dedup run commits to it. */
  private val d18EstimatorError: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val sh = docs.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
    Dedup.minHashPairsPortableAuto(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, minJaccardPct = 30,
        targetDetectPct = 80)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")),
        "doc_b")
      .withColumn("__i",
        size(array_intersect(col("sa"), col("sb"))))
      .withColumn("exact_jaccard", col("__i") * lit(1.0) /
        (size(col("sa")) + size(col("sb")) - col("__i")))
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("exact_jaccard"), 6).as("exact_jaccard"),
        round(col("est_jaccard") - col("exact_jaccard"), 6).as("err"))
  }

  /** X28: hard-negative mining — the highest-cosine WRONG-label items
    * of each query's exact top-5 (m1's lists joined to labels, filtered
    * to label mismatches): the contrastive-training negatives that
    * actually move a metric, vs x2/x12's random ones. Bounded at
    * |queries|·k rows by construction; the label fetch is one hash
    * join per side. */
  private val x28HardNegatives: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val lbl = emb.select(col("vec_id"), col("label"))
    SimSearch.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .join(lbl.select(col("vec_id").as("query_id"),
        col("label").as("__ql")), "query_id")
      .join(lbl.select(col("vec_id").as("item_id"),
        col("label").as("__il")), "item_id")
      .where(col("__ql") =!= col("__il"))
      .select(col("query_id"), col("item_id"),
        col("rank").cast("long").as("rank"),
        round(col("cosine"), 6).as("cosine"),
        col("__il").cast("long").as("neg_label"))
  }

  /** W22: RFM segmentation — per-user recency (days since last event,
    * against the corpus max), frequency, monetary (rounded BEFORE
    * scoring so both engines cut identical values), each scored 1–5 by
    * population quintile. Quintile cuts come from ONE scalar percentile
    * aggregate broadcast back ([[Features.quantileBins]], the x22
    * machinery) — no global ntile window, so the scoring pass stays
    * embarrassingly parallel at any user count. Recency score is
    * inverted (recent = 5) per the marketing convention. */
  private val w22Rfm: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val per = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("__last"), count(lit(1)).as("frequency"),
        round(sum(col("value")), 2).as("monetary"))
    val now = ev.agg(max(col("ts")).as("__now"))
    val rfm = per.crossJoin(broadcast(now))
      .withColumn("recency_days",
        floor((col("__now") - col("__last")) / lit(86400.0e9)).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"))
    // all 12 quintile cuts in ONE scalar aggregate (sequential
    // quantileBins calls each re-planned the whole upstream chain for
    // their bounds pass — the plan audit showed 15 single-partition
    // exchanges; one pass + one broadcast is the same math; PLANS.md
    // "Round 6, third session")
    val qs = Seq(0.2, 0.4, 0.6, 0.8).map(lit)
    val bounds = rfm.agg(
      percentile(col("recency_days"), array(qs: _*)).as("__rb"),
      percentile(col("frequency"), array(qs: _*)).as("__fb"),
      percentile(col("monetary"), array(qs: _*)).as("__mb"))
    def score(bs: Column, v: Column): Column =
      size(filter(bs, b => b <= v)) + 1
    rfm.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        (lit(6) - score(col("__rb"), col("recency_days"))).cast("long")
          .as("r_score"),
        score(col("__fb"), col("frequency")).cast("long").as("f_score"),
        score(col("__mb"), col("monetary")).cast("long").as("m_score"))
  }

  /** A35: k-NN confusion matrix — sim9's majority-vote predictions
    * cross-tabulated against the queries' own labels: the (true, pred,
    * n) cells that precision/recall-per-class and error analysis read.
    * The prediction side is the verified sim9 engine; this adds one
    * broadcast label fetch and a ≤|labels|² aggregate. */
  private val a35Confusion: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.knnClassify(
        emb.where(col("vec_id") < 25), emb.where(col("vec_id") >= 25),
        "vec_id", "embedding", "vec_id", "embedding", "label", k = 10)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label")), "query_id")
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** J16: fuzzy entity-resolution join — deterministic typo'd probes
    * (every 97th customer, 3rd character dropped) matched back to the
    * catalog by char-trigram BLOCKING (inverted index, hot trigrams
    * capped — the boilerplate 'Customer#' prefix trigrams drop out by
    * count, exactly the d4 posture) and a bounded Levenshtein REFINE
    * over the surviving candidates only, top-3 per probe. The standard
    * two-phase design every production record-linkage system uses:
    * never all-pairs edit distance, candidates bounded by block sizes. */
  private val j16FuzzyJoin: Q = (s, dir) => {
    val maxBucket = 500
    def grams(name: Column): Column =
      array_distinct(transform(
        sequence(lit(1), greatest(length(name) - 2, lit(1))),
        i => substring(name, i, lit(3))))
    val cat = Tables.customer(s, dir)
      .select(col("c_custkey").as("cand_key"), col("c_name").as("cand_name"))
    val probes = Tables.customer(s, dir)
      .where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("probe_key"),
        concat(substring(col("c_name"), 1, 2), expr("substring(c_name, 4)"))
          .as("dirty"))
    val catIdx = cat.select(col("cand_key"), col("cand_name"),
        explode(grams(col("cand_name"))).as("__g"))
      .withColumn("__gc", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .where(col("__gc") <= maxBucket).drop("__gc")
    val probeIdx = probes.select(col("probe_key"), col("dirty"),
      explode(grams(col("dirty"))).as("__g"))
    val cands = probeIdx.join(catIdx, "__g")
      .select(col("probe_key"), col("dirty"), col("cand_key"),
        col("cand_name"))
      .distinct()
      .withColumn("lev", levenshtein(col("dirty"), col("cand_name")))
      .where(col("lev") <= 2)
    TopK.perGroup(cands, Seq(col("probe_key")),
        Seq(col("lev"), col("cand_name")), 3)
      .select(col("probe_key"), col("dirty"), col("cand_key"),
        col("cand_name"), col("lev").cast("long").as("lev"),
        col("rank").cast("long").as("rank"))
  }

  /** X30: length-bucketed batching audit — documents bucketed by token
    * count (width 32), with the padding waste a per-bucket batcher pays
    * (pad to bucket max) vs the naive global batcher (pad to corpus
    * max): the measurement that justifies length-grouped batch sampling
    * in any sequence-model training loop. One aggregate per bucket plus
    * one broadcast scalar (the corpus max). */
  private val x30LengthBuckets: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_tokens"))
    val gmax = toks.agg(max(col("n_tokens")).as("__gmax"))
    toks.crossJoin(broadcast(gmax))
      .withColumn("bucket", ceil(col("n_tokens") / lit(32.0)).cast("long"))
      .withColumn("__bmax", max(col("n_tokens")).over(
        Window.partitionBy(col("bucket"))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("__bmax") - col("n_tokens")).as("bucket_waste"),
        sum(col("__gmax") - col("n_tokens")).as("naive_waste"))
  }

  /** W20: diurnal activity profile — events per (type, UTC
    * hour-of-day) with each type's within-type share and its peak hour
    * flagged: the seasonality fingerprint monitoring compares against
    * before alerting on volume, and the feature bot detection reads
    * (uniform hour profiles are machines). Integer hour bucketing on
    * the ns epoch; one ≤24·|types| aggregate. */
  private val w20Diurnal: Q = (s, dir) => {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(ts div 3600000000000) % 24").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("share", round(col("n") * lit(1.0) /
        sum(col("n")).over(byType), 6))
      .withColumn("is_peak", row_number().over(
        byType.orderBy(col("n").desc, col("hour"))) === 1)
  }

  /** A36: per-class precision / recall / F1 from the sim9 k-NN
    * predictions — the class-level quality report a35's confusion
    * matrix feeds: per label, true positives over predicted (precision)
    * and over actual (recall), F1 from exact integer counts. Classes
    * with no predictions report precision 0 rather than dropping
    * (full outer over the per-class marginals). */
  private val a36ClassReport: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val pred = SimSearch.knnClassify(
        emb.where(col("vec_id") < 25), emb.where(col("vec_id") >= 25),
        "vec_id", "embedding", "vec_id", "embedding", "label", k = 10)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label")), "query_id")
    val tp = pred.where(col("pred_label") === col("true_label"))
      .groupBy(col("true_label").as("class")).agg(count(lit(1)).as("tp"))
    val actual = pred.groupBy(col("true_label").as("class"))
      .agg(count(lit(1)).as("n_actual"))
    val predicted = pred.groupBy(col("pred_label").as("class"))
      .agg(count(lit(1)).as("n_pred"))
    actual.join(predicted, Seq("class"), "full_outer")
      .join(tp, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", round(when(col("n_pred") > 0,
        col("tp") * lit(1.0) / col("n_pred")).otherwise(lit(0.0)), 6))
      .withColumn("recall", round(when(col("n_actual") > 0,
        col("tp") * lit(1.0) / col("n_actual")).otherwise(lit(0.0)), 6))
      .withColumn("f1", round(when(col("n_pred") + col("n_actual") > 0,
        lit(2.0) * col("tp") / (col("n_pred") + col("n_actual")))
        .otherwise(lit(0.0)), 6))
  }

  /** T34: language-ID evaluation — t1's stopword-profile guesser
    * cross-tabulated against the corpus's own lang labels, with each
    * true language's within-class share: the confusion view that says
    * WHERE the heuristic fails (zh detected fine, es/fr confusable)
    * before anyone trusts its routing decisions. Composition of the
    * verified t1 engine + one label join + a ≤|langs|² aggregate. */
  private val t34LangidEval: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextAnalysis.analyze(docs, "doc_id", "text")
      .select(col("doc_id"), col("lang_guess"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n") * lit(1.0) /
        sum(col("n")).over(Window.partitionBy(col("lang"))), 6))
  }

  /** M15: popularity-baseline backtest — m10's exact test protocol
    * (train 1998–99, test ≥ 2000, unseen-only recs, hit-rate /
    * precision / coverage) run for the 5 globally most-popular train
    * items instead of item-CF: THE baseline every recommender eval is
    * judged against; publishing m10 without this number is how weak
    * models look good. Top-5 is a TakeOrderedAndProject; recs are a
    * |users|×5 broadcast cross join minus the per-user history
    * anti-join — linear in users at any scale. */
  private val m15PopBacktest: Q = (s, dir) => {
    val oli = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
      col("o_orderkey") === col("l_orderkey"))
    val hist = oli.where(year(col("o_orderdate")).between(1998, 1999))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct()
    val pop = hist.groupBy(col("i")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("i")).limit(5)
      .select(col("i").as("item"))
    val test = oli.where(year(col("o_orderdate")) >= 2000)
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct()
    val recs = test.select(col("u")).distinct()
      .crossJoin(broadcast(pop))
      .join(hist.select(col("u"), col("i").as("item")),
        Seq("u", "item"), "left_anti")
    val m = recs.join(test.select(col("u"), col("i").as("item"),
        lit(1).as("__hit")), Seq("u", "item"), "left")
    val s1 = m.agg(countDistinct(col("u")).as("n_eval_users"),
      count(lit(1)).as("n_recs"), count(col("__hit")).as("n_hits"),
      countDistinct(when(col("__hit").isNotNull, col("u")))
        .as("n_hit_users"))
    val s2 = recs.agg(countDistinct(col("item")).as("n_rec_items"))
    val s3 = hist.agg(countDistinct(col("i")).as("n_train_items"))
    s1.crossJoin(broadcast(s2)).crossJoin(broadcast(s3))
      .select(col("n_eval_users"),
        round(col("n_hit_users").cast("double") / col("n_eval_users"), 6)
          .as("hit_rate"),
        round(col("n_hits").cast("double") / col("n_recs"), 6)
          .as("precision_at_5"),
        round(col("n_rec_items").cast("double") / col("n_train_items"), 6)
          .as("coverage"))
  }

  /** D20: cross-source duplication matrix — d5's near-dup pairs rolled
    * up by (source, source) with the pair order normalized so each
    * unordered source pair lands in one cell: which feeds copy from
    * which (news syndication, mirror sites) and how much each
    * contributes to the dedup burden — the report that decides
    * per-source dedup budgets in a multi-feed 100 TB ingest. */
  private val d20SourceOverlap: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.minHashPairsPortableAuto(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, minJaccardPct = 30,
        targetDetectPct = 80)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")),
        "doc_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("est_jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("est_jaccard")), 6).as("mean_est_jaccard"))
  }

  /** G17: k-hop reachability (BFS, 3 synchronous rounds) from the three
    * lowest-id nodes of the co-purchase graph — the traversal primitive
    * under "related within N hops" expansion and blast-radius queries.
    * Each round is one join + min-aggregate over the frontier, and 3
    * fixed rounds bound the work regardless of graph size. Distances are
    * exact minima — a node reached twice keeps the earlier hop. */
  private val g17Khop: Q = (s, dir) => {
    val ui = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 1995)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val und = ui.as("x").join(ui.as("y"), "b")
      .where(col("x.i") < col("y.i"))
      .select(col("x.i").as("u"), col("y.i").as("v"))
      .distinct()
    // loop-invariant: pinned on the per-hop probe key n (partitioned +
    // sorted + advertised — no per-hop shuffle of the edge side)
    val sym = graft.ops.Iterate.pin(
      Graph.symmetrize(und, "u", "v").toDF("n", "m"), col("n"))
    val seeds = sym.select(col("n")).distinct().orderBy(col("n")).limit(3)
      .withColumn("dist", lit(0L))
    val (fin, _) = graft.ops.Iterate.rounds(seeds, 3, snapInit = true,
        pins = Seq(sym)) { (dist, r) =>
      val expanded = dist.join(sym, "n")
        .select(col("m").as("n"), lit(r.toLong).as("dist"))
      Some(
        dist.unionAll(expanded).groupBy(col("n"))
          .agg(min(col("dist")).as("dist")))
    }
    fin.select(col("n").as("part"), col("dist"))
  }

  /** L9: partition-skew report — rows per month partition of the fact
    * table with each partition's share and ratio-to-mean, hot
    * partitions (>1.5× mean) flagged: the layout-health check that
    * catches the straggler partition BEFORE a 1000-executor job ships
    * one task 40× the others. One aggregate; the ratio math runs on
    * the ≤|partitions| aggregated frame. */
  private val l9SkewReport: Q = (s, dir) => {
    val parts = Tables.lineitem(s, dir)
      .groupBy(date_format(col("l_shipdate").cast("timestamp"), "yyyy-MM")
        .as("part"))
      .agg(count(lit(1)).as("nrows"))
    val tot = parts.agg(sum(col("nrows")).as("__tot"),
      count(lit(1)).as("__np"))
    parts.crossJoin(broadcast(tot))
      .select(col("part"), col("nrows"),
        round(col("nrows") * lit(1.0) / col("__tot"), 6).as("share"),
        round(col("nrows") * col("__np") / col("__tot").cast("double"), 6)
          .as("ratio_to_mean"))
      .withColumn("hot", col("ratio_to_mean") > 1.5)
  }

  /** X31: temporal split manifest — train/val/test cut at DAY
    * boundaries chosen from the cumulative event histogram (first day
    * where cum ≥ 70% / 85% of events): the leakage-free protocol for
    * anything time-ordered, where x1's random split would let the
    * model peek at the future. The histogram aggregate is linear; the
    * cumulative window runs over the ≤|days| aggregated frame, never
    * the events; integer day arithmetic keeps both engines bit-equal.
    * Reports per-split event/user mass and day range for balance
    * checks before training. */
  private val x31TemporalSplit: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val days = ev.groupBy(col("day")).agg(count(lit(1)).as("n"))
    val cum = days
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(days.agg(sum(col("n")).as("__tot"))))
    val cuts = cum.agg(
      min(when(col("cum") >= col("__tot") * 0.7, col("day"))).as("__c70"),
      min(when(col("cum") >= col("__tot") * 0.85, col("day"))).as("__c85"))
    ev.crossJoin(broadcast(cuts))
      .withColumn("split",
        when(col("day") <= col("__c70"), "train")
          .when(col("day") <= col("__c85"), "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
  }

  /** W25: activity streaks — the gaps-and-islands idiom: consecutive
    * active days collapse to one group via the day − row_number trick
    * (constant within a run, integer-exact), giving each user's longest
    * streak, its start day, streak count, and total active days — the
    * engagement features behind "7-day streak" product mechanics and
    * retention models. Two same-key window passes over one user-hash
    * shuffle. */
  private val w25Streaks: Q = (s, dir) => {
    val act = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val runs = act
      .withColumn("__grp", col("day") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("day"))))
      .groupBy(col("user_id"), col("__grp"))
      .agg(min(col("day")).as("start_day"), count(lit(1)).as("len"))
    val best = TopK.perGroup(runs, Seq(col("user_id")),
        Seq(col("len").desc, col("start_day")), 1)
      .select(col("user_id"), col("len").as("max_streak"),
        col("start_day").as("streak_start"))
    runs.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .join(best, "user_id")
  }

  /** T36: vocabulary-growth curve (Heaps' law check) — distinct token
    * types vs corpus position at 100-doc checkpoints: each token's
    * FIRST document (a min aggregate — linear, no ordered scan), new
    * types per checkpoint bucket, and the running vocabulary via a
    * window over the ≤|corpus|/100 bucket frame, never the tokens.
    * Sub-linear growth is healthy prose; near-linear growth means
    * boilerplate IDs/hashes are flooding the vocabulary — a corpus
    * intake gate. */
  private val t36VocabGrowth: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
        .as("tok"))
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("__fd"))
      .groupBy((floor(col("__fd") / 100) + 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val tokCount = toks
      .groupBy((floor(col("doc_id") / 100) + 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // token-count buckets are the spine: a checkpoint whose docs add no
    // NEW types must still appear (that flattening is the curve's point)
    tokCount.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("vocab", sum(col("new_types")).over(byBucket))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(byBucket))
      .select(col("bucket"), col("new_types"), col("n_tokens"),
        col("vocab"), col("cum_tokens"))
  }

  /** A38: rank-biased overlap between the two x27 rankers (parts by
    * units vs by revenue) — per depth d ≤ 10, the top-d overlap, the
    * agreement ov/d, and truncated RBO(p=0.9): the list-similarity
    * check run before swapping a ranker in production ("how different
    * is the new ordering, weighted toward the top"). Both lists are
    * 10 rows; everything after the two TakeOrdered cuts is
    * constant-size arithmetic. */
  private val a38Rbo: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    def top10(scoreExpr: Column): DataFrame = {
      val scored = li.groupBy(col("l_partkey").as("part"))
        .agg(round(scoreExpr, 6).as("score"))
      scored.orderBy(col("score").desc, col("part")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("part"))))
        .select(col("part"), col("rank"))
    }
    val a = top10(sum(col("l_quantity")))
    val b = top10(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
    val joined = a.select(col("part"), col("rank").as("ra"))
      .join(b.select(col("part"), col("rank").as("rb")), Seq("part"),
        "full_outer")
    joined
      .withColumn("d", explode(sequence(lit(1), lit(10))))
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(when(col("ra") <= col("d") && col("rb") <= col("d"), 1))
        .as("overlap"))
      .withColumn("agreement",
        round(col("overlap") * lit(1.0) / col("d"), 6))
      .withColumn("rbo_trunc", round(lit(0.1) * sum(
        pow(lit(0.9), col("d") - 1) * col("overlap") / col("d")).over(
          Window.orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6))
  }

  /** V7: truncated-dimension retrieval eval (matryoshka-style) —
    * recall@5 of searching on the FIRST 16 of 64 embedding dims against
    * the full-dimension exact top-5: the measurement behind "can we
    * store/scan a 4× cheaper prefix and re-rank the shortlist?" that
    * MRL-trained embedding deployments run before committing storage.
    * Same verified brute-force kernel on both sides; the truncation is
    * a zero-copy array slice pushed into the scan projection. */
  private val v7MatryoshkaEval: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val sliced = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    perQueryRecall(emb, SimSearch.bruteForceTopK(
        sliced.where(col("vec_id") < 10), sliced.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5))
  }

  /** SIM13: nearest-centroid classification — per-label mean embedding
    * (the Rocchio/prototype classifier, and exactly the structure an
    * IVF coarse quantizer learns), queries assigned to the
    * highest-cosine centroid. Lowered fully relationally: posexplode →
    * (label, dim) mean → dim-keyed join — |labels|·|dims| centroid
    * cells regardless of corpus size, no vector materialization on the
    * driver. The cheap baseline sim9's k-NN must beat to justify its
    * neighbor search. */
  private val sim13CentroidClassify: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 25)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
    val cent = corpus.groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("c"))
    val cnorm = cent.groupBy(col("label"))
      .agg(sqrt(sum(col("c") * col("c"))).as("__nc"))
    val q = emb.where(col("vec_id") < 25)
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "qx")))
    val qnorm = q.groupBy(col("query_id"))
      .agg(sqrt(sum(col("qx") * col("qx"))).as("__nq"))
    val scored = q.join(cent, "dim")
      .groupBy(col("query_id"), col("label"))
      .agg(sum(col("qx") * col("c")).as("__dot"))
      .join(qnorm, "query_id")
      .join(cnorm, "label")
      .select(col("query_id"), col("label"),
        round(col("__dot") / (col("__nq") * col("__nc")), 6).as("cosine"))
    TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("cosine").desc, col("label")), 1)
      .select(col("query_id"), col("label").cast("long").as("pred_label"),
        col("cosine"))
  }

  /** T37: Jensen-Shannon divergence between the English slice and the
    * rest of the corpus over the shared top-200 vocabulary (add-one
    * smoothing): the distribution-drift number that says HOW different
    * two corpus slices are before mixing them — symmetric, bounded
    * [0, ln 2], unlike raw KL. Vocabulary cap bounds every aggregate;
    * counts are exact integers, so both engines smooth and sum
    * identical doubles. */
  private val t37JsDivergence: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
        .as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("tok")).limit(200)
      .select(col("tok"))
    val counts = toks.join(broadcast(vocab), "tok")
      .groupBy(col("tok"))
      .agg(count(when(col("lang") === "en", 1)).as("pe"),
        count(when(col("lang") =!= "en", 1)).as("qe"))
    val tot = counts.agg(sum(col("pe")).as("__tp"), sum(col("qe")).as("__tq"),
      count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("pe") + 1) / (col("__tp") + col("__v")))
      .withColumn("q", (col("qe") + 1) / (col("__tq") + col("__v")))
      .withColumn("m", (col("p") + col("q")) / 2)
      .agg(count(lit(1)).as("vocab_size"),
        round(sum(col("p") * log(col("p") / col("m"))), 6).as("kl_pm"),
        round(sum(col("q") * log(col("q") / col("m"))), 6).as("kl_qm"),
        round(lit(0.5) * sum(col("p") * log(col("p") / col("m")))
          + lit(0.5) * sum(col("q") * log(col("q") / col("m"))), 6)
          .as("js"))
  }

  /** D21: dedup threshold sensitivity — pair and affected-document
    * counts at Jaccard thresholds {0.3, 0.5, 0.7, 0.9} from ONE pass of
    * the d5 banding engine (candidates floored at 0.25, then a
    * 4-element threshold explode): the tuning curve that picks a dedup
    * threshold by its removal rate BEFORE running the full pipeline at
    * each candidate setting. Work is bounded by the capped banding
    * exactly as d5. */
  private val d21ThresholdSweep: Q = (s, dir) => {
    // persist: both union legs below reuse the banding pipeline — the
    // expensive stage; cached, it runs once (between-query quiesce
    // releases it)
    val base = Dedup.minHashPairsPortableAuto(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, numHashes = 16,
        minJaccardPct = 25, targetDetectPct = 80)
      .persist()
    val pairs = base
      .withColumn("threshold",
        explode(array(lit(0.3), lit(0.5), lit(0.7), lit(0.9))))
      .where(col("est_jaccard") >= col("threshold"))
    pairs
      .select(col("threshold"), col("doc_a").as("doc"))
      .unionAll(pairs.select(col("threshold"), col("doc_b").as("doc")))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs"))
  }

  /** W27: engagement stickiness — per ISO-ish week (day÷7 bucket),
    * weekly active users, mean daily actives over the 7-day window,
    * and DAU/WAU stickiness: the retention-adjacent topline every
    * consumer product reports. Two aggregates over the distinct
    * (user, day) frame; the denominator is the constant 7 so partial
    * edge weeks read as true weekly averages, not inflated ones. */
  private val w27Stickiness: Q = (s, dir) => {
    val act = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .withColumn("week", expr("day div 7"))
    val wau = act.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = act.groupBy(col("week"), col("day"))
      .agg(count(lit(1)).as("__dau"))
      .groupBy(col("week"))
      .agg((sum(col("__dau")) / 7.0).as("__avg_dau"))
    wau.join(dau, "week")
      .select(col("week"), col("wau"),
        round(col("__avg_dau"), 6).as("avg_dau"),
        round(col("__avg_dau") / col("wau"), 6).as("stickiness"))
  }

  /** V8: embedding-norm audit — count, mean/min/max L2 norm, explicit
    * sums-formula sample SD, and how many vectors are NOT unit-norm
    * (|‖v‖−1| > 1e-3): the first thing to check when cosine scores
    * look wrong, since an un-normalized slice silently biases every
    * dot-product ranking. Per-row norms round to 6 before aggregating
    * (the sim9 convention) so both engines fold identical values; the
    * SD uses the explicit Σx/Σx² form so both engines run the SAME
    * algorithm rather than their library's. */
  private val v8NormAudit: Q = (s, dir) => {
    val norms = Tables.embeddings(s, dir)
      .select(round(VectorOps.l2Norm(col("embedding")), 6).as("nm"))
    norms.agg(count(lit(1)).as("n_vecs"),
        sum(col("nm")).as("__s"), sum(col("nm") * col("nm")).as("__s2"),
        round(min(col("nm")), 6).as("min_norm"),
        round(max(col("nm")), 6).as("max_norm"),
        count(when(abs(col("nm") - 1.0) > 0.001, 1)).as("n_non_unit"))
      .select(col("n_vecs"),
        round(col("__s") / col("n_vecs"), 6).as("mean_norm"),
        round(sqrt((col("__s2") - col("__s") * col("__s") / col("n_vecs"))
          / (col("n_vecs") - 1)), 6).as("sd_norm"),
        col("min_norm"), col("max_norm"), col("n_non_unit"))
  }

  /** SIM14: IVF probe-depth tuning curve — mean recall@5 vs exact for
    * nProbe ∈ {1, 2, 4, 8} over the sim5 portable index, in one query:
    * the ANN counterpart of d21's dedup threshold sweep, and the curve
    * that picks the latency/recall operating point before an index
    * ships. Four probe depths re-run the probe stage only conceptually;
    * at fixture scale the four pipelines re-execute and stay cheap —
    * a production sweep would snapshot the assignment stage once. */
  private val sim14NprobeCurve: Q = (s, dir) =>
    nProbeRecallCurve(Tables.embeddings(s, dir), c =>
      SimSearch.mdPull(c, "vec_id", "embedding", 8))

  /** sim14/sim16's curve over the portable index whose centroids
    * `centsOf` pulls once for all four depths. */
  private def nProbeRecallCurve(emb: DataFrame,
      centsOf: DataFrame => Seq[Seq[Double]]): DataFrame = {
    val q = emb.where(col("vec_id") < 10)
    val c = emb.where(col("vec_id") >= 10)
    val cents = centsOf(c)
    val approx = Seq(1, 2, 4, 8).map { p =>
      SimSearch.ivfTopKWithCents(q, c, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, cents = cents, nProbe = p)
        .select(lit(p.toLong).as("n_probe"), col("query_id"),
          col("item_id"), lit(1).as("__hit"))
    }.reduce(_ unionAll _)
    annTruth(emb)
      .withColumn("n_probe",
        explode(array(lit(1L), lit(2L), lit(4L), lit(8L))))
      .join(approx, Seq("n_probe", "query_id", "item_id"), "left")
      .groupBy(col("n_probe"), col("query_id"))
      .agg(count(lit(1)).as("__ne"), count(col("__hit")).as("__nh"))
      .groupBy(col("n_probe"))
      .agg(round(avg(col("__nh") * lit(1.0) / col("__ne")), 6)
        .as("mean_recall"), count(lit(1)).as("n_queries"))
  }

  /** SIM16: nProbe recall curve for the AUTO-sized index
    * ([[SimSearch.ivfTopKPortableAuto]], target cell size 64) — sim14's
    * sweep on sim15's sizing, stating the auto-sizing trade HONESTLY:
    * auto cells keep per-probe COST ≈ target·nProbe rows at any corpus
    * size, which means the probe FRACTION (nProbe/nCells) shrinks as
    * the corpus grows — and on unclustered (iid-random fixture)
    * vectors, recall tracks the probe fraction, so a constant nProbe
    * trades recall for the constant cost. On real clustered embeddings
    * the nearest cells hold the true neighbors and recall holds; this
    * curve is the instrument that MEASURES which regime a corpus is in
    * before the index ships (at the gate fixture nc = 8 and the curve
    * coincides with sim14's; at 100× nc = 3,125 and the same query
    * reports the shrunken-fraction recall — see PLANS.md round 9). */
  private val sim16AutoRecallCurve: Q = (s, dir) =>
    nProbeRecallCurve(Tables.embeddings(s, dir), c =>
      SimSearch.mdPull(c, "vec_id", "embedding",
        SimSearch.autoCellsOf(c, 64L)))

  /** SIM17: recall-TARGETED auto-nProbe IVF top-k
    * ([[SimSearch.ivfTopKAutoProbePortable]]) — the round-9 verdict's
    * probe policy: sim16 measured that the auto-sized index can
    * silently ship low recall on unclustered corpora when nProbe is a
    * caller constant; here nProbe is CHOSEN per corpus as the smallest
    * ladder depth whose calibration recall (vec_id < 5 sample,
    * brute-force ground truth, integer micro-average) meets the 80%
    * target, falling back to the ladder max when the corpus is in the
    * shrunken-fraction regime. The chosen depth ships as an output
    * column; the DuckDB twin recomputes the identical calibration and
    * choice (pure integer threshold — no float-mean knife edge). */
  private val sim17AutoNprobe: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopKAutoProbePortable(
        emb.where(col("vec_id") < 10),  // served query batch
        emb.where(col("vec_id") < 5),   // calibration sample
        emb.where(col("vec_id") >= 10), // corpus
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, targetCellSize = 64L, recallPctTarget = 80)
      .select(col("n_probe"), col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** SIM18: held-out audit of sim17's policy
    * ([[SimSearch.autoNProbeHoldoutAudit]]) — calibrate on vec_id < 5,
    * then measure the CHOSEN depth's recall on queries 5–9 the
    * calibration never saw: one integer row (n_probe, hits, truth,
    * recall_pct_floor, meets_target 0/1). The shipping gate that says
    * whether the policy generalizes off its calibration sample — and
    * the row the 100× iid-vs-clustered scale evidence quotes. */
  private val sim18PolicyHoldout: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.autoNProbeHoldoutAudit(
        emb.where(col("vec_id") < 5),
        emb.where(col("vec_id") >= 5 && col("vec_id") < 10),
        emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, targetCellSize = 64L, recallPctTarget = 80)
  }

  /** SIM19: IVF index drift audit ([[SimSearch.ivfDriftAudit]]) — the
    * RE-FIT signal of the ANN index lifecycle (fit once per corpus
    * snapshot, serve many batches, re-fit when the data moves): the
    * index is fitted on 80% of the corpus (every vec_id % 5 ≠ 0), the
    * held-back 20% plays the newly-arrived batch, and the audit
    * reports per cell how incoming mass distributes vs fit-time mass
    * and whether incoming rows assign with degraded cosine — load skew
    * and description drift, the two triggers that invalidate an index.
    * The d23/d25 capacity-audit discipline applied to the IVF family's
    * lifecycle. */
  private val sim19IndexDrift: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    SimSearch.ivfDriftAudit(
      emb.where(col("vec_id") % 5 =!= 0),
      emb.where(col("vec_id") % 5 === 0),
      "vec_id", "embedding", targetCellSize = 64L)
  }

  /** SIM20: the recall-targeted probe policy on the PRODUCTION k-means
    * index ([[SimSearch.ivfTopKAutoProbe]]) — sim17's real-index twin:
    * fit [[SimSearch.ivfIndexAuto]] once, calibrate the serving depth
    * on the vec_id < 5 sample, serve the full batch at the chosen
    * depth. Rows-only (k-means is not oracle-replayable); the
    * oracle-exact sibling sim17 pins the selection math — the
    * sim2→sim4 twin discipline. */
  private val sim20KmeansAutoProbe: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.ivfTopKAutoProbe(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") < 5),
        emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, targetCellSize = 64L, recallPctTarget = 80)
      .select(col("n_probe"), col("query_id"), col("item_id"),
        round(col("cosine"), 6).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** SIM21: event-time-windowed IVF drift monitor
    * ([[SimSearch.ivfDriftWindowed]]) — the BATCH registry face of the
    * streaming index monitor
    * ([[graft.streaming.IndexMonitor.cellDriftStream]], whose
    * stream ≡ batch parity StreamingSpec pins): sim19's fit-vs-incoming
    * audit, but the incoming side aggregated per (1-minute event-time
    * window, cell) with the fit baseline joined on. Event time is
    * synthesized deterministically from the key
    * (epoch 1704067200 + vec_id mod 180 → three windows) so the DuckDB
    * twin replays the windows as pure integer epoch math — window
    * bounds ship as epoch-second longs, never rendered timestamps. */
  private val sim21CellDriftWindowed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    val inc = emb.where(col("vec_id") % 5 === 0)
      .withColumn("__ts",
        timestamp_seconds(lit(1704067200L) + col("vec_id") % 180))
    SimSearch.ivfDriftWindowed(
      emb.where(col("vec_id") % 5 =!= 0), inc,
      "vec_id", "embedding", "__ts", targetCellSize = 64L)
  }

  /** SIM22: the ANN lifecycle's ACT stage
    * ([[SimSearch.refitIfDrifted]]) — sim19/sim21 DETECT drift; this
    * acts on it: run the drift audit, decide re-fit by two
    * integer-replayable triggers (load skew: hottest cell ≥ 3× the mean
    * incoming load; cosine drift: any ≥ 5-row cell assigning ≥ 0.02
    * cosine worse than its fit population), and emit the SERVING
    * centroid set — re-pulled over fit ∪ incoming when triggered,
    * fit-time otherwise — with the decision as columns. The DuckDB twin
    * replays audit, decision and conditional re-pull end to end, the
    * sim17 policy discipline applied to index maintenance. */
  private val sim22RefitPolicy: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    SimSearch.refitIfDrifted(
      emb.where(col("vec_id") % 5 =!= 0), emb.where(col("vec_id") % 5 === 0),
      "vec_id", "embedding", targetCellSize = 64L,
      skewFactor = 3, driftMilli = 20, minCellN = 5L)
  }

  /** SIM23: the refit policy's NO-OP branch, cross-engine-verified —
    * sim22's twin at a conservative drift threshold (0.10 cosine vs
    * 0.02): on this corpus the audit's worst populated-cell drift is
    * −0.0227, so sim22 refits (marginal drift fire — the calibration
    * finding in the scaladoc, PLANS.md "Round 11: the engine's own new
    * surface closed") while this query correctly KEEPS the fit-time index (refit=0, fit-only centroid set). With
    * both registered, BOTH decision branches — and the fact that the
    * threshold alone flips them — are pinned by the DuckDB replay,
    * not just by specs. */
  private val sim23RefitNoop: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    SimSearch.refitIfDrifted(
      emb.where(col("vec_id") % 5 =!= 0), emb.where(col("vec_id") % 5 === 0),
      "vec_id", "embedding", targetCellSize = 64L,
      skewFactor = 3, driftMilli = 100, minCellN = 5L)
  }

  /** SIM26: event-time-windowed PQ distortion monitor
    * ([[SimSearch.pqDistortionWindowed]], the batch face of
    * [[graft.streaming.IndexMonitor.pqDistortionStream]]) — sim21's
    * twin for the PQ family: per 1-minute ingest window, the mean
    * squared reconstruction error against the fit-time codebooks, with
    * the fit-side baseline joined on so every row carries its
    * distortion delta. Same corpus split and synthetic event times as
    * sim21, so the oracle reuses its window arithmetic plus sim24's
    * encode replay; window bounds ship as epoch-second longs. */
  private val sim26PqDistortionWindowed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    val inc = emb.where(col("vec_id") % 5 === 0)
      .withColumn("__ts",
        timestamp_seconds(lit(1704067200L) + col("vec_id") % 180))
    SimSearch.pqDistortionWindowed(
      emb.where(col("vec_id") % 5 =!= 0), inc,
      "vec_id", "embedding", "__ts", dim = 64, m = 4, k = 4)
  }

  /** LLM-D37: empirical sign-LSH S-curve audit
    * ([[SimSearch.signBandPlanAudit]]) — d33's discipline for the
    * embedding family, which had only the d23 capacity audit: exact
    * pairwise cosines (6-dp, floor 0.1) bucketed 0.1-wide and checked
    * against the banding candidate set under the planned (8, 2) layout
    * at the d6 (c = 0.40, 80%) operating point; each bucket ships
    * measured detection beside the `1 − (1 − p^width)^bands` curve at
    * its midpoint (p = 1 − acos·/π). The registered query runs the
    * scaladoc's audit-sample contract AS WRITTEN: a deterministic
    * md5-picked ~50% of the corpus (recall is a per-pair property, so
    * the sampled estimate is unbiased and the quadratic exact side
    * costs a quarter) — the sample predicate is replayed by the
    * oracle, so the contract itself is cross-engine-pinned. */
  private val d37SignPlanAudit: Q = (s, dir) =>
    SimSearch.signBandPlanAudit(
      Tables.embeddings(s, dir)
        .where(substring(md5(col("vec_id").cast("string")), 1, 1) < "8"),
      "vec_id", "embedding", dim = 64, nBits = 16, minCosinePct = 40,
      targetDetectPct = 80)

  /** LLM-D38: empirical SimHash recall audit
    * ([[Dedup.simHashPlanAudit]]) — the d33/d37 discipline for the
    * THIRD banded family, which until now had only capacity audits
    * (d25/d30): exact pairwise 64-bit Hamming ground truth (brute,
    * over the d37 md5 half-sample — recall is a per-pair property so
    * the estimate is unbiased) through Hamming 12, checked against
    * the candidate set of [[Dedup.simHashPairsAuto]]'s serving layout
    * (4 disjoint auto-width lanes, hot-bucket cap 1000); per Hamming
    * distance the measured detection ships beside the analytic
    * inclusion–exclusion pigeonhole curve
    * `Σ (−1)^{m+1} C(4,m)·C(64−m·w, h) / C(64, h)` — exact-BigInt
    * quotients the oracle rebuilds via `round(exp(lgamma(·)))`.
    * Buckets h < 4 must read 1.0 unless the cap dropped rows — the
    * silent-loss state this audit exists to surface. */
  private val d38SimhashPlanAudit: Q = (s, dir) =>
    Dedup.simHashPlanAudit(
      Tables.documents(s, dir)
        .where(substring(md5(col("doc_id").cast("string")), 1, 1) < "8"),
      "doc_id", "text", maxHamming = 12)

  /** LLM-D39: sign-LSH banding replan policy, REBAND branch
    * ([[SimSearch.signReplanIfUndershot]]) — the d34/d35 ACT
    * discipline for the family d37 taught to measure: a legacy
    * (16 bits, 2 bands × 8) layout at the d37 (c = 0.40, 80%)
    * operating point detects ~5% analytically; the qualifying cosine
    * buckets go undetected, the ANY-BUCKET integer trigger fires, and
    * the doubling ladder's k = 0 rung already qualifies with a
    * DIFFERENT divisor — (8 bands × 2) at 0.983 — so the remedy is a
    * REBAND at the same signature length. The oracle replays the
    * exact-cosine join, the banded candidate set, the per-bucket
    * trigger AND the doubling-ladder divisor scan. */
  private val d39SignReplan: Q = (s, dir) =>
    SimSearch.signReplanIfUndershot(
      Tables.embeddings(s, dir)
        .where(substring(md5(col("vec_id").cast("string")), 1, 1) < "8"),
      "vec_id", "embedding", dim = 64, nBits = 16, bands = 2,
      minCosinePct = 40, targetDetectPct = 80)

  /** LLM-D40: sign-LSH replan policy, KEEP branch — d39's no-op twin
    * (the d35 discipline): the PLANNED (16, 8 × 2) layout at its own
    * (c ≥ 0.40, 80%) operating point detects every qualifying bucket
    * (d37 measured 94–100% per bucket), so the policy keeps the
    * serving layout and re-states it with its analytic detection. The
    * threshold math that does NOT fire is pinned cross-engine
    * alongside d39's firing branch. */
  private val d40SignReplanKeep: Q = (s, dir) =>
    SimSearch.signReplanIfUndershot(
      Tables.embeddings(s, dir)
        .where(substring(md5(col("vec_id").cast("string")), 1, 1) < "8"),
      "vec_id", "embedding", dim = 64, nBits = 16, bands = 8,
      minCosinePct = 40, targetDetectPct = 80)

  /** LLM-D41: SimHash fingerprint-width policy, WIDEN branch
    * ([[Dedup.simHashWidenIfUndershot]]) — the ACT stage completing
    * the plan → audit (d38) → act matrix for the SimHash family,
    * whose only remedy dimension is fingerprint width (the 4 disjoint
    * lanes are fixed by construction; 64 → 128 is the d29 mechanism).
    * A hot-bucket cap of 1 starves EVERY bucket (any bucket with ≥ 2
    * members — i.e. any bucket that could emit a pair — is dropped),
    * so the pigeonhole-qualifying pairs at h ≤ 3 go undetected, the
    * integer trigger fires, and the policy mandates the 128-bit
    * family at the un-16-clamped auto width — the capacity-starvation
    * state the d24 residual wall describes, reproduced
    * deterministically. */
  private val d41SimhashWiden: Q = (s, dir) =>
    Dedup.simHashWidenIfUndershot(
      Tables.documents(s, dir)
        .where(substring(md5(col("doc_id").cast("string")), 1, 1) < "8"),
      "doc_id", "text", maxHamming = 3, targetDetectPct = 99,
      maxBucket = 1)

  /** LLM-D42: the SimHash width policy's KEEP branch — d41's no-op
    * twin: at the serving cap (1000) no bucket is starved, the
    * pigeonhole bound holds empirically (detection 1.0 through
    * h ≤ 3), and the policy re-states the 64-bit layout. */
  private val d42SimhashWidenKeep: Q = (s, dir) =>
    Dedup.simHashWidenIfUndershot(
      Tables.documents(s, dir)
        .where(substring(md5(col("doc_id").cast("string")), 1, 1) < "8"),
      "doc_id", "text", maxHamming = 3, targetDetectPct = 99)

  // ── error-bound twins for the approximate (rows-only) queries ──────
  // Each `no_oracle` approximation gets the COMPARISON against its
  // exact twin registered as an oracle-checked query. Two replay
  // grades, stated per query: DUAL — both engines run their own
  // approximation and replay the identical bound check against the
  // identical exact base (a sketch regression in either engine flips
  // its flag and the hash compare catches it); ONE-SIDED — the kernel
  // is engine-specific by construction (xxhash64 signatures, MLlib
  // k-means), so the oracle replays the exact base and pins the flag's
  // expected value as a literal: an engine-side recall/error collapse
  // still flips the row and fails the gate, but the oracle does not
  // independently re-derive the approximation.

  /** The ANN registry's ground truth: the brute-force top-5 (query_id,
    * item_id) of the queries vec_id < 10 over the other embeddings. */
  private def annTruth(emb: DataFrame): DataFrame =
    SimSearch.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("item_id"))

  /** Per-query recall@5 of `approx` against [[annTruth]]; a query whose
    * approximate list misses everything still reports recall 0. */
  private def perQueryRecall(emb: DataFrame, approx: DataFrame): DataFrame =
    annTruth(emb)
      .join(approx.select(col("query_id"), col("item_id"), lit(1).as("__hit")),
        Seq("query_id", "item_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") * lit(1.0) / col("n_exact"), 6))

  /** One-row recall floor of an approximate result against an
    * oracle-replayable truth set — the ENFORCE stage of the index
    * lifecycle, now shared via [[graft.llmops.IndexMaintenance
    * .recallFloor]] (which also backs the streaming face,
    * [[graft.streaming.IndexMonitor.recallFloorEachBatch]]): the floor
    * sits well below the measured recall so only a real regression
    * flips it. */
  private def recallFloor(approx: DataFrame, truth: DataFrame,
      keys: Seq[String], floorPct: Int): DataFrame =
    graft.llmops.IndexMaintenance.recallFloor(approx, truth, keys,
      floorPct)

  /** A37: HLL error bound (a14's oracle-checked comparison, DUAL
    * replay) — per source: exact distinct-digest count beside a 20%
    * relative bound on the engine's own HLL estimate (rsd 0.02 → the
    * bound sits ~10σ out; DuckDB replays with its own
    * approx_count_distinct). */
  private val a37HllErrorBound: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(countDistinct(md5(col("text"))).as("n_exact"),
        approx_count_distinct(md5(col("text")), 0.02).as("__est"))
      .select(col("source"), col("n_exact"),
        when(abs(col("__est") - col("n_exact")) * 100
          <= col("n_exact") * 20, 1L).otherwise(0L).as("within_bound"))

  /** A43: Greenwald–Khanna rank bound (a16's comparison, DUAL replay)
    * — the honest bound for a quantile sketch is on RANK, not value:
    * per priority group, the rank of the engine's own median estimate
    * (count of rows ≤ it) must sit within 5% · n of n/2. Spark's GK at
    * accuracy 1000 guarantees 0.1% · n; DuckDB replays the same check
    * against its own t-digest approx_quantile. */
  private val a43GkRankBound: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val est = o.groupBy(col("o_orderpriority"))
      .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000))
          .as("__m"),
        count(lit(1)).as("__n"))
    o.join(est, "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(first(col("__n")).as("n"),
        sum(when(col("o_totalprice") <= col("__m"), 1L).otherwise(0L))
          .as("__r"))
      .select(col("o_orderpriority"), col("n"),
        when(abs(col("__r") * 2 - col("n")) * 10 <= col("n"), 1L)
          .otherwise(0L).as("within_bound"))
  }

  /** A44: KMV error bound (a27's comparison, DUAL replay) — the exact
    * overlap base (a28's plan) beside a 10% bound on all three KMV
    * estimates; at k = 256 and this corpus the sketches are
    * unsaturated (estimate = exact). DuckDB replays the overlap bound
    * via inclusion–exclusion over its own approx_count_distinct. */
  private val a44KmvErrorBound: Q = (s, dir) => {
    val k = 256
    val ev = Tables.events(s, dir)
      .where(col("event_type").isin("click", "purchase"))
    val exact = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      .agg(sum(col("c")).cast("long").as("n_click"),
        sum(col("p")).cast("long").as("n_purchase"),
        sum(col("c") * col("p")).cast("long").as("n_overlap"))
    val evh = ev.select(col("event_type"),
      KmvAgg.hash64(col("user_id")).as("h"))
    val sk = evh.agg(
      KmvAgg.kmv(when(col("event_type") === "click", col("h")), k).as("sa"),
      KmvAgg.kmv(when(col("event_type") === "purchase", col("h")), k).as("sb"))
    val (ea, eb, eo) = KmvAgg.overlap(col("sa"), col("sb"), k)
    exact.crossJoin(sk)
      .select(col("n_click"), col("n_purchase"), col("n_overlap"),
        when(abs(round(ea) - col("n_click")) * 10 <= col("n_click") &&
          abs(round(eb) - col("n_purchase")) * 10 <= col("n_purchase") &&
          abs(round(eo) - col("n_overlap")) * 10 <= col("n_overlap"), 1L)
          .otherwise(0L).as("within_bound"))
  }

  /** T39: CMS error bound (t14's comparison, ONE-SIDED) — per exact
    * top-30 token: the sketch estimate must never undercount and must
    * overcount by ≤ eps · N (eps = 0.001, N = total tokens — the CMS
    * guarantee, measured overcount 0 at the fixture). The exact
    * (token, n_exact) base is the t15 replay; DuckDB has no CMS, so
    * the flag's expected value is pinned as a literal. */
  private val t39CmsErrorBound: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val n = toks.agg(count(lit(1)).as("__N"))
    val sketch = toks.agg(count_min_sketch(col("token"),
      lit(0.001), lit(0.99), lit(42)).as("__sk"))
    val est = SketchFunctions.cmsEstimate(col("__sk"), col("token"))
    t15HeavyHittersExact(s, dir)
      .crossJoin(broadcast(sketch)).crossJoin(broadcast(n))
      .select(col("token"), col("n_exact"),
        when(est >= col("n_exact") &&
          (est - col("n_exact")) * 1000 <= col("__N"), 1L)
          .otherwise(0L).as("within_bound"))
  }

  /** SIM27: LSH top-k recall floor (sim2's comparison, ONE-SIDED) —
    * sim2 against the brute-force top-5 truth (m1's plan, fully
    * replayable). The 8-bit single-probe layout is candidate-starved
    * BY DESIGN (measured 12% — the trade sim4/sim6 document), so the
    * floor pins it above collapse (10%), not at ANN-grade recall. */
  private val sim27LshRecallFloor: Q = (s, dir) =>
    recallFloor(sim2LshTopk(s, dir), annTruth(Tables.embeddings(s, dir)),
      Seq("query_id", "item_id"), 10)

  /** SIM28: IVF top-k recall floor (sim3's comparison, ONE-SIDED) —
    * measured 74% at (8 cells, 4 probes); floor 60. */
  private val sim28IvfRecallFloor: Q = (s, dir) =>
    recallFloor(sim3IvfTopk(s, dir), annTruth(Tables.embeddings(s, dir)),
      Seq("query_id", "item_id"), 60)

  /** SIM29: k-means auto-probe recall floor (sim20's comparison,
    * ONE-SIDED) — the recall-targeted policy on the PRODUCTION index
    * against brute truth; measured 100% at the 80%-recall-target
    * depth; floor 80 (the policy's own declared target). */
  private val sim29KmeansRecallFloor: Q = (s, dir) =>
    recallFloor(sim20KmeansAutoProbe(s, dir), annTruth(Tables.embeddings(s, dir)),
      Seq("query_id", "item_id"), 80)

  /** SIM32: cosine range search ([[SimSearch.lshRangeSearchPortable]])
    * — the vector-DB query shape top-k cannot express: every corpus
    * item within cosine ≥ 0.15 of each query, result size
    * data-dependent (a policy screen / radius-dedup probe, not a
    * fixed-k recall list). Same md5-portable bucket structure as sim4,
    * but the 6-dp threshold replaces the rank — no per-group shuffle
    * at all, the bucket join is the only wide op. Oracle replays the
    * plane signing, Hamming-1 probing and the rounded threshold. */
  private val sim32RangeSearch: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimSearch.lshRangeSearchPortable(
      emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
      "vec_id", "embedding", "vec_id", "embedding",
      minCosine = 0.15, dim = 64, nBits = 8)
  }

  /** LLM-D45: dedup mass report — the cluster-size histogram a
    * curation run reads BEFORE committing to the rewrite: near-dup
    * clusters rolled up to (cluster_size, n_clusters, n_docs,
    * n_removable), where n_removable = (size − 1) · n_clusters is the
    * mass a keep-one-canonical pass deletes. Singletons (no near-dup
    * edge) are not cluster members, so the histogram is exactly the
    * affected-mass view; Σ n_removable / corpus size is the dedup
    * rate the run's cost-benefit decision needs. The two rollups are
    * INPUT-AGNOSTIC — they read any (member, cluster_id) frame and
    * emit ≤ max-cluster-size rows at any corpus size. THIS
    * registration feeds them d7's exact-kernel components (the
    * documented md5-sampled audit class — precise but quadratic-by-
    * design pair generation); the form a 100 TB run executes is
    * [[d46DupMassBanded]], the same rollups over the banded d10
    * pipeline's components (r14 verdict item 3). */
  private val d45DupMassReport: Q = (s, dir) =>
    Dedup.dupClusters(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, minJaccard = 0.6, maxBucket = 1000)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))

  /** LLM-D46: dedup mass report, BANDED path — d45's histogram rollups
    * fed by the components a 100 TB curation run actually computes:
    * the d10 pipeline's quality gate ▷ exact dedup ▷ MinHash-LSH
    * banded pair generation ▷ connected components. No stage here is
    * quadratic: pair candidates come from the planner-chosen (8, 2)
    * band layout with capped buckets, so the whole report costs one
    * banded-dedup pass plus two bounded aggregates (the histogram is
    * ≤ max-cluster-size rows at any corpus). d45 (exact-kernel input)
    * is the audit-class twin that bounds what banding misses; this is
    * the production read. Oracle replays the full d10 CTE chain with
    * the histogram as the terminal rollup. */
  private val d46DupMassBanded: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val qual = graft.ops.Par.spread(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"),
        TextFunctions.hashedClassifierScore(col("text")).as("__q"))
      .where(col("__q") >= 0.5)
    val exact = Dedup.exactRows(qual, "doc_id", "text")
    // planned (8, 2) at (j = 0.50, target 80%) — the d10 operating point
    val pairs = Dedup.minHashPairsPortableAuto(exact, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)
    Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
  }

  /** LLM-D47: SAMPLED band-plan audit — d33's measure stage run the way
    * a 100 TB deployment actually runs it: over the deterministic md5
    * half-sample ([[graft.llmops.IndexMaintenance.md5Sample]], ceiling
    * "8" = 8/16), with the EXTRACT stage itself replayed in the oracle
    * (`substring(md5(id), 1, 1) < '8'`), so the whole sampled-audit
    * contract — slice membership AND the per-bucket detection counts
    * computed on it — is pinned cross-engine, not just spec-pinned.
    * Detection is a per-pair property, so the sampled estimate is
    * unbiased; pair evidence survives at the fraction squared, which
    * is why the ceiling is an explicit operating knob (size it from
    * the d45/d46 dup-mass report). PLANS.md "MinHash band family joins
    * MaintScale" runs this same contract at a 100× corpus with a 2-hex
    * ceiling. */
  private val d47SampledBandAudit: Q = (s, dir) =>
    Dedup.bandPlanAudit(
      graft.llmops.IndexMaintenance.md5Sample(
        Tables.documents(s, dir), "doc_id", "8", pin = false),
      "doc_id", "text", shingleN = 3, numHashes = 16,
      minJaccardPct = 50, targetDetectPct = 80)

  /** LLM-D43: fast-MinHash recall floor (d26's comparison, ONE-SIDED)
    * — the xxhash64 production kernel's pair set against the exact
    * n-gram Jaccard ≥ 0.30 truth (the d4 inverted-index replay);
    * measured 25/25; floor 80. */
  private val d43MinhashFastFloor: Q = (s, dir) =>
    recallFloor(d26MinhashFast(s, dir),
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id",
          "text", shingleN = 3, minJaccard = 0.30)
        .select(col("doc_a"), col("doc_b")),
      Seq("doc_a", "doc_b"), 80)

  /** LLM-D44: fast-SimHash recall floor (d27's comparison, ONE-SIDED)
    * — the xxhash64 64-bit kernel at Hamming ≤ 3 against the same
    * exact j ≥ 0.30 truth; a j ≈ 0.9 pair can legitimately sit past
    * Hamming 3 (measured 15/25 = 60%), so the floor is 40 — it pins
    * the kernel above collapse, the d26/d27 twins pin bit-exactness. */
  private val d44SimhashFastFloor: Q = (s, dir) =>
    recallFloor(d27SimhashFast(s, dir),
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id",
          "text", shingleN = 3, minJaccard = 0.30)
        .select(col("doc_a"), col("doc_b")),
      Seq("doc_a", "doc_b"), 40)

  /** V9: trained-PQ distortion bound (v4's comparison, ONE-SIDED) —
    * the k-means codebooks must not quantize WORSE than the untrained
    * md5-pulled v3 codebooks they replace (measured 0.89 vs 1.39 mean
    * squared error). The untrained side is the full v3 replay
    * (per-sub 6-dp distances, terminal-rounded sum, micro-integerized
    * mean — the sim24 discipline); the trained side enters only the
    * flag, since MLlib k-means is not oracle-replayable. */
  private val v9PqTrainedBound: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val (_, cbU) = SimSearch.mdCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 4)
    val cbT = VectorOps.pqTrain(emb, "embedding", dim = 64, m = 4, k = 4)
    def micros(cb: Seq[Seq[Seq[Double]]]): DataFrame = emb
      .select(VectorOps.pqSqError(
        VectorOps.pqAssign(col("embedding"), cb)).as("__e"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__e")), 6).as("__s"))
      .select(col("n"),
        round(col("__s") / col("n") * 1e6).cast("long").as("mu"))
    micros(cbU).select(col("n"), col("mu").as("__u"))
      .crossJoin(micros(cbT).select(col("mu").as("__t")))
      .select(col("n"), (col("__u") / lit(1e6)).as("mean_err_untrained"),
        when(col("__t") <= col("__u"), 1L).otherwise(0L)
          .as("trained_not_worse"))
  }

  /** SIM24: PQ codebook refit policy, REFIT branch
    * ([[SimSearch.pqRefitIfDistorted]]) — the ACT stage for the THIRD
    * index family (IVF cells act via sim22/23, LSH bands via
    * d34/35/36; PQ codebooks act here). The incoming slice is the
    * corpus's %5 rows with every coordinate DOUBLED — a deterministic
    * distribution shift both engines replay (`x · 2.0`) that moves
    * vectors away from every fit-time centroid without touching cell
    * balance: mean squared quantization error jumps ~4× (squared
    * distances scale quadratically), the 150% ratio trigger fires, and
    * the codebook source re-pulls over fit ∪ incoming. The oracle
    * replays the v3 codebook derivation, both encode passes, the
    * micro-integerized decision and the conditional re-pull. */
  private val sim24PqRefit: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    SimSearch.pqRefitIfDistorted(
      emb.where(col("vec_id") % 5 =!= 0),
      emb.where(col("vec_id") % 5 === 0)
        .select(col("vec_id"), transform(
          col("embedding").cast("array<double>"), x => x * lit(2.0))
          .as("embedding")),
      "vec_id", "embedding", dim = 64, m = 4, k = 4, ratioPct = 150)
  }

  /** SIM25: the PQ refit policy's KEEP branch — sim24's no-op twin
    * (the sim23 discipline): the same exchangeable %5 split UNSCALED
    * assigns with the same error distribution on both sides (ratio
    * ≈ 1 < 1.5), so the policy keeps the fit-time codebooks and
    * re-states their source rows. Both decision branches — and the
    * fact that the deterministic coordinate scaling alone flips them —
    * are pinned by the DuckDB replay. */
  private val sim25PqKeep: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).where(col("vec_id") >= 10)
    SimSearch.pqRefitIfDistorted(
      emb.where(col("vec_id") % 5 =!= 0), emb.where(col("vec_id") % 5 === 0),
      "vec_id", "embedding", dim = 64, m = 4, k = 4, ratioPct = 150)
  }

  /** LLM-D31: the LSH banding planner as a query
    * ([[Dedup.bandPlanDf]]) — `1 − (1 − j^r)^b` over every divisor pair
    * of the signature length, fewest qualifying bands chosen, honest
    * ladder-max fallback when nothing qualifies (the (4, 10%, 90%) grid
    * row — its detect_prob < target is the lengthen-the-signature
    * signal shipping in the output). Upgrades bandPlan's
    * PropertiesSpec-only pin to a cross-engine CORRECTNESS row; the
    * grid spans the operating points d2/d5/d26 and StreamingDedup run
    * at. Margin-audited: every divisor's S-curve value sits ≥ 0.007
    * from its threshold, 13 orders of magnitude above pow() ulp
    * divergence between engines. */
  private val d31BandPlan: Q = (s, _) => {
    import s.implicits._
    Dedup.bandPlanDf(Seq(
      (16, 30, 50), (16, 50, 80), (16, 50, 95), (16, 70, 90),
      (32, 50, 80), (32, 30, 90), (64, 80, 95), (20, 40, 70),
      (24, 60, 85), (4, 10, 90))
      .toDF("num_hashes", "min_jaccard_pct", "target_pct"))
  }

  /** LLM-D32: auto-banded portable MinHash near-dup pairs
    * ([[Dedup.minHashPairsPortableAuto]]) — d5 with the band count
    * chosen by the d31 planner instead of a caller constant: at the
    * (j = 0.50, target 80%) operating point the divisor scan picks
    * (8 bands, 2 rows) and the chosen plan ships as output columns.
    * The oracle replays the divisor scan FIRST and bands the
    * signatures with whatever it picks — cross-engine verification of
    * the planner driving the operator, not just of the operator at a
    * constant. */
  private val d32MinhashAutoBand: Q = (s, dir) =>
    Dedup.minHashPairsPortableAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 16, minJaccardPct = 50,
        targetDetectPct = 80)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        col("bands"), col("rows_per_band"))

  /** LLM-D33: empirical S-curve audit ([[Dedup.bandPlanAudit]]) —
    * theory vs practice for the d31 planner on the actual corpus:
    * exact n-gram Jaccard pairs (d4's ground truth, floor 0.05) are
    * bucketed by Jaccard and checked against the banding stage's
    * candidate set under the PLANNED (8, 2) layout; each bucket ships
    * its measured detection rate beside the S-curve's prediction at
    * the bucket midpoint. Buckets at/above the j = 0.5 operating point
    * should meet the 80% target; sub-threshold buckets show the
    * filter-out the plan bought. Rates are IEEE quotients of integer
    * counts (no terminal rounding); only the pow() prediction is
    * 6-dp-rounded (pow is not correctly-rounded — midpoint margins
    * ≥ 2.6e-8, audited). */
  private val d33BandPlanAudit: Q = (s, dir) =>
    Dedup.bandPlanAudit(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)

  /** LLM-D34: banding replan policy, REPLAN branch
    * ([[Dedup.bandReplanIfUndershot]]) — the d33 audit promoted to an
    * ACT stage (the sim22 discipline applied to banding): the legacy
    * (16 hashes, 4 bands) layout is measured at a j ≥ 0.05 operating
    * point where its S-curve detects ~3·10⁻⁵ per pair; the corpus's
    * low-Jaccard bucket goes undetected, the ANY-BUCKET integer
    * trigger fires, and the remedy ladder finds no qualifying divisor
    * layout at 16 hashes (best is (16,1) at 0.56 < 0.80) so the
    * signature LENGTHENS to 32 hashes / 32 bands (analytic 0.806).
    * The oracle replays the exact-pair join, the banded candidate set,
    * the per-bucket trigger AND the doubling-ladder divisor scan —
    * decision and remedy both cross-engine. */
  private val d34BandReplan: Q = (s, dir) =>
    Dedup.bandReplanIfUndershot(Tables.documents(s, dir), "doc_id",
      "text", shingleN = 3, numHashes = 16, bands = 4,
      minJaccardPct = 5, targetDetectPct = 80)

  /** LLM-D35: banding replan policy, KEEP branch — d34's no-op twin
    * (the sim23 discipline): the PLANNED (16, 8) layout at its own
    * (j ≥ 0.5, 80%) operating point detects every qualifying bucket,
    * so the policy keeps the serving layout and re-states it with its
    * analytic detection (0.899887). The threshold math that does NOT
    * fire is pinned cross-engine alongside d34's firing branch. */
  private val d35BandReplanKeep: Q = (s, dir) =>
    Dedup.bandReplanIfUndershot(Tables.documents(s, dir), "doc_id",
      "text", shingleN = 3, numHashes = 16, bands = 8,
      minJaccardPct = 50, targetDetectPct = 80)

  /** LLM-D36: banding replan policy, REBAND branch — the third action,
    * registered (d34 pins LENGTHEN, d35 pins KEEP; the fixture corpus
    * is bimodal — exact dups plus j < 0.1 stragglers — so no operating
    * point on it can fire a reband). The corpus is AUGMENTED with a
    * deterministic mid-Jaccard sibling per document: its 35%-token
    * prefix under a shifted id (prefix shingles ⊂ document shingles, so
    * exact j ≈ 0.35 — bucket 3), a construction both engines replay
    * byte-for-byte (same tokenizer, same integer-floor prefix length).
    * At the (j ≥ 0.30, 80%) operating point the legacy (16, 4) layout
    * detects ~13% of those pairs, the mid-j buckets fail, and the
    * ladder's k = 0 rung already qualifies analytically with a
    * DIFFERENT divisor — (16, 1) at 0.9967 — so the remedy is a REBAND
    * at the same signature length, not a longer signature. */
  private val d36BandReplanReband: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val sib = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__tk"))
      .where(size(col("__tk")) >= 9)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat_ws(" ", slice(col("__tk"), lit(1),
          (lit(2) + floor((size(col("__tk")) - 2) * 35 / lit(100.0)))
            .cast("int"))).as("text"))
    Dedup.bandReplanIfUndershot(docs.unionAll(sib), "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, minJaccardPct = 30,
      targetDetectPct = 80)
  }

  /** L10: layout effectiveness — the l7 zone-map skip test run under
    * two physical layouts of the same fact table (key-clustered
    * ÷6000-row blocks vs ship-month partitions) for the same 1995
    * predicate: the A/B that justifies re-clustering a 100 TB table by
    * its hot filter column. Reported as skippable-block fraction per
    * layout; the month layout skips everything outside the window, the
    * key layout almost nothing — the number that sells l1's Z-order. */
  private val l10LayoutEffectiveness: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .withColumn("__sd", col("l_shipdate").cast("timestamp"))
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1996-01-01").cast("timestamp")
    def audit(layout: String, block: Column): DataFrame =
      li.groupBy(block.cast("string").as("block"))
        .agg(min(col("__sd")).as("mn"), max(col("__sd")).as("mx"))
        .agg(count(lit(1)).as("n_blocks"),
          count(when(col("mx") < lo || col("mn") >= hi, 1))
            .as("n_skippable"))
        .select(lit(layout).as("layout"), col("n_blocks"),
          col("n_skippable"),
          round(col("n_skippable") * lit(1.0) / col("n_blocks"), 6)
            .as("skip_frac"))
    audit("key_blocks", expr("l_orderkey div 6000"))
      .unionAll(audit("ship_month", date_format(col("__sd"), "yyyy-MM")))
  }

  /** Q7: dataset card — the one-row datasheet block a corpus release
    * ships with: document/token/char mass, language and source
    * cardinality, English share, mean heuristic quality (t1's scorer),
    * and the exact-duplicate rate (1 − distinct digests / docs, q5's
    * number): every figure a single linear aggregate over one scan
    * plus the codegen'd per-row quality expression. */
  private val q7DatasetCard: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("__q", TextFunctions.qualityScore(col("text")))
      .withColumn("__nt", TextFunctions.tokenCount(col("text")))
    d.agg(count(lit(1)).as("n_docs"),
      sum(col("__nt")).cast("long").as("n_tokens"),
      sum(length(col("text"))).cast("long").as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      round(count(when(col("lang") === "en", 1)) * lit(1.0) /
        count(lit(1)), 6).as("pct_en"),
      round(avg(col("__q")), 6).as("mean_quality"),
      round(lit(1.0) - countDistinct(md5(col("text"))) * lit(1.0) /
        count(lit(1)), 6).as("dup_rate"))
  }

  /** W30: growth accounting — each user-week classified new (first
    * ever), retained (active the week before), or resurrected (gap
    * > 1 week), plus the churned count attributed to the week AFTER a
    * user's activity lapses — the new/retained/resurrected/churned
    * quartet every growth report is built from. Pure lag/lead
    * integer-week logic over the distinct (user, week) frame; one
    * user-keyed shuffle, then a ≤|weeks| merge. The final data week's
    * lapses still count as churn (documented right-censoring). */
  private val w30GrowthAccounting: Q = (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr("(ts div 86400000000000) div 7")
        .as("week"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val flagged = uw
      .withColumn("__prev", lag(col("week"), 1).over(byUser))
      .withColumn("__next", lead(col("week"), 1).over(byUser))
    val states = flagged.groupBy(col("week"))
      .agg(count(when(col("__prev").isNull, 1)).as("n_new"),
        count(when(col("__prev") === col("week") - 1, 1)).as("n_retained"),
        count(when(col("__prev").isNotNull &&
          col("__prev") < col("week") - 1, 1)).as("n_resurrected"))
    val churn = flagged
      .where(col("__next").isNull || col("__next") > col("week") + 1)
      .groupBy((col("week") + 1).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** A39: precision/recall curve at decile thresholds — the
    * threshold-picking artifact a18/a31 summarize away: for each cut
    * t ∈ {0.0 … 0.9} over the a10 scored frame, the confusion counts
    * and P/R/F1 of "predict purchase when score ≥ t". Scale shape:
    * the raw table collapses FIRST into ≤10 score-bin partials (one
    * map-side-combined aggregate — bins align exactly with the decile
    * cuts, so "score ≥ t" ⟺ "bin ≥ 10t" with no per-row fan-out), and
    * the sweep is a ≤100-cell join over that tiny frame. F1 is emitted
    * as the single exact rational 2·tp/(n_pred+n_pos) rather than a
    * composition of rounded P and R. */
  private val a39PrCurve: Q = (s, dir) => {
    val binned = Tables.events(s, dir)
      .select(least(floor(col("value") / 50.0), lit(9.0)).cast("long")
        .as("__bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("__y"))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__npos"))
    val thr = s.range(10).select(col("id").as("thr_decile"))
    thr.join(binned, col("__bin") >= col("thr_decile"), "left")
      .groupBy(col("thr_decile"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_pred"),
        coalesce(sum(col("__npos")), lit(0L)).as("tp"))
      .crossJoin(broadcast(binned.agg(sum(col("__npos")).as("__pos"))))
      .select(col("thr_decile"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred"), 6))
          .as("precision"),
        round(col("tp").cast("double") / col("__pos"), 6).as("recall"),
        round(lit(2.0) * col("tp") / (col("n_pred") + col("__pos")), 6)
          .as("f1"))
  }

  /** A40: reliability diagram — the per-bin calibration curve behind
    * a18's scalar ECE: each of 10 confidence bins reports its count,
    * mean predicted score, empirical positive rate, and signed gap, so
    * over/under-confidence is visible per score region instead of
    * averaged away. Identical binning contract to
    * [[Metrics.calibration]] (clamped floor(score·10)); one
    * map-side-combined aggregate to ≤10 rows, no second pass. */
  private val a40ReliabilityBins: Q = (s, dir) =>
    Tables.events(s, dir)
      .select((col("value") / 500.0).as("__score"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0)
          .as("__y"))
      .groupBy(greatest(least(floor(col("__score") * 10), lit(9L)),
        lit(0L)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__score")), 6).as("mean_score"),
        round(avg(col("__y")), 6).as("pos_rate"),
        round(avg(col("__y")) - avg(col("__score")), 6).as("gap"))

  /** X32: leakage-safe split — x1's portable hash split applied to the
    * duplicate-CLUSTER representative instead of the row key, so every
    * member of an exact-duplicate cluster (d1's digest groups) lands in
    * the SAME split and a test document can never have a verbatim copy
    * in train — the leakage mode d16 audits after the fact, prevented
    * by construction (near-dup clusters compose the same way via d7
    * upstream). One digest-keyed aggregate for the representative, one
    * keyed join back; both sides shuffle on the digest, no skew beyond
    * the duplicate-cluster sizes d1 already bounds. */
  private val x32ClusterSplit: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("__dg"))
    val rep = d.groupBy(col("__dg"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_members"))
    d.join(rep, "__dg")
      .select(col("doc_id"), col("rep_id"), col("n_members"),
        when(substring(md5(col("rep_id").cast("string")), 1, 1) < "c",
          "train").otherwise("test").as("split"))
  }

  /** W31: cohort activity matrix — users grouped by first-active week
    * (the cohort), each cohort tracked across week ages: the classic
    * triangular retention table product teams read, where w13's
    * single-horizon retention is one column. The (user, week) frame is
    * distinct once, the cohort key is a per-user min, and the matrix is
    * a (cohort, age) count; the rate divides by the cohort's age-0
    * size via a window over the ≤|weeks|² aggregated frame. */
  private val w31CohortMatrix: Q = (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        expr("(ts div 86400000000000) div 7").as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val cells = uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(count(lit(1)).as("n_users"))
    val byCohort = Window.partitionBy(col("cohort_week"))
    cells
      .withColumn("retention", round(col("n_users") /
        max(when(col("age_weeks") === 0, col("n_users")))
          .over(byCohort), 6))
  }

  /** A41: cumulative-gains (CAP) curve — a32's decile table read
    * cumulatively: after targeting the top-k deciles by score, what
    * share of all positives is captured and at what lift. The rank
    * rides the same [[graft.ops.PrefixSum]] build as a32 (exact
    * integer decile assignment, no ntile); the cumulative step is a
    * window over the 10-row aggregated frame, so the whole curve
    * costs a32 plus nothing measurable. */
  private val a41CapCurve: Q = (s, dir) => {
    val scored = Tables.events(s, dir).select(col("event_id"),
      (-col("value") / 500.0).as("__neg"),
      when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("__y"))
    val ranked = graft.ops.PrefixSum.ranges(scored,
      Seq("__neg", "event_id"), lit(1L), "__lo", "__hi")
    val n = broadcast(scored.agg(count(lit(1)).as("__n"),
      sum(col("__y")).as("__pos")))
    val deciles = ranked.crossJoin(n)
      .withColumn("decile", ((col("__lo") * 10 -
        pmod(col("__lo") * 10, col("__n"))) / col("__n")).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("__rows"), sum(col("__y")).as("__p"),
        first(col("__n")).as("__n"), first(col("__pos")).as("__pos"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.select(col("decile"),
      sum(col("__rows")).over(cum).as("cum_rows"),
      sum(col("__p")).over(cum).cast("long").as("cum_pos"),
      round(sum(col("__p")).over(cum) / col("__pos"), 6).as("gain"),
      round((sum(col("__p")).over(cum) / sum(col("__rows")).over(cum)) /
        (col("__pos") / col("__n")), 6).as("cum_lift"))
  }

  /** W32: churn survival curve — the Kaplan–Meier estimator (Kaplan &
    * Meier 1958) over per-user activity LIFETIMES (last-active −
    * first-active day), with users still active in the final week
    * right-censored: S(t) answers "what share of users survive past a
    * t-day lifetime", the principled form of w15's binary churn label
    * (censoring is what naive "mean lifetime" gets wrong). Exact
    * integer risk/event counts per distinct lifetime; the product
    * ∏(1 − dᵢ/nᵢ) is an exp∘Σln over the ≤|days| aggregated frame
    * (the a30 float posture, rounded 6 dp), with the zero-factor tail
    * pinned to exactly 0 rather than left to ln(0) NULL semantics
    * that diverge across engines. */
  private val w32SurvivalCurve: Q = (s, dir) => {
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("__day"))
    val users = days.groupBy(col("user_id"))
      .agg(min(col("__day")).as("__first"), max(col("__day")).as("__last"))
      .crossJoin(broadcast(days.agg(max(col("__day")).as("__maxd"))))
      .select((col("__last") - col("__first")).as("duration_days"),
        when(col("__last") < col("__maxd") - 7, 1L).otherwise(0L)
          .as("__churn"))
    val perT = users.groupBy(col("duration_days"))
      .agg(sum(col("__churn")).as("n_churned"),
        sum(lit(1L) - col("__churn")).as("n_censored"))
    val atRisk = Window.orderBy(col("duration_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = Window.orderBy(col("duration_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT
      .withColumn("n_risk",
        sum(col("n_churned") + col("n_censored")).over(atRisk))
      .withColumn("__f",
        (col("n_risk") - col("n_churned")).cast("double") / col("n_risk"))
      .select(col("duration_days"), col("n_risk"), col("n_churned"),
        col("n_censored"),
        when(min(col("__f")).over(prefix) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(log(col("__f"))).over(prefix)), 6))
          .as("survival"))
  }

  /** A42: Brier score with Murphy decomposition — the proper-scoring
    * companion to a40: overall Brier = avg((score−y)²), split into
    * reliability (binned calibration error, the term a18's ECE
    * approximates), resolution (how far bin outcomes stray from the
    * base rate — discrimination), and uncertainty (base-rate
    * variance). Murphy's identity `brier = rel − res + unc` holds
    * exactly only when forecasts are constant within bins, so the
    * within-bin variance remainder is emitted as an explicit
    * `residual` instead of silently pretending the identity closes.
    * One pass for the global moments + one ≤10-row bin aggregate. */
  private val a42BrierDecomposition: Q = (s, dir) => {
    val scored = Tables.events(s, dir)
      .select((col("value") / 500.0).as("__s"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0)
          .as("__y"))
    val bins = scored
      .groupBy(greatest(least(floor(col("__s") * 10), lit(9L)), lit(0L))
        .as("__bin"))
      .agg(count(lit(1)).as("__n"), avg(col("__s")).as("__conf"),
        avg(col("__y")).as("__acc"))
    val global = scored.agg(count(lit(1)).as("n"),
      avg((col("__s") - col("__y")) * (col("__s") - col("__y")))
        .as("__brier"),
      avg(col("__y")).as("__base"))
    bins.crossJoin(broadcast(global))
      .agg(first(col("n")).as("n"),
        round(first(col("__brier")), 6).as("brier"),
        round(sum(col("__n") * (col("__conf") - col("__acc")) *
          (col("__conf") - col("__acc"))) / first(col("n")), 6)
          .as("reliability"),
        round(sum(col("__n") * (col("__acc") - col("__base")) *
          (col("__acc") - col("__base"))) / first(col("n")), 6)
          .as("resolution"),
        round(first(col("__base")) * (lit(1.0) - first(col("__base"))), 6)
          .as("uncertainty"),
        round(first(col("__brier")) -
          (sum(col("__n") * ((col("__conf") - col("__acc")) *
              (col("__conf") - col("__acc")) -
              (col("__acc") - col("__base")) *
              (col("__acc") - col("__base")))) / first(col("n")) +
            first(col("__base")) * (lit(1.0) - first(col("__base")))), 6)
          .as("residual"))
  }

  /** T38: Zipf-law fit — ordinary least squares on (ln rank, ln count)
    * over the corpus's top-200 whitespace tokens (t3's tokenization):
    * the slope (Zipf exponent, ≈ −1 for natural language) and R² that
    * corpus-health dashboards track, and a quick synthetic-vs-natural
    * tell. The frequency table is one explode→aggregate; top-200 is
    * `TakeOrderedAndProject` (per-partition heaps, never a global
    * sort); the regression is a closed-form 1-row aggregate over the
    * 200-row frame. Ranks tie-break on the token string so both
    * engines see identical (x, y) points. */
  private val t38ZipfFit: Q = (s, dir) => {
    val freq = Tables.documents(s, dir)
      .select(explode(filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__tok")).limit(200)
    val pts = freq
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__cnt").desc, col("__tok"))).cast("double"))
      .select(log(col("__rk")).as("__x"),
        log(col("__cnt").cast("double")).as("__y"))
    pts.agg(count(lit(1)).as("n_tokens"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("n_tokens"),
        round((col("n_tokens") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_tokens") * col("__sxx") - col("__sx") * col("__sx")), 6)
          .as("zipf_slope"),
        round((col("__sy") - col("__sx") *
          ((col("n_tokens") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("n_tokens") * col("__sxx") - col("__sx") * col("__sx")))) /
          col("n_tokens"), 6).as("intercept"),
        round(((col("n_tokens") * col("__sxy") - col("__sx") * col("__sy")) *
          (col("n_tokens") * col("__sxy") - col("__sx") * col("__sy"))) /
          ((col("n_tokens") * col("__sxx") - col("__sx") * col("__sx")) *
            (col("n_tokens") * col("__syy") - col("__sy") * col("__sy"))), 6)
          .as("r2"))
  }

  /** W33: peak session concurrency — the capacity-planning number
    * ("how many users are mid-session at the worst moment") computed
    * by a sweep-line over w6's gap sessions: +1 at each session start,
    * −1 just after each end, running-summed in global time order. The
    * global running sum rides [[graft.ops.PrefixSum]] (two-level scan,
    * never a data-sized single partition) with the start/end counters
    * PACKED into one non-negative long (start·2³² + end) so one pass
    * produces both cumulative counts; concurrency is their difference.
    * Start-before-end ordering at equal timestamps is pinned by the
    * sort key, and the peak timestamp is the earliest boundary
    * attaining the max — both order-invariant under the unique
    * (ts, kind, user, session) sort. */
  private val w33PeakConcurrency: Q = (s, dir) => {
    val gapUs = 3600L * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__brk", when(col("__prev").isNull ||
        col("ts") - col("__prev") >= gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
    // single-pass boundary fan-out (the round-4 union lesson: a
    // two-select union re-evaluates the session build once per branch)
    val bounds = sess.select(col("user_id"), col("session_id"),
        explode(array(
          struct(col("t_start").as("bt"), lit(0L).as("k2")),
          struct((col("t_end") + 1L).as("bt"), lit(1L).as("k2"))))
          .as("__b"))
      .select(col("user_id"), col("session_id"),
        col("__b.bt").as("bt"), col("__b.k2").as("k2"))
      .withColumn("__w",
        when(col("k2") === 0, lit(4294967296L)).otherwise(lit(1L)))
    graft.ops.PrefixSum.ranges(bounds,
        Seq("bt", "k2", "user_id", "session_id"), col("__w"),
        "__lo", "__hi")
      .select(col("bt"),
        (expr("__hi div 4294967296") - pmod(col("__hi"),
          lit(4294967296L))).as("conc"))
      // one aggregate consumes the scan once: boundary count / 2 is the
      // session count, and the struct max is (peak, earliest-ts-at-peak)
      .agg(expr("count(1) div 2").as("n_sessions"),
        max(struct(col("conc").as("c"), (-col("bt")).as("nb")))
          .as("__pk"))
      .select(col("n_sessions"), col("__pk.c").as("peak_concurrency"),
        (-col("__pk.nb")).as("peak_ts"))
  }

  /** X34: deterministic weighted resample — weighted sampling WITHOUT
    * replacement via exponential clocks (Efraimidis & Spirakis 2006):
    * each document draws key = −ln(u)/w from its portable md5 uniform
    * (48-bit mantissa, +0.5 so u is never 0) with weight w = n_chars,
    * and the 100 smallest keys win — the selection step that turns
    * t19-style importance weights into an actual training subset,
    * replayable on any engine. Per-row map work plus one
    * `TakeOrderedAndProject` top-100 (per-partition heaps); the rank
    * window runs over the 100 surviving rows only. */
  private val x34WeightedResample: Q = (s, dir) => {
    val keyed = Tables.documents(s, dir).where(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("__u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 12),
          16, 10).cast("long").cast("double") + 0.5) / 281474976710656.0)
      .withColumn("__key", -log(col("__u")) / col("n_chars"))
    keyed.orderBy(col("__key"), col("doc_id")).limit(100)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__key"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_chars").as("weight"))
  }

  /** Insertion-ordered; the tiny q0 scan runs first and absorbs one-time
    * JVM / codegen / parquet-reader warm-up so every other timing
    * reflects the operator, not the session. */
  def queries: Map[String, Q] = scala.collection.immutable.ListMap(
    "q0_warmup" -> q0Warmup,
    "p1_project_filter" -> p1ProjectFilter,
    "q1_agg" -> q1Agg,
    "j1_star_join" -> j1StarJoin,
    "j3_asof" -> j3AsOf,
    "j11_asof_nearest" -> j11AsofNearest,
    "j13_overlap_join" -> j13OverlapJoin,
    "j14_temporal_join" -> j14TemporalJoin,
    "a3_user_history" -> a3UserHistory,
    "w2_prefix_samples" -> w2PrefixSamples,
    "w11_rolling_features" -> w11RollingFeatures,
    "w4_topk_per_group" -> w4TopkPerGroup,
    "j8_anti_join" -> j8AntiJoin,
    "a6_minmax" -> a6MinMax,
    "d1_exact_dedup" -> d1ExactDedup,
    "t3_token_stats" -> t3TokenStats,
    "m1_cosine_topk" -> m1CosineTopk,
    "p4_semi_join" -> p4SemiJoin,
    "p7_price_cleanse" -> p7PriceCleanse,
    "p8_threshold" -> p8Threshold,
    "j2_dict_index" -> j2DictIndex,
    "j4_range_join" -> j4RangeJoin,
    "a1_distinct" -> a1Distinct,
    "a2_distinct_pairs" -> a2DistinctPairs,
    "a5_top_users" -> a5TopUsers,
    "a7_mean_pool" -> a7MeanPool,
    "a9_percentiles" -> a9Percentiles,
    "so1_union" -> so1Union,
    "so3_intersect" -> so3Intersect,
    "x1_hash_split" -> x1HashSplit,
    "x2_negatives" -> x2Negatives,
    "x3_stratified" -> x3Stratified,
    "a10_classification" -> a10Classification,
    "a23_user_auc" -> a23UserAuc,
    "a24_gauc" -> a24Gauc,
    "a25_spearman" -> a25Spearman,
    "a26_mrr" -> a26Mrr,
    "a11_ranking_metrics" -> a11RankingMetrics,
    "a12_pairwise" -> a12Pairwise,
    "g2_degree_norm" -> g2DegreeNorm,
    "g3_propagate" -> g3Propagate,
    "g8_propagate_vec" -> g8PropagateVec,
    "stream_window_counts" -> streamWindowCounts,
    "stream_sliding_window" -> streamSlidingWindow,
    "s2_json_parse" -> s2JsonParse,
    "s4_json_roundtrip" -> s4JsonRoundtrip,
    "s11_point_lookup" -> s11PointLookup,
    "stream_session_window" -> streamSessionWindow,
    "sim3_ivf_topk" -> sim3IvfTopk,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d5_minhash_portable" -> d5MinhashPortable,
    "d6_embedding_dedup" -> d6EmbeddingDedup,
    "d22_embedding_dedup_auto" -> d22EmbeddingDedupAuto,
    "d23_lsh_capacity_audit" -> d23LshCapacityAudit,
    "d24_simhash_auto" -> d24SimhashAuto,
    "d25_simhash_capacity_audit" -> d25SimhashCapacityAudit,
    "d29_simhash128_auto" -> d29Simhash128Auto,
    "d30_simhash128_capacity_audit" -> d30Simhash128CapacityAudit,
    "d26_minhash_fast" -> d26MinhashFast,
    "d27_simhash_fast" -> d27SimhashFast,
    "d13_semdedup" -> d13SemDedup,
    "d28_semdedup_auto" -> d28SemdedupAuto,
    "d7_dup_clusters" -> d7DupClusters,
    "d10_dedup_pipeline" -> d10DedupPipeline,
    "t21_curation_pipeline" -> t21CurationPipeline,
    "d11_incremental_dedup" -> d11IncrementalDedup,
    "t6_pii_scrub" -> t6PiiScrub,
    "t7_contamination" -> t7Contamination,
    "x6_pack_sequences" -> x6PackSequences,
    "a13_quantile_filter" -> a13QuantileFilter,
    "t1_text_analysis" -> t1TextAnalysis,
    "t4_corpus_stats" -> t4CorpusStats,
    "t5_corpus_rollup" -> t5CorpusRollup,
    "v1_normalize_emb" -> v1NormalizeEmb,
    "d3_simhash" -> d3SimHash,
    "d8_simhash_portable" -> d8SimhashPortable,
    "d9_chunk_scrub" -> d9ChunkScrub,
    "d14_dup_spans" -> d14DupSpans,
    "d15_containment" -> d15Containment,
    "t8_repetition" -> t8Repetition,
    "t26_char_entropy" -> t26CharEntropy,
    "t27_memorization" -> t27Memorization,
    "x7_source_mix" -> x7SourceMix,
    "x8_ppl_mixture" -> x8PplMixture,
    "x9_exact_n" -> x9ExactN,
    "x10_token_budget" -> x10TokenBudget,
    "v2_quantize_emb" -> v2QuantizeEmb,
    "v3_pq_encode" -> v3PqEncode,
    "v4_pq_trained" -> v4PqTrained,
    "v5_random_projection" -> v5RandomProjection,
    "sim6_pq_adc" -> sim6PqAdc,
    "sim7_ivfpq" -> sim7IvfPq,
    "sim8_mmr" -> sim8Mmr,
    "d2_minhash_pairs" -> d2MinHashPairs,
    "sim2_lsh_topk" -> sim2LshTopk,
    "sim4_lsh_portable" -> sim4LshPortable,
    "sim9_knn_classify" -> sim9KnnClassify,
    "sim5_ivf_portable" -> sim5IvfPortable,
    "sim15_ivf_auto" -> sim15IvfAuto,
    "sim10_filtered_ann" -> sim10FilteredAnn,
    "mm1_media_features" -> mm1MediaFeatures,
    "g4_lightgcn" -> g4LightGcn,
    "m4_cascade" -> m4Cascade,
    "m5_din_forward" -> m5DinForward,
    "m6_ranknet_forward" -> m6RankNetForward,
    "m7_neural_cascade" -> m7NeuralCascade,
    "etl_training_data" -> etlTrainingData,
    "m0_recommend_slice" -> m0RecommendSlice,
    "m11_coldstart_recall" -> m11ColdstartRecall,
    "m12_coldstart_cascade" -> m12ColdstartCascade,
    "m13_hybrid_rrf" -> m13HybridRrf,
    "p5_isin" -> p5Isin,
    "p9_history_contains" -> p9HistoryContains,
    "j5_history_fetch" -> j5HistoryFetch,
    "t9_tfidf" -> t9Tfidf,
    "j6_stream_join" -> j6StreamJoin,
    "j9_salted_join" -> j9SaltedJoin,
    "mm2_frame_sample" -> mm2FrameSample,
    "t10_lm_score" -> t10LmScore,
    "t22_bm25" -> t22Bm25,
    "t23_bpe_train" -> t23BpeTrain,
    "t24_bpe_segment" -> t24BpeSegment,
    "t19_dsir" -> t19Dsir,
    "t20_chunk" -> t20Chunk,
    "t11_bpe_pairs" -> t11BpePairs,
    "t12_quality_classifier" -> t12QualityClassifier,
    "g5_pagerank" -> g5PageRank,
    "g6_item_cf" -> g6ItemCf,
    "g9_adamic_adar" -> g9AdamicAdar,
    "g10_label_prop" -> g10LabelProp,
    "g11_triangles" -> g11Triangles,
    "g12_kcore" -> g12KCore,
    "m9_itemcf_recommend" -> m9ItemCfRecommend,
    "g7_swing" -> g7Swing,
    "m10_itemcf_backtest" -> m10ItemCfBacktest,
    "q2_data_profile" -> q2DataProfile,
    "q3_constraints" -> q3Constraints,
    "q4_profile_drift" -> q4ProfileDrift,
    "q5_dup_rate" -> q5DupRate,
    "mm3_audio_windows" -> mm3AudioWindows,
    "mm4_phash_dedup" -> mm4PhashDedup,
    "mm5_image_codec" -> mm5ImageCodec,
    "mm6_audio_codec" -> mm6AudioCodec,
    "mm7_image_resize" -> mm7ImageResize,
    "w6_sessionize" -> w6Sessionize,
    "w6_padding" -> w6Padding,
    "s12_latest_snapshot" -> s12LatestSnapshot,
    "w7_topk_agg" -> w7TopkAgg,
    "d12_bloom_incremental" -> d12BloomIncremental,
    "l1_zorder" -> l1Zorder,
    "l2_bucketed_join" -> l2BucketedJoin,
    "l3_partition_pruning" -> l3PartitionPruning,
    "l4_merge_upsert" -> l4MergeUpsert,
    "a14_hll_distinct" -> a14HllDistinct,
    "a27_kmv_overlap" -> a27KmvOverlap,
    "a28_overlap_exact" -> a28OverlapExact,
    "a15_distinct_exact" -> a15DistinctExact,
    "x11_exact_n_per_group" -> x11ExactNPerGroup,
    "x13_shard_assign" -> x13ShardAssign,
    "x14_pref_pairs" -> x14PrefPairs,
    "x15_curriculum" -> x15Curriculum,
    "x16_skipgram_pairs" -> x16SkipgramPairs,
    "x17_oversample" -> x17Oversample,
    "x18_mixup" -> x18Mixup,
    "x19_split_manifest" -> x19SplitManifest,
    "x20_rank_normalize" -> x20RankNormalize,
    "x12_weighted_negatives" -> x12WeightedNegatives,
    "w8_ewma" -> w8Ewma,
    "w9_rolling_window" -> w9RollingWindow,
    "w10_scd2" -> w10Scd2,
    "w12_funnel" -> w12Funnel,
    "w13_retention" -> w13Retention,
    "w14_transitions" -> w14Transitions,
    "w15_churn_labels" -> w15ChurnLabels,
    "w16_decay_activity" -> w16DecayActivity,
    "w17_burstiness" -> w17Burstiness,
    "w18_session_conversion" -> w18SessionConversion,
    "a17_window_anomaly" -> a17WindowAnomaly,
    "a18_calibration" -> a18Calibration,
    "a19_psi" -> a19Psi,
    "a20_bootstrap_ci" -> a20BootstrapCi,
    "a21_ab_delta" -> a21AbDelta,
    "a22_ks_drift" -> a22KsDrift,
    "a29_exposure_gini" -> a29ExposureGini,
    "a30_novelty" -> a30Novelty,
    "a31_average_precision" -> a31AveragePrecision,
    "a32_lift_deciles" -> a32LiftDeciles,
    "t17_html_strip" -> t17HtmlStrip,
    "t18_url_canonical" -> t18UrlCanonical,
    "m8_param_stats" -> m8ParamStats,
    "t13_normalize" -> t13Normalize,
    "t14_cms_heavy_hitters" -> t14CmsHeavyHitters,
    "t15_heavy_hitters_exact" -> t15HeavyHittersExact,
    "t16_winnowing" -> t16Winnowing,
    "a16_approx_percentiles" -> a16ApproxPercentiles,
    "l5_snapshot_diff" -> l5SnapshotDiff,
    "g13_assoc_rules" -> g13AssocRules,
    "x21_target_encode" -> x21TargetEncode,
    "x22_quantile_bins" -> x22QuantileBins,
    "x24_leave_one_out" -> x24LeaveOneOut,
    "t28_pmi" -> t28Pmi,
    "t29_bigram_lm" -> t29BigramLm,
    "g14_hits" -> g14Hits,
    "x25_kfold" -> x25Kfold,
    "v6_sq8" -> v6Sq8,
    "t30_attribution" -> t30Attribution,
    "l6_compaction_plan" -> l6CompactionPlan,
    "q6_profile" -> q6Profile,
    "m14_markov_next" -> m14MarkovNext,
    "x26_kanon" -> x26Kanon,
    "t31_lexical" -> t31Lexical,
    "a33_ild" -> a33Ild,
    "g15_clustering_coeff" -> g15ClusteringCoeff,
    "sim11_ann_recall" -> sim11AnnRecall,
    "w19_gap_stats" -> w19GapStats,
    "l7_zone_map" -> l7ZoneMap,
    "d16_split_leakage" -> d16SplitLeakage,
    "t33_readability" -> t33Readability,
    "a34_hit_rate" -> a34HitRate,
    "g16_assortativity" -> g16Assortativity,
    "d17_canonicalize" -> d17Canonicalize,
    "x27_interleave" -> x27Interleave,
    "d18_estimator_error" -> d18EstimatorError,
    "x28_hard_negatives" -> x28HardNegatives,
    "w22_rfm" -> w22Rfm,
    "a35_confusion" -> a35Confusion,
    "j16_fuzzy_join" -> j16FuzzyJoin,
    "x30_length_buckets" -> x30LengthBuckets,
    "w20_diurnal" -> w20Diurnal,
    "a36_class_report" -> a36ClassReport,
    "t34_langid_eval" -> t34LangidEval,
    "m15_pop_backtest" -> m15PopBacktest,
    "d20_source_overlap" -> d20SourceOverlap,
    "g17_khop" -> g17Khop,
    "l9_skew_report" -> l9SkewReport,
    "x31_temporal_split" -> x31TemporalSplit,
    "w25_streaks" -> w25Streaks,
    "t36_vocab_growth" -> t36VocabGrowth,
    "a38_rbo" -> a38Rbo,
    "v7_matryoshka_eval" -> v7MatryoshkaEval,
    "sim13_centroid_classify" -> sim13CentroidClassify,
    "t37_js_divergence" -> t37JsDivergence,
    "d21_threshold_sweep" -> d21ThresholdSweep,
    "w27_stickiness" -> w27Stickiness,
    "v8_norm_audit" -> v8NormAudit,
    "sim14_nprobe_curve" -> sim14NprobeCurve,
    "sim16_auto_recall_curve" -> sim16AutoRecallCurve,
    "sim17_auto_nprobe" -> sim17AutoNprobe,
    "sim18_policy_holdout" -> sim18PolicyHoldout,
    "sim19_index_drift" -> sim19IndexDrift,
    "sim20_kmeans_auto_probe" -> sim20KmeansAutoProbe,
    "l10_layout_effectiveness" -> l10LayoutEffectiveness,
    "q7_dataset_card" -> q7DatasetCard,
    "w30_growth_accounting" -> w30GrowthAccounting,
    "a39_pr_curve" -> a39PrCurve,
    "a40_reliability_bins" -> a40ReliabilityBins,
    "x32_cluster_split" -> x32ClusterSplit,
    "w31_cohort_matrix" -> w31CohortMatrix,
    "a41_cap_curve" -> a41CapCurve,
    "w32_survival_curve" -> w32SurvivalCurve,
    "a42_brier_decomposition" -> a42BrierDecomposition,
    "t38_zipf_fit" -> t38ZipfFit,
    "w33_peak_concurrency" -> w33PeakConcurrency,
    "x34_weighted_resample" -> x34WeightedResample,
    "sim21_cell_drift_windowed" -> sim21CellDriftWindowed,
    "sim22_refit_policy" -> sim22RefitPolicy,
    "d31_band_plan" -> d31BandPlan,
    "d32_minhash_auto_band" -> d32MinhashAutoBand,
    "d33_band_plan_audit" -> d33BandPlanAudit,
    "d34_band_replan" -> d34BandReplan,
    "d35_band_replan_keep" -> d35BandReplanKeep,
    "d36_band_replan_reband" -> d36BandReplanReband,
    "d37_sign_plan_audit" -> d37SignPlanAudit,
    "d38_simhash_plan_audit" -> d38SimhashPlanAudit,
    "d39_sign_replan" -> d39SignReplan,
    "d40_sign_replan_keep" -> d40SignReplanKeep,
    "d41_simhash_widen" -> d41SimhashWiden,
    "d42_simhash_widen_keep" -> d42SimhashWidenKeep,
    "a37_hll_error_bound" -> a37HllErrorBound,
    "a43_gk_rank_bound" -> a43GkRankBound,
    "a44_kmv_error_bound" -> a44KmvErrorBound,
    "t39_cms_error_bound" -> t39CmsErrorBound,
    "sim27_lsh_recall_floor" -> sim27LshRecallFloor,
    "sim28_ivf_recall_floor" -> sim28IvfRecallFloor,
    "sim29_kmeans_recall_floor" -> sim29KmeansRecallFloor,
    "d45_dup_mass_report" -> d45DupMassReport,
    "d46_dup_mass_banded" -> d46DupMassBanded,
    "d47_sampled_band_audit" -> d47SampledBandAudit,
    "sim32_range_search" -> sim32RangeSearch,
    "sim33_ivfpq_residual" -> sim33IvfPqResidual,
    "d43_minhash_fast_floor" -> d43MinhashFastFloor,
    "d44_simhash_fast_floor" -> d44SimhashFastFloor,
    "v9_pq_trained_bound" -> v9PqTrainedBound,
    "sim23_refit_noop" -> sim23RefitNoop,
    "sim24_pq_refit" -> sim24PqRefit,
    "sim25_pq_keep" -> sim25PqKeep,
    "sim26_pq_distortion_windowed" -> sim26PqDistortionWindowed,
  )

  // ------------------------------------------------------------ oracle SQL

  def oracleSql: Map[String, String] = Map(
    "q0_warmup" ->
      "SELECT r_regionkey, r_name FROM region",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "p1_project_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 100000 AND o_orderstatus = 'O'""".stripMargin,
    "j1_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "j3_asof" ->
      """SELECT q.event_id AS query_id,
        |  (SELECT b.event_id FROM events b
        |   WHERE b.user_id = q.user_id AND b.event_type <> 'purchase'
        |     AND b.ts <= q.ts
        |   ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS beh_id
        |FROM events q WHERE q.event_type = 'purchase'""".stripMargin,
    "j11_asof_nearest" ->
      """WITH q AS (SELECT user_id, event_id AS query_id,
        |    epoch_ns(ts) // 1000 AS tsq
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsb
        |  FROM events WHERE event_type <> 'purchase'),
        |bk AS (SELECT q.query_id, q.tsq,
        |    (SELECT [b.tsb, b.event_id] FROM b
        |     WHERE b.user_id = q.user_id AND b.tsb <= q.tsq
        |     ORDER BY b.tsb DESC, b.event_id DESC LIMIT 1) AS back,
        |    (SELECT [b.tsb, b.event_id] FROM b
        |     WHERE b.user_id = q.user_id AND b.tsb > q.tsq
        |     ORDER BY b.tsb, b.event_id LIMIT 1) AS fwd
        |  FROM q)
        |SELECT query_id,
        |  CASE WHEN fwd IS NULL THEN back[2]
        |       WHEN back IS NULL THEN fwd[2]
        |       WHEN tsq - back[1] <= fwd[1] - tsq THEN back[2]
        |       ELSE fwd[2] END AS beh_id,
        |  CASE WHEN fwd IS NULL THEN tsq - back[1]
        |       WHEN back IS NULL THEN fwd[1] - tsq
        |       WHEN tsq - back[1] <= fwd[1] - tsq THEN tsq - back[1]
        |       ELSE fwd[1] - tsq END AS dist_us
        |FROM bk""".stripMargin,
    "j13_overlap_join" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id,
        |    event_type FROM events
        |  WHERE event_type IN ('view', 'click')),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS prev FROM e),
        |b AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= 86400000000
        |    THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS sid FROM b),
        |g AS (SELECT user_id, event_type, CAST(sid AS BIGINT) AS sid,
        |    min(ts) AS t0, max(ts) AS t1
        |  FROM s GROUP BY user_id, event_type, sid),
        |v AS (SELECT user_id, sid AS v_sid, t0 AS v_start, t1 AS v_end
        |  FROM g WHERE event_type = 'view'),
        |p AS (SELECT user_id, sid AS p_sid, t0 AS p_start, t1 AS p_end
        |  FROM g WHERE event_type = 'click')
        |SELECT v.user_id, v_sid, p_sid, v_start, v_end, p_start, p_end,
        |  least(v_end, p_end) - greatest(v_start, p_start) AS overlap_us
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND v_start <= p_end AND p_start <= v_end""".stripMargin,
    "mm4_phash_dedup" ->
      """WITH assets AS (
        |  SELECT doc_id, unnest([0, 1]) AS var FROM documents
        |  WHERE doc_id % 5 = 0),
        |px AS (SELECT a.doc_id * 2 + a.var AS asset_id, x.i AS x, y.j AS y,
        |    (CASE WHEN a.var = 1 AND x.i = 0 AND y.j = 0
        |      THEN ((a.doc_id * 31 + x.i * 7 + y.j * 13) % 256 + 8) % 256
        |      ELSE (a.doc_id * 31 + x.i * 7 + y.j * 13) % 256 END)
        |    + (a.doc_id * 17 + x.i * 11 + y.j * 3) % 256
        |    + (a.doc_id * 29 + x.i * 5 + y.j * 19) % 256 AS g
        |  FROM assets a,
        |    (SELECT unnest(generate_series(0, 15)) AS i) x,
        |    (SELECT unnest(generate_series(0, 15)) AS j) y),
        |blocks AS (SELECT asset_id, (y // 2) * 8 + (x // 2) AS j,
        |    CAST(sum(g) AS BIGINT) AS bs
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT asset_id, CAST(sum(bs) AS BIGINT) AS t
        |  FROM blocks GROUP BY 1),
        |hash AS (SELECT b.asset_id,
        |    CAST(coalesce(sum(CASE WHEN j < 32 AND 64 * bs > t
        |      THEN (1::BIGINT << CAST(j AS INT)) END), 0) AS BIGINT) AS lo,
        |    CAST(coalesce(sum(CASE WHEN j >= 32 AND 64 * bs > t
        |      THEN (1::BIGINT << CAST(j - 32 AS INT)) END), 0) AS BIGINT) AS hi
        |  FROM blocks b JOIN tot USING (asset_id) GROUP BY 1),
        |bands AS (SELECT asset_id, lo, hi, bd.band,
        |    (CASE bd.band WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |                  WHEN 2 THEN hi ELSE hi >> 16 END) & 65535 AS bits
        |  FROM hash CROSS JOIN
        |    (SELECT unnest(generate_series(0, 3)) AS band) bd),
        |cand AS (SELECT DISTINCT x.asset_id AS a, y.asset_id AS b,
        |    x.lo AS la, x.hi AS ha, y.lo AS lb, y.hi AS hb
        |  FROM bands x JOIN bands y ON x.band = y.band
        |    AND x.bits = y.bits AND x.asset_id < y.asset_id)
        |SELECT a, b, CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
        |  AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3""".stripMargin,
    "a3_user_history" ->
      """SELECT user_id,
        |  array_to_string(list(event_id ORDER BY ts, event_id), '|') AS history,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,
    "w2_prefix_samples" ->
      """SELECT user_id, idx, event_id AS candidate,
        |  array_to_string(h, '|') AS history
        |FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx,
        |    list(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS h
        |  FROM events)
        |WHERE idx > 3 AND (idx - 4) % 2 = 0""".stripMargin,
    "w11_rolling_features" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_ns(ts) // 1000 AS tsu, value
        |  FROM events)
        |SELECT event_id, user_id,
        |  tsu - lag(tsu) OVER w AS gap,
        |  count(value) OVER w5 AS roll_n,
        |  round(sum(value) OVER w5, 6) AS roll_sum,
        |  round(avg(value) OVER w5, 6) AS roll_mean
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id),
        |  w5 AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    "w4_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "j8_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "a6_minmax" ->
      """SELECT o_orderkey,
        |  round((o_totalprice - mn) / (mx - mn), 9) AS scaled
        |FROM orders,
        |  (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "t3_token_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS n_tokens,
        |  round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE
        |    / length(text), 6) AS punct_ratio,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0))), ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    "m1_cosine_topk" ->
      """SELECT query_id, item_id, round(cosine, 6) AS cosine, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |WHERE rank <= 5""".stripMargin,
    "sim9_knn_classify" ->
      """WITH nn AS (SELECT query_id, item_id, sim FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 25 AND c.vec_id >= 25)
        |  WHERE rank <= 10),
        |v AS (SELECT query_id, label, count(*) AS votes,
        |    round(avg(sim), 6) AS mean_sim
        |  FROM nn JOIN embeddings e ON nn.item_id = e.vec_id
        |  GROUP BY query_id, label)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes,
        |  mean_sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS rn FROM v)
        |WHERE rn = 1""".stripMargin,
    "p4_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "p7_price_cleanse" ->
      """SELECT p_partkey,
        |  round(CASE WHEN dirty IS NULL THEN NULL
        |    WHEN regexp_matches(trim(regexp_replace(dirty, '[$,]', '', 'g')),
        |      '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)$')
        |    THEN CAST(trim(regexp_replace(dirty, '[$,]', '', 'g')) AS DOUBLE)
        |    ELSE NULL END, 2) AS price_clean
        |FROM (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 10 = 0 THEN 'N/A'
        |      WHEN p_partkey % 7 = 0 THEN '$1,' || printf('%.2f', p_retailprice)
        |      ELSE '$' || printf('%.2f', p_retailprice) END AS dirty
        |  FROM part)""".stripMargin,
    "p8_threshold" ->
      """SELECT event_type,
        |  count(*) FILTER (WHERE value >= 250.0) AS n_hi,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "j2_dict_index" ->
      """SELECT user_id,
        |  row_number() OVER (ORDER BY user_id) - 1 AS user_idx
        |FROM (SELECT DISTINCT user_id FROM events)""".stripMargin,
    "j4_range_join" ->
      """SELECT q.event_id AS query_id, count(b.event_id) AS n_nearby
        |FROM events q LEFT JOIN events b
        |  ON b.user_id = q.user_id AND b.event_id <> q.event_id
        |  AND epoch_ns(b.ts) BETWEEN epoch_ns(q.ts) - 3600000000000
        |                         AND epoch_ns(q.ts) + 3600000000000
        |WHERE q.event_type = 'purchase'
        |GROUP BY q.event_id""".stripMargin,
    "a1_distinct" ->
      "SELECT DISTINCT user_id FROM events",
    "a2_distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "a5_top_users" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin,
    "a7_mean_pool" ->
      """SELECT label, pos, round(avg(v), 9) AS mean_v FROM (
        |  SELECT label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings)
        |GROUP BY label, pos""".stripMargin,
    "a9_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 6) AS p75
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "so1_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier""".stripMargin,
    "so3_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
        |INTERSECT
        |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000""".stripMargin,
    "x1_hash_split" ->
      """SELECT user_id,
        |  CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < 'c'
        |    THEN 'train' ELSE 'holdout' END AS split
        |FROM (SELECT DISTINCT user_id FROM events)""".stripMargin,
    "x2_negatives" ->
      """WITH pos AS (
        |  SELECT DISTINCT user_id, event_id % 100 AS item FROM events)
        |SELECT user_id, item, attempt,
        |  ((user_id % 1000000000) * 2654435761 + (item % 1000000000) * 40503
        |    + (attempt % 1000000000) * 69069) % 100 AS neg_item
        |FROM pos CROSS JOIN (SELECT unnest(CAST([1, 2] AS BIGINT[])) AS attempt) t
        |WHERE NOT EXISTS (SELECT 1 FROM pos p2
        |  WHERE p2.user_id = pos.user_id
        |    AND p2.item = ((pos.user_id % 1000000000) * 2654435761
        |      + (pos.item % 1000000000) * 40503
        |      + (attempt % 1000000000) * 69069) % 100)""".stripMargin,
    "x3_stratified" ->
      """SELECT user_id, n_events FROM (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
        |WHERE CASE WHEN n_events >= 70
        |  THEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |  ELSE substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '1' END""".stripMargin,
    "a10_classification" ->
      """WITH s AS (SELECT value / 500.0 AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |r AS (SELECT score, y,
        |    CAST(row_number() OVER (ORDER BY score) AS DOUBLE) AS rn FROM s),
        |r2 AS (SELECT score, y, avg(rn) OVER (PARTITION BY score) AS rr FROM r),
        |ag AS (SELECT sum(CASE WHEN y = 1.0 THEN rr END) AS sp,
        |    sum(y) AS np, sum(1.0 - y) AS nn FROM r2),
        |cls AS (SELECT
        |    avg(-(y * ln(least(greatest(score, 1e-15), 1 - 1e-15))
        |      + (1.0 - y) * ln(1.0 - least(greatest(score, 1e-15), 1 - 1e-15)))) AS logloss,
        |    avg(CASE WHEN (score >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END) AS acc
        |  FROM s)
        |SELECT round(logloss, 6) AS logloss, round(acc, 6) AS accuracy,
        |  round((sp - np * (np + 1) / 2.0) / (np * nn), 6) AS auc
        |FROM cls, ag""".stripMargin,
    "a11_ranking_metrics" ->
      """WITH ranked AS (SELECT o_custkey AS u, o_orderkey AS item,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders),
        |rel AS (SELECT o_custkey AS u, o_orderkey AS item FROM orders
        |  WHERE o_orderstatus = 'F'),
        |hits AS (SELECT r.u, count(*) AS n_hits,
        |    sum(1.0 / log2(r.rank + 1)) AS dcg
        |  FROM ranked r JOIN rel ON r.u = rel.u AND r.item = rel.item
        |  WHERE r.rank <= 5 GROUP BY r.u),
        |nrel AS (SELECT u, count(*) AS n_rel FROM rel GROUP BY u)
        |SELECT nrel.u AS o_custkey,
        |  round(coalesce(n_hits, 0) / 5.0, 6) AS prec_k,
        |  round(coalesce(n_hits, 0) * 1.0 / n_rel, 6) AS recall_k,
        |  round(coalesce(dcg, 0) / list_sum(list_transform(
        |    generate_series(1, least(n_rel, 5)), i -> 1.0 / log2(i + 1))), 6) AS ndcg_k
        |FROM nrel LEFT JOIN hits ON nrel.u = hits.u""".stripMargin,
    "a12_pairwise" ->
      """SELECT round(avg(CASE WHEN p.value > n.value THEN 1.0 ELSE 0.0 END), 6)
        |    AS pairwise_accuracy
        |FROM (SELECT user_id, value FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, value FROM events WHERE event_type = 'click') n
        |  USING (user_id)""".stripMargin,
    "a28_overlap_exact" ->
      """WITH f AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY user_id)
        |SELECT CAST(sum(c) AS BIGINT) AS n_click,
        |  CAST(sum(p) AS BIGINT) AS n_purchase,
        |  CAST(sum(c * p) AS BIGINT) AS n_overlap FROM f""".stripMargin,
    "a26_mrr" ->
      """WITH ranked AS (SELECT o_custkey AS u, o_orderkey AS item,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders),
        |rel AS (SELECT o_custkey AS u, o_orderkey AS item FROM orders
        |  WHERE o_orderstatus = 'F'),
        |fr AS (SELECT r.u, min(r.rank) AS f
        |  FROM ranked r JOIN rel ON r.u = rel.u AND r.item = rel.item
        |  WHERE r.rank <= 5 GROUP BY r.u)
        |SELECT users.u AS o_custkey,
        |  CAST(coalesce(f, 0) AS BIGINT) AS first_rank,
        |  round(coalesce(1.0 / f, 0.0), 6) AS mrr
        |FROM (SELECT DISTINCT u FROM rel) users
        |LEFT JOIN fr ON users.u = fr.u""".stripMargin,
    "a25_spearman" ->
      """WITH base AS (SELECT l_quantity AS a, l_extendedprice AS b
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |ha AS (SELECT a, count(*) AS n FROM base GROUP BY a),
        |ra AS (SELECT a, coalesce(sum(n) OVER (ORDER BY a
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + (n + 1) / 2.0 AS rka FROM ha),
        |hb AS (SELECT b, count(*) AS n FROM base GROUP BY b),
        |rb AS (SELECT b, coalesce(sum(n) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + (n + 1) / 2.0 AS rkb FROM hb),
        |j AS (SELECT rka, rkb FROM base
        |  JOIN ra USING (a) JOIN rb USING (b)),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(rka) AS sa, sum(rkb) AS sb, sum(rka * rka) AS saa,
        |    sum(rkb * rkb) AS sbb, sum(rka * rkb) AS sab FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((n * sab - sa * sb) / (sqrt(n * saa - sa * sa)
        |    * sqrt(n * sbb - sb * sb)), 6) AS rho
        |FROM s""".stripMargin,
    "a23_user_auc" ->
      """WITH s AS (SELECT user_id, value / 500.0 AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT user_id, score, count(*) AS n, sum(y) AS pos
        |  FROM s GROUP BY user_id, score),
        |r AS (SELECT user_id, n, pos,
        |    coalesce(sum(n) OVER (PARTITION BY user_id ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM h),
        |a AS (SELECT user_id,
        |    sum(pos * (bef + (n + 1) / 2.0)) AS spr,
        |    sum(pos) AS np, CAST(sum(n) AS DOUBLE) AS nt
        |  FROM r GROUP BY user_id
        |  HAVING sum(pos) > 0 AND sum(n) - sum(pos) > 0)
        |SELECT user_id, CAST(np AS BIGINT) AS n_pos,
        |  CAST(nt - np AS BIGINT) AS n_neg,
        |  round((spr - np * (np + 1) / 2.0) / (np * (nt - np)), 6) AS auc
        |FROM a""".stripMargin,
    "a24_gauc" ->
      """WITH s AS (SELECT user_id, value / 500.0 AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT user_id, score, count(*) AS n, sum(y) AS pos
        |  FROM s GROUP BY user_id, score),
        |r AS (SELECT user_id, n, pos,
        |    coalesce(sum(n) OVER (PARTITION BY user_id ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM h),
        |a AS (SELECT user_id,
        |    sum(pos * (bef + (n + 1) / 2.0)) AS spr,
        |    sum(pos) AS np, CAST(sum(n) AS DOUBLE) AS nt
        |  FROM r GROUP BY user_id
        |  HAVING sum(pos) > 0 AND sum(n) - sum(pos) > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  round(sum(nt * ((spr - np * (np + 1) / 2.0) / (np * (nt - np))))
        |    / sum(nt), 6) AS gauc
        |FROM a""".stripMargin,
    "g2_degree_norm" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |ds AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |dd AS (SELECT dst, count(*) AS d FROM e GROUP BY dst)
        |SELECT e.src, e.dst, round(pow(ds.d, -0.5) * pow(dd.d, -0.5), 9) AS w
        |FROM e JOIN ds USING (src) JOIN dd USING (dst)""".stripMargin,
    "g3_propagate" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |ds AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |dd AS (SELECT dst, count(*) AS d FROM e GROUP BY dst)
        |SELECT e.dst AS p_partkey,
        |  round(sum(pow(ds.d, -0.5) * pow(dd.d, -0.5) * s.s_acctbal), 6) AS score
        |FROM e JOIN ds USING (src) JOIN dd USING (dst)
        |JOIN supplier s ON s.s_suppkey = e.src
        |GROUP BY e.dst""".stripMargin,
    "g8_propagate_vec" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |ds AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |dd AS (SELECT dst, count(*) AS d FROM e GROUP BY dst)
        |SELECT e.dst AS p_partkey,
        |  round(sum(pow(ds.d, -0.5) * pow(dd.d, -0.5) * s.s_acctbal), 6) AS score
        |FROM e JOIN ds USING (src) JOIN dd USING (dst)
        |JOIN supplier s ON s.s_suppkey = e.src
        |GROUP BY e.dst""".stripMargin,
    "stream_window_counts" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS w_start,
        |  user_id, count(*) AS n_events
        |FROM events GROUP BY 1, user_id""".stripMargin,
    "stream_sliding_window" ->
      """SELECT s AS w_start, event_type, count(*) AS n FROM (
        |  SELECT event_type, unnest([
        |    (epoch_ns(ts) // 1800000000000) * 1800,
        |    (epoch_ns(ts) // 1800000000000) * 1800 - 1800]) AS s
        |  FROM events)
        |GROUP BY s, event_type""".stripMargin,
    "s2_json_parse" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "s4_json_roundtrip" ->
      """SELECT event_id,
        |  to_json(struct_pack(user_id := user_id, event_type := event_type))
        |    AS payload
        |FROM events""".stripMargin,
    "s11_point_lookup" ->
      """SELECT user_id,
        |  array_to_string(list(event_id ORDER BY ts, event_id), '|') AS history
        |FROM events WHERE user_id IN (1, 42, 99) GROUP BY user_id""".stripMargin,
    "stream_session_window" ->
      """WITH o AS (SELECT user_id, epoch_ns(ts) AS t,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |      OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w >= 3600000000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT min(t) // 1000 AS session_start_us, user_id,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "d6_embedding_dedup" ->
      """WITH spl AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(), 16 // b), b)
        |      >= 80 / 100.0 THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pw AS (SELECT bands, CAST(16 // bands AS BIGINT) AS w FROM spl),
        |hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 15)) AS b)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |bits AS (SELECT vec_id, v, b // pw.w AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % pw.w AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper CROSS JOIN pw),
        |bk AS (SELECT vec_id, v, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, v, band),
        |capped AS (SELECT vec_id, v, band, key FROM (
        |    SELECT vec_id, v, band, key,
        |      count(*) OVER (PARTITION BY band, key) AS c FROM bk)
        |  WHERE c <= 2000),
        |pairs AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
        |    list_cosine_similarity(l.v, r.v) AS cosine
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pairs
        |WHERE cosine >= 0.4""".stripMargin,
    "d22_embedding_dedup_auto" ->
      """WITH w AS (
        |  SELECT least(24, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM embeddings),
        |bd AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |        (SELECT w FROM w)), b) >= 80 / 100.0
        |      THEN b END), 64) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 64)) AS b)),
        |hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, bands * w - 1)) AS b
        |    FROM w, bd)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |bits AS (SELECT vec_id, v, b // w.w AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % w.w AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper CROSS JOIN w),
        |bk AS (SELECT vec_id, v, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, v, band),
        |capped AS (SELECT vec_id, v, band, key FROM (
        |    SELECT vec_id, v, band, key,
        |      count(*) OVER (PARTITION BY band, key) AS c FROM bk)
        |  WHERE c <= 2000),
        |pairs AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
        |    list_cosine_similarity(l.v, r.v) AS cosine
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pairs
        |WHERE cosine >= 0.4""".stripMargin,
    "d23_lsh_capacity_audit" ->
      """WITH w AS (
        |  SELECT least(24, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM embeddings),
        |bd AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |        (SELECT w FROM w)), b) >= 80 / 100.0
        |      THEN b END), 64) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 64)) AS b)),
        |hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, bands * w - 1)) AS b
        |    FROM w, bd)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |bits AS (SELECT vec_id, b // w.w AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % w.w AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper CROSS JOIN w),
        |bk AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, band),
        |sizes AS (SELECT band, key, count(*) AS bucket_size
        |  FROM bk GROUP BY band, key)
        |SELECT band, bucket_size, count(*) AS n_buckets
        |FROM sizes GROUP BY band, bucket_size""".stripMargin,
    "d24_simhash_auto" ->
      """WITH w AS (
        |  SELECT least(16, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM toks),
        |banded AS (SELECT doc_id, lo, hi, b,
        |    (CASE b WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |            WHEN 2 THEN hi ELSE hi >> 16 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key))
        |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |  CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |    AS BIGINT) AS hamming
        |FROM capped l JOIN capped r
        |  ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi)) <= 3""".stripMargin,
    "d25_simhash_capacity_audit" ->
      """WITH w AS (
        |  SELECT least(16, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM toks),
        |banded AS (SELECT doc_id, b,
        |    (CASE b WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |            WHEN 2 THEN hi ELSE hi >> 16 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |sizes AS (SELECT CAST(b AS BIGINT) AS band, key,
        |    count(*) AS bucket_size
        |  FROM banded GROUP BY b, key)
        |SELECT band, bucket_size, count(*) AS n_buckets
        |FROM sizes GROUP BY band, bucket_size""".stripMargin,
    "d29_simhash128_auto" ->
      """WITH w AS (
        |  SELECT least(24, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p0,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p1,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('2','3','6','7','a','b','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p2,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p3
        |  FROM toks),
        |banded AS (SELECT doc_id, p0, p1, p2, p3, b,
        |    (CASE b WHEN 0 THEN p0 WHEN 1 THEN p1
        |            WHEN 2 THEN p2 ELSE p3 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key))
        |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |  CAST(bit_count(xor(l.p0, r.p0)) + bit_count(xor(l.p1, r.p1))
        |    + bit_count(xor(l.p2, r.p2)) + bit_count(xor(l.p3, r.p3))
        |    AS BIGINT) AS hamming
        |FROM capped l JOIN capped r
        |  ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.p0, r.p0)) + bit_count(xor(l.p1, r.p1))
        |  + bit_count(xor(l.p2, r.p2)) + bit_count(xor(l.p3, r.p3)) <= 6""".stripMargin,
    "d30_simhash128_capacity_audit" ->
      """WITH w AS (
        |  SELECT least(24, length(bin(((count(*) + 49) // 50) - 1))) AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p0,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p1,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('2','3','6','7','a','b','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p2,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS p3
        |  FROM toks),
        |banded AS (SELECT doc_id, b,
        |    (CASE b WHEN 0 THEN p0 WHEN 1 THEN p1
        |            WHEN 2 THEN p2 ELSE p3 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |sizes AS (SELECT CAST(b AS BIGINT) AS band, key,
        |    count(*) AS bucket_size
        |  FROM banded GROUP BY b, key)
        |SELECT band, bucket_size, count(*) AS n_buckets
        |FROM sizes GROUP BY band, bucket_size""".stripMargin,
    "d7_dup_clusters" ->
      """WITH RECURSIVE tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles FROM tk),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b)
        |SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""".stripMargin,
    "t6_pii_scrub" ->
      """WITH injected AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0
        |    THEN ' call 555-' || printf('%03d', doc_id % 1000) || '-1234'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0
        |    THEN ' host 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS text
        |FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS n_phones,
        |  len(regexp_extract_all(text,
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS redacted
        |FROM injected""".stripMargin,
    "t7_contamination" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles FROM tk),
        |vocab AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh
        |  WHERE doc_id % 10 <> 0),
        |test AS (SELECT doc_id, len(shingles) AS n_shingles, shingles FROM sh
        |  WHERE doc_id % 10 = 0),
        |ts AS (SELECT doc_id, unnest(shingles) AS shingle FROM test),
        |hits AS (SELECT ts.doc_id, count(*) AS n_hit
        |  FROM ts JOIN vocab USING (shingle) GROUP BY ts.doc_id)
        |SELECT t.doc_id, t.n_shingles,
        |  coalesce(h.n_hit, 0) AS n_contaminated,
        |  round(CASE WHEN t.n_shingles > 0
        |    THEN coalesce(h.n_hit, 0) * 1.0 / t.n_shingles
        |    ELSE 0.0 END, 6) AS containment
        |FROM test t LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "x6_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      s -> len(s) > 0)) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum // 512 AS block_id, cum % 512 AS block_offset FROM c""".stripMargin,
    "a13_quantile_filter" ->
      """WITH tk AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |h AS (SELECT doc_id, text, toks,
        |    len(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], t))) AS h_en,
        |    len(list_filter(toks, t -> list_contains(
        |      ['el','la','de','que','y','en','un','es'], t))) AS h_es,
        |    len(list_filter(toks, t -> list_contains(
        |      ['der','die','das','und','ist','von','ein','zu'], t))) AS h_de,
        |    len(list_filter(toks, t -> list_contains(
        |      ['le','la','de','et','un','est','que','en'], t))) AS h_fr,
        |    len(list_filter(toks, t -> list_contains(
        |      ['的','了','是','我','不','在','有','人'], t))) AS h_zh
        |  FROM tk),
        |m AS (SELECT doc_id, text, toks,
        |    greatest(h_en, h_es, h_de, h_fr, h_zh) AS best,
        |    h_en, h_es, h_de, h_fr, h_zh FROM h),
        |scored AS (SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |    WHEN h_zh = best THEN 'zh' WHEN h_fr = best THEN 'fr'
        |    WHEN h_es = best THEN 'es' WHEN h_en = best THEN 'en'
        |    ELSE 'de' END AS lang_guess,
        |  round(
        |    least(len(toks) / 50.0, 1.0) * 0.4
        |    + (CASE WHEN len(toks) > 0
        |        AND len(regexp_replace(text, '\s+', '', 'g')) * 1.0 / len(toks)
        |          BETWEEN 3.0 AND 10.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3
        |    + (1.0 - least(
        |        (CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |           / length(text) END) * 5.0, 1.0)) * 0.3, 6) AS quality
        |FROM m),
        |ranked AS (SELECT doc_id, lang_guess, quality,
        |    round(percent_rank() OVER (PARTITION BY lang_guess
        |      ORDER BY quality), 6) AS q_rank
        |  FROM scored)
        |SELECT doc_id, lang_guess, quality, q_rank FROM ranked
        |WHERE q_rank >= 0.25""".stripMargin,
    "g4_lightgcn" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |ed AS (SELECT s AS src, p + 1000000 AS dst FROM e
        |  UNION ALL SELECT p + 1000000, s FROM e),
        |n0 AS (SELECT CAST(s_suppkey AS BIGINT) AS id, s_acctbal AS v
        |    FROM supplier
        |  UNION ALL
        |  SELECT CAST(p_partkey + 1000000 AS BIGINT), p_retailprice FROM part),
        |ds AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
        |dd AS (SELECT dst, count(*) AS d FROM ed GROUP BY dst),
        |w AS (SELECT src, dst, pow(ds.d, -0.5) * pow(dd.d, -0.5) AS w
        |  FROM ed JOIN ds USING (src) JOIN dd USING (dst)),
        |l1 AS (SELECT w.dst AS id, sum(w.w * n0.v) AS v
        |  FROM w JOIN n0 ON n0.id = w.src GROUP BY w.dst),
        |l2 AS (SELECT w.dst AS id, sum(w.w * l1.v) AS v
        |  FROM w JOIN l1 ON l1.id = w.src GROUP BY w.dst)
        |SELECT n0.id,
        |  round((n0.v + coalesce(l1.v, 0) + coalesce(l2.v, 0)) * (1.0 / 3), 6)
        |    AS score
        |FROM n0 LEFT JOIN l1 USING (id) LEFT JOIN l2 USING (id)""".stripMargin,
    "d15_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substring(text, 1, length(text) // 3)
        |  FROM documents WHERE doc_id % 5 = 2),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM corpus),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles
        |  FROM tk),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle)
        |      AS c FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(i * 1.0 / least(na.n, nb.n), 6) AS containment
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |WHERE i * 1.0 / least(na.n, nb.n) >= 0.5""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles FROM tk),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(i * 1.0 / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |WHERE i * 1.0 / (na.n + nb.n - i) >= 0.15""".stripMargin,
    "d14_dup_spans" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i+1:i+6], ' ')) AS h
        |  FROM tk, LATERAL (SELECT unnest(
        |    generate_series(0, len(toks) - 6)) AS i)
        |  WHERE len(toks) >= 6),
        |dup AS (SELECT h FROM sh GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos FROM sh
        |  WHERE h IN (SELECT h FROM dup)),
        |g AS (SELECT doc_id, pos, pos - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS grp FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 5 AS BIGINT) AS span_end,
        |  count(*) AS n_shingles
        |FROM g GROUP BY doc_id, grp""".stripMargin,
    "d5_minhash_portable" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(30 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    len(list_filter(list_transform(generate_series(1, 16),
        |      i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS est_jaccard
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
        |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard
        |FROM pairs WHERE est_jaccard >= 30 / 100.0""".stripMargin,
    "d2_minhash_pairs" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(20 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    len(list_filter(list_transform(generate_series(1, 16),
        |      i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS est_jaccard
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
        |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard
        |FROM pairs WHERE est_jaccard >= 0.2""".stripMargin,
    "d3_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM toks),
        |banded AS (SELECT doc_id, sig, b, (sig >> (b*16)) & 65535 AS key
        |  FROM sig, (SELECT unnest([0, 1]) AS b) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key))
        |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |  CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        |FROM capped l JOIN capped r
        |  ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sig, r.sig)) <= 1""".stripMargin,
    "t1_text_analysis" ->
      """WITH tk AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |h AS (SELECT doc_id, text, toks,
        |    len(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], t))) AS h_en,
        |    len(list_filter(toks, t -> list_contains(
        |      ['el','la','de','que','y','en','un','es'], t))) AS h_es,
        |    len(list_filter(toks, t -> list_contains(
        |      ['der','die','das','und','ist','von','ein','zu'], t))) AS h_de,
        |    len(list_filter(toks, t -> list_contains(
        |      ['le','la','de','et','un','est','que','en'], t))) AS h_fr,
        |    len(list_filter(toks, t -> list_contains(
        |      ['的','了','是','我','不','在','有','人'], t))) AS h_zh
        |  FROM tk),
        |m AS (SELECT doc_id, text, toks,
        |    greatest(h_en, h_es, h_de, h_fr, h_zh) AS best,
        |    h_en, h_es, h_de, h_fr, h_zh FROM h)
        |SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |    WHEN h_zh = best THEN 'zh' WHEN h_fr = best THEN 'fr'
        |    WHEN h_es = best THEN 'es' WHEN h_en = best THEN 'en'
        |    ELSE 'de' END AS lang_guess,
        |  round(
        |    least(len(toks) / 50.0, 1.0) * 0.4
        |    + (CASE WHEN len(toks) > 0
        |        AND len(regexp_replace(text, '\s+', '', 'g')) * 1.0 / len(toks)
        |          BETWEEN 3.0 AND 10.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3
        |    + (1.0 - least(
        |        (CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |           / length(text) END) * 5.0, 1.0)) * 0.3, 6) AS quality,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE len(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], t))) * 1.0 / len(toks)
        |    END, 6) AS stopword_ratio
        |FROM m""".stripMargin,
    "t4_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  round(avg(n_chars), 6) AS avg_chars,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> len(t) > 0))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "t5_corpus_rollup" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        |  coalesce(source, 'ALL') AS source,
        |  count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    "v1_normalize_emb" ->
      """SELECT vec_id,
        |  round(sqrt(nsq), 9) AS l2_norm,
        |  round(CAST(embedding[1] AS DOUBLE) / sqrt(nsq), 9) AS u0
        |FROM (SELECT vec_id, embedding,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
        |  FROM embeddings)""".stripMargin,
    "etl_training_data" ->
      """WITH ev AS (SELECT user_id, event_id % 200 AS item, ts, value FROM events),
        |cnt AS (SELECT user_id, count(*) AS n FROM ev GROUP BY user_id),
        |keep AS (SELECT user_id FROM cnt
        |  WHERE CASE WHEN n >= 70
        |    THEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |    ELSE substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '1' END),
        |base AS (SELECT ev.* FROM ev JOIN keep USING (user_id)),
        |w AS (SELECT user_id, item, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, item) AS idx,
        |    list(item) OVER (PARTITION BY user_id ORDER BY ts, item
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS h
        |  FROM base),
        |samples AS (SELECT * FROM w WHERE idx > 3 AND (idx - 4) % 2 = 0),
        |pos AS (SELECT user_id, idx, item AS cand,
        |    array_to_string(h, '|') AS history
        |  FROM samples WHERE value >= 250),
        |ui AS (SELECT DISTINCT user_id, item FROM base),
        |negc AS (SELECT user_id, idx, cand, attempt, history,
        |    ((user_id % 1000000000) * 2654435761 + (cand % 1000000000) * 40503
        |      + (attempt % 1000000000) * 69069) % 200 AS cand_neg
        |  FROM pos CROSS JOIN
        |    (SELECT unnest(CAST([1, 2] AS BIGINT[])) AS attempt) t),
        |negs AS (SELECT * FROM negc WHERE NOT EXISTS (SELECT 1 FROM ui
        |  WHERE ui.user_id = negc.user_id AND ui.item = negc.cand_neg))
        |SELECT user_id, idx, cand AS item, CAST(1 AS BIGINT) AS label,
        |  CAST(0 AS BIGINT) AS attempt, history FROM pos
        |UNION ALL
        |SELECT user_id, idx, cand_neg AS item, 0, attempt, history FROM negs""".stripMargin,
    "m0_recommend_slice" ->
      """WITH beh AS (SELECT user_id,
        |    event_id % (SELECT count(*) FROM embeddings) AS item_id, ts
        |  FROM events WHERE user_id < 5),
        |recent AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, item_id DESC) AS rn FROM beh)
        |  WHERE rn <= 10),
        |uvec AS (SELECT user_id, pos, avg(v) AS uv FROM (
        |    SELECT r.user_id,
        |      unnest(CAST(e.embedding AS DOUBLE[])) AS v,
        |      unnest(generate_series(1, len(e.embedding))) AS pos
        |    FROM recent r JOIN embeddings e ON e.vec_id = r.item_id)
        |  GROUP BY user_id, pos),
        |uarr AS (SELECT user_id, list(uv ORDER BY pos) AS uemb
        |  FROM uvec GROUP BY user_id),
        |scored AS (SELECT u.user_id, e.vec_id AS item_id,
        |    list_dot_product(u.uemb, CAST(e.embedding AS DOUBLE[])) AS score
        |  FROM uarr u CROSS JOIN embeddings e
        |  WHERE NOT EXISTS (SELECT 1 FROM recent r
        |    WHERE r.user_id = u.user_id AND r.item_id = e.vec_id))
        |SELECT user_id, item_id, round(score, 6) AS score, rank FROM (
        |  SELECT user_id, item_id, score, row_number() OVER (
        |    PARTITION BY user_id ORDER BY score DESC, item_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "m11_coldstart_recall" ->
      """WITH users AS (SELECT c_custkey AS user_id FROM customer
        |  WHERE c_custkey < 15),
        |hist AS (SELECT user_id,
        |    event_id % (SELECT count(*) FROM embeddings) AS item_id, ts
        |  FROM events WHERE user_id < 8),
        |recent AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, item_id DESC) AS rn FROM hist)
        |  WHERE rn <= 10),
        |ue AS (SELECT vec_id AS user_id, CAST(embedding AS DOUBLE[]) AS uemb
        |  FROM embeddings WHERE vec_id < 4),
        |items AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS iemb FROM embeddings),
        |b1 AS (SELECT u.user_id, e.uemb, 1 AS branch
        |  FROM users u JOIN ue e USING (user_id)),
        |mh AS (SELECT r.user_id, i.item_id, i.iemb FROM recent r
        |  JOIN users u ON u.user_id = r.user_id
        |  JOIN items i ON i.item_id = r.item_id
        |  WHERE r.user_id NOT IN (SELECT user_id FROM ue)),
        |b2v AS (SELECT user_id, pos, avg(v) AS uv FROM (
        |    SELECT user_id, unnest(iemb) AS v,
        |      unnest(generate_series(1, len(iemb))) AS pos FROM mh)
        |  GROUP BY user_id, pos),
        |b2 AS (SELECT user_id, list(uv ORDER BY pos) AS uemb, 2 AS branch
        |  FROM b2v GROUP BY user_id),
        |emb12 AS (SELECT b.user_id, b.branch, i.item_id,
        |    list_dot_product(b.uemb, i.iemb) AS score
        |  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2) b
        |  CROSS JOIN items i
        |  WHERE NOT EXISTS (SELECT 1 FROM recent r
        |    WHERE r.user_id = b.user_id AND r.item_id = i.item_id)),
        |top12 AS (SELECT user_id, branch, item_id, score, rank FROM (
        |    SELECT user_id, branch, item_id, score, row_number() OVER (
        |      PARTITION BY user_id ORDER BY score DESC, item_id) AS rank
        |    FROM emb12)
        |  WHERE rank <= 5),
        |inter AS (SELECT event_id % (SELECT count(*) FROM embeddings)
        |    AS item_id FROM events),
        |pop AS (SELECT item_id, score, rank FROM (
        |    SELECT item_id, CAST(count(*) AS DOUBLE) AS score,
        |      row_number() OVER (ORDER BY count(*) DESC, item_id) AS rank
        |    FROM inter GROUP BY item_id)
        |  WHERE rank <= 5),
        |b3 AS (SELECT u.user_id, 3 AS branch, p.item_id, p.score, p.rank
        |  FROM users u CROSS JOIN pop p
        |  WHERE u.user_id NOT IN (SELECT user_id FROM b1)
        |    AND u.user_id NOT IN (SELECT user_id FROM b2))
        |SELECT user_id, CAST(branch AS BIGINT) AS branch, item_id,
        |  round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
        |FROM (SELECT * FROM top12 UNION ALL SELECT * FROM b3)""".stripMargin,
    "m12_coldstart_cascade" ->
      """WITH users AS (SELECT c_custkey AS user_id FROM customer
        |  WHERE c_custkey < 15),
        |hist AS (SELECT user_id,
        |    event_id % (SELECT count(*) FROM embeddings) AS item_id, ts
        |  FROM events WHERE user_id < 8),
        |recent AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, item_id DESC) AS rn FROM hist)
        |  WHERE rn <= 10),
        |ue AS (SELECT vec_id AS user_id, CAST(embedding AS DOUBLE[]) AS uemb
        |  FROM embeddings WHERE vec_id < 4),
        |items AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS iemb FROM embeddings),
        |b1 AS (SELECT u.user_id, e.uemb, 1 AS branch
        |  FROM users u JOIN ue e USING (user_id)),
        |mh AS (SELECT r.user_id, i.item_id, i.iemb FROM recent r
        |  JOIN users u ON u.user_id = r.user_id
        |  JOIN items i ON i.item_id = r.item_id
        |  WHERE r.user_id NOT IN (SELECT user_id FROM ue)),
        |b2v AS (SELECT user_id, pos, avg(v) AS uv FROM (
        |    SELECT user_id, unnest(iemb) AS v,
        |      unnest(generate_series(1, len(iemb))) AS pos FROM mh)
        |  GROUP BY user_id, pos),
        |b2 AS (SELECT user_id, list(uv ORDER BY pos) AS uemb, 2 AS branch
        |  FROM b2v GROUP BY user_id),
        |q AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |cent AS (SELECT rn - 1 AS cell, iemb AS cv FROM (
        |    SELECT iemb, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM items) WHERE rn <= 4),
        |assigned AS (SELECT item_id, iemb, cell FROM (
        |    SELECT i.item_id, i.iemb, ct.cell, row_number() OVER (
        |      PARTITION BY i.item_id
        |      ORDER BY list_cosine_similarity(i.iemb, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM items i CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT user_id, uemb, cell FROM (
        |    SELECT b.user_id, b.uemb, ct.cell, row_number() OVER (
        |      PARTITION BY b.user_id
        |      ORDER BY list_cosine_similarity(b.uemb, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM q b CROSS JOIN cent ct) WHERE rn <= 2),
        |ann AS (SELECT user_id, item_id FROM (
        |    SELECT p.user_id, a.item_id, row_number() OVER (
        |      PARTITION BY p.user_id
        |      ORDER BY list_cosine_similarity(p.uemb, a.iemb) DESC, a.item_id)
        |      AS rank
        |    FROM probed p JOIN assigned a USING (cell)) WHERE rank <= 20),
        |recalled AS (SELECT a.user_id, qb.branch, a.item_id FROM ann a
        |  JOIN (SELECT user_id, branch FROM q) qb USING (user_id)
        |  WHERE NOT EXISTS (SELECT 1 FROM recent r
        |    WHERE r.user_id = a.user_id AND r.item_id = a.item_id)),
        |inter AS (SELECT event_id % (SELECT count(*) FROM embeddings)
        |    AS item_id FROM events),
        |pop AS (SELECT item_id FROM (
        |    SELECT item_id, row_number() OVER (ORDER BY count(*) DESC,
        |      item_id) AS rank
        |    FROM inter GROUP BY item_id) WHERE rank <= 20),
        |b3 AS (SELECT u.user_id, 3 AS branch, p.item_id
        |  FROM users u CROSS JOIN pop p
        |  WHERE u.user_id NOT IN (SELECT user_id FROM q)),
        |cand AS (SELECT user_id, branch, item_id FROM recalled
        |  UNION ALL SELECT user_id, branch, item_id FROM b3),
        |r2 AS (SELECT user_id, branch, item_id FROM (
        |    SELECT user_id, branch, item_id, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY (user_id*2654435761 + item_id*40503) % 1000000 DESC,
        |        item_id) AS rn
        |    FROM cand) WHERE rn <= 10)
        |SELECT user_id, CAST(branch AS BIGINT) AS branch, item_id,
        |  CAST(rn AS BIGINT) AS final_rank FROM (
        |  SELECT user_id, branch, item_id, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY (item_id*2654435761 + user_id*40503) % 1000000 DESC,
        |      item_id) AS rn
        |  FROM r2) WHERE rn <= 5""".stripMargin,
    "m4_cascade" ->
      """WITH users AS (SELECT vec_id AS user_id,
        |    CAST(embedding AS DOUBLE[]) AS uemb
        |  FROM embeddings WHERE vec_id < 50),
        |items AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS iemb
        |  FROM embeddings WHERE vec_id >= 50),
        |recalled AS (SELECT user_id, item_id,
        |    list_dot_product(uemb, iemb) AS rscore
        |  FROM users CROSS JOIN items WHERE item_id NOT IN (100, 101)),
        |r1 AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rscore DESC, item_id) AS rn FROM recalled)
        |  WHERE rn <= 100),
        |r2 AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY (user_id*2654435761 + item_id*40503) % 1000000 DESC,
        |        item_id) AS rn FROM r1)
        |  WHERE rn <= 50)
        |SELECT user_id, item_id, final_rank FROM (
        |  SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY (item_id*2654435761 + user_id*40503) % 1000000 DESC,
        |      item_id) AS final_rank FROM r2)
        |WHERE final_rank <= 10""".stripMargin,
    "d8_simhash_portable" ->
      """WITH toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(list_sum(list_transform(generate_series(0, 31), b ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |      CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |    THEN (1::BIGINT << b) ELSE 0 END)), 0) AS BIGINT) AS sig
        |FROM documents d LEFT JOIN toks USING (doc_id)""".stripMargin,
    "d9_chunk_scrub" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |chunks AS (SELECT doc_id, p, array_to_string(t[(p*3+1):(p*3+3)], ' ') AS c
        |  FROM (SELECT doc_id, t,
        |      unnest(generate_series(0, CAST(ceil(len(t)/3.0) AS BIGINT) - 1)) AS p
        |    FROM tk)),
        |hot AS (SELECT c FROM chunks GROUP BY c HAVING count(*) >= 3),
        |kept AS (SELECT * FROM chunks WHERE c NOT IN (SELECT c FROM hot)),
        |rebuilt AS (SELECT doc_id, count(*) AS kept_n,
        |    array_to_string(list(c ORDER BY p), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |totals AS (SELECT doc_id, count(*) AS total_n FROM chunks GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  coalesce(t.total_n, 0) - coalesce(r.kept_n, 0) AS n_removed
        |FROM documents d
        |LEFT JOIN totals t USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "t8_repetition" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |words AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS top
        |  FROM (SELECT doc_id, w, count(*) AS c
        |    FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |grams AS (SELECT doc_id, sum(c) AS gn,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS gdup
        |  FROM (SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(list_transform(
        |        generate_series(1, len(t) - 2),
        |        i -> array_to_string(t[i:i+2], ' '))) AS g
        |      FROM tk WHERE len(t) >= 3)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |base AS (SELECT DISTINCT doc_id FROM documents)
        |SELECT b.doc_id,
        |  CAST(coalesce(w.n, 0) AS BIGINT) AS n_words,
        |  round(CASE WHEN coalesce(w.n, 0) > 0
        |    THEN w.d / CAST(w.n AS DOUBLE) ELSE 0.0 END, 6) AS distinct_word_frac,
        |  round(CASE WHEN coalesce(w.n, 0) > 0
        |    THEN w.top / CAST(w.n AS DOUBLE) ELSE 0.0 END, 6) AS top_word_frac,
        |  round(CASE WHEN coalesce(gn, 0) > 0
        |    THEN gdup / CAST(gn AS DOUBLE) ELSE 0.0 END, 6) AS dup_3gram_frac
        |FROM base b LEFT JOIN words w USING (doc_id)
        |LEFT JOIN grams USING (doc_id)""".stripMargin,
    "x7_source_mix" ->
      """WITH rates AS (
        |  SELECT c.lang, least(1.0,
        |      (w.wt * ((SELECT count(*) FROM documents) * 0.5)) / c.n) AS r
        |  FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang) c
        |  JOIN (SELECT * FROM (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |        ('fr', 0.15), ('zh', 0.15)) AS t(lang, wt)) w USING (lang))
        |SELECT d.doc_id, d.lang FROM documents d JOIN rates USING (lang)
        |WHERE r >= 1.0 OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |  < printf('%04x', CAST(floor(r * 65536) AS INT))""".stripMargin,
    "sim6_pq_adc" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cb AS (SELECT cidx, cv FROM (SELECT
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      vec_id) - 1 AS cidx, v AS cv FROM c) WHERE cidx < 4),
        |subs AS (SELECT unnest(range(0, 4)) AS sub),
        |cd AS (SELECT c.vec_id, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (c.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (c.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM c CROSS JOIN subs CROSS JOIN cb),
        |pick AS (SELECT vec_id, sub, cidx FROM (SELECT vec_id, sub, cidx,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cidx) AS rn FROM cd) WHERE rn = 1),
        |qd AS (SELECT q.vec_id, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (q.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (q.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM q CROSS JOIN subs CROSS JOIN cb),
        |sc AS (SELECT qd.vec_id AS query_id, p.vec_id AS item_id,
        |    round(sum(qd.dist), 6) AS adc_dist
        |  FROM pick p JOIN qd ON qd.sub = p.sub AND qd.cidx = p.cidx
        |  GROUP BY 1, 2)
        |SELECT query_id, item_id, adc_dist, rank FROM (SELECT query_id,
        |    item_id, adc_dist, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, item_id) AS rank FROM sc)
        |WHERE rank <= 5""".stripMargin,
    "sim8_mmr" -> {
      // Steps 2..5 are the same CTE triple (pool minus selected → max
      // sim-to-selected → rounded argmax); generated, not hand-unrolled.
      def step(i: Int): String =
        s"""r$i AS (SELECT c.query_id, c.item_id, c.rel,
           |    max(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
           |      CAST(se.embedding AS DOUBLE[]))) AS msim
           |  FROM cand c
           |  JOIN sel${i - 1} s ON s.query_id = c.query_id
           |  JOIN embeddings ce ON ce.vec_id = c.item_id
           |  JOIN embeddings se ON se.vec_id = s.item_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           |    WHERE x.query_id = c.query_id AND x.item_id = c.item_id)
           |  GROUP BY c.query_id, c.item_id, c.rel),
           |s$i AS (SELECT query_id, item_id, mmr FROM (
           |    SELECT query_id, item_id,
           |      round(0.5 * rel - 0.5 * msim, 6) AS mmr,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY round(0.5 * rel - 0.5 * msim, 6) DESC,
           |          item_id) AS rk
           |    FROM r$i) WHERE rk = 1),
           |sel$i AS (SELECT query_id, item_id FROM sel${i - 1}
           |  UNION ALL SELECT query_id, item_id FROM s$i)""".stripMargin
      val head =
        """WITH cand AS (SELECT query_id, item_id, rel FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
          |        CAST(c.embedding AS DOUBLE[])) AS rel,
          |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
          |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
          |    FROM embeddings q, embeddings c
          |    WHERE q.vec_id < 10 AND c.vec_id >= 10) WHERE rk <= 20),
          |s1 AS (SELECT query_id, item_id, round(rel, 6) AS mmr FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY rel DESC, item_id) AS rk FROM cand) WHERE rk = 1),
          |sel1 AS (SELECT query_id, item_id FROM s1)""".stripMargin
      val tail = (1 to 5).map(i =>
        s"SELECT query_id, item_id, mmr, CAST($i AS BIGINT) AS step FROM s$i")
        .mkString("\nUNION ALL ")
      (head +: (2 to 5).map(step)).mkString(",\n") + "\n" + tail
    },
    "sim7_ivfpq" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM c) WHERE rn <= 8),
        |cb AS (SELECT cidx, cv FROM (SELECT
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      vec_id) - 1 AS cidx, v AS cv FROM c) WHERE cidx < 4),
        |acell AS (SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM c CROSS JOIN cent ct) WHERE rn = 1),
        |qcell AS (SELECT vec_id, cell FROM (
        |    SELECT q.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM q CROSS JOIN cent ct) WHERE rn <= 4),
        |subs AS (SELECT unnest(range(0, 4)) AS sub),
        |cd AS (SELECT c.vec_id, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (c.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (c.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM c CROSS JOIN subs CROSS JOIN cb),
        |pick AS (SELECT vec_id, sub, cidx FROM (SELECT vec_id, sub, cidx,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cidx) AS rn FROM cd) WHERE rn = 1),
        |qd AS (SELECT q.vec_id, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (q.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (q.v[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM q CROSS JOIN subs CROSS JOIN cb),
        |sc AS (SELECT qd.vec_id AS query_id, p.vec_id AS item_id,
        |    round(sum(qd.dist), 6) AS adc_dist
        |  FROM pick p
        |  JOIN acell a ON a.vec_id = p.vec_id
        |  JOIN qcell qc ON qc.cell = a.cell
        |  JOIN qd ON qd.vec_id = qc.vec_id AND qd.sub = p.sub
        |    AND qd.cidx = p.cidx
        |  GROUP BY 1, 2)
        |SELECT query_id, item_id, adc_dist, rank FROM (SELECT query_id,
        |    item_id, adc_dist, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, item_id) AS rank FROM sc)
        |WHERE rank <= 5""".stripMargin,
    "t18_url_canonical" ->
      """WITH raw AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || source || '.example.com/docs/' || (doc_id % 100)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |        THEN '?utm_source=feed&id=' || doc_id ELSE '' END)
        |      AS url FROM documents)
        |SELECT doc_id, url,
        |  'https://' || regexp_replace(regexp_replace(
        |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
        |    '^www\.', ''), '/$', '')
        |  || regexp_replace(
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
        |    '/$', '') AS canon_url,
        |  lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host
        |FROM raw""".stripMargin,
    "t17_html_strip" ->
      """WITH h AS (SELECT doc_id, '<div id="' || doc_id || '"><p>' ||
        |    text || ' &amp; more &lt;escaped&gt;</p><br/></div>' AS x
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(replace(replace(replace(replace(replace(
        |    replace(regexp_replace(x, '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'), ' +', ' ', 'g'))
        |    AS clean_text,
        |  CAST(len(regexp_extract_all(x, '<[^>]*>')) AS BIGINT) AS n_tags
        |FROM h""".stripMargin,
    "a18_calibration" ->
      """WITH s AS (SELECT value / 500 AS score, CASE WHEN
        |    event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |b AS (SELECT greatest(least(floor(score * 10), 9), 0) AS bin,
        |    count(*) AS n,
        |    avg(score) AS conf, avg(y) AS acc FROM s GROUP BY 1)
        |SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece,
        |  count(*) AS n_bins_used FROM b""".stripMargin,
    "a19_psi" ->
      """WITH b AS (SELECT least(greatest(floor((value - 0.0) / 50.0), 0),
        |      9) AS bin, count(*) AS n
        |  FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        |c AS (SELECT least(greatest(floor((value - 0.0) / 50.0), 0), 9)
        |      AS bin, count(*) AS n
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(b.n, 0) AS nb, coalesce(c.n, 0) AS nc
        |  FROM b FULL OUTER JOIN c USING (bin)),
        |t AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM j)
        |SELECT round(sum(((nc + 0.5) / (tc + 5.0) - (nb + 0.5) /
        |    (tb + 5.0)) * ln(((nc + 0.5) / (tc + 5.0)) /
        |    ((nb + 0.5) / (tb + 5.0)))), 6) AS psi
        |FROM j CROSS JOIN t""".stripMargin,
    "a20_bootstrap_ci" ->
      """WITH r AS (SELECT event_id, value,
        |    unnest(generate_series(0, 39)) AS b
        |  FROM events),
        |w AS (SELECT b, value,
        |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || '#'
        |      || CAST(b AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0 AS u
        |  FROM r),
        |m AS (SELECT b,
        |    sum((CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) * value) /
        |    sum(CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) AS m
        |  FROM w GROUP BY b)
        |SELECT CAST(count(*) AS BIGINT) AS n_replicates,
        |  round((SELECT avg(value) FROM events), 6) AS point_mean,
        |  round((list(m ORDER BY m))[2], 6) AS ci_lo,
        |  round((list(m ORDER BY m))[39], 6) AS ci_hi
        |FROM m""".stripMargin,
    "a21_ab_delta" ->
      """WITH r AS (SELECT event_id, value / 500.0 AS a,
        |    1.0 / (1.0 + exp(-(value - 250.0) / 100.0)) AS b2,
        |    unnest(generate_series(0, 39)) AS b
        |  FROM events),
        |w AS (SELECT b, a, b2,
        |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || '#'
        |      || CAST(b AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0 AS u
        |  FROM r),
        |m AS (SELECT b,
        |    sum((CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) * a) /
        |    sum(CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) -
        |    sum((CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) * b2) /
        |    sum(CASE WHEN u < 0.367879441 THEN 0.0
        |      WHEN u < 0.735758882 THEN 1.0
        |      WHEN u < 0.919698603 THEN 2.0 ELSE 3.0 END) AS m
        |  FROM w GROUP BY b)
        |SELECT CAST(count(*) AS BIGINT) AS n_replicates,
        |  round((SELECT avg(value / 500.0) -
        |    avg(1.0 / (1.0 + exp(-(value - 250.0) / 100.0)))
        |    FROM events), 6) AS point_delta,
        |  round((list(m ORDER BY m))[2], 6) AS ci_lo,
        |  round((list(m ORDER BY m))[39], 6) AS ci_hi
        |FROM m""".stripMargin,
    "a22_ks_drift" ->
      """WITH a AS (SELECT value AS x, count(*) AS na FROM events
        |  WHERE event_type <> 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT value AS x, count(*) AS nb FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT coalesce(a.x, b.x) AS x, coalesce(na, 0) AS na,
        |    coalesce(nb, 0) AS nb
        |  FROM a FULL OUTER JOIN b ON a.x = b.x),
        |c AS (SELECT sum(na) OVER (ORDER BY x) AS ca,
        |    sum(nb) OVER (ORDER BY x) AS cb,
        |    (SELECT sum(na) FROM m) AS ta,
        |    (SELECT sum(nb) FROM m) AS tb
        |  FROM m)
        |SELECT round(max(abs(CAST(ca AS DOUBLE) / ta
        |    - CAST(cb AS DOUBLE) / tb)), 6) AS ks_stat,
        |  CAST(max(ta) AS BIGINT) AS n_base,
        |  CAST(max(tb) AS BIGINT) AS n_current
        |FROM c""".stripMargin,
    "a17_window_anomaly" ->
      """WITH c AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS win,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, win, n, avg(n) OVER w AS mu,
        |    stddev_samp(n) OVER w AS sd
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY win
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, win, n, round(mu, 6) AS mean_prev,
        |  CASE WHEN sd > 0 THEN round((n - mu) / sd, 4) END AS z,
        |  coalesce(abs(CASE WHEN sd > 0
        |    THEN round((n - mu) / sd, 4) END) > 3, false) AS is_anomaly
        |FROM s""".stripMargin,
    "w9_rolling_window" ->
      """SELECT user_id, event_id, count(*) OVER w AS n_7d,
        |  round(sum(coalesce(value, 0)) OVER w, 6) AS sum_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 604800000000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "w10_scd2" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS valid_from,
        |  lead(epoch_ns(ts) // 1000, 1) OVER w AS valid_to,
        |  round(coalesce(value, 0), 6) AS value,
        |  (lead(epoch_ns(ts) // 1000, 1) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_ns(ts) // 1000, event_id)""".stripMargin,
    "w12_funnel" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts) AS t_click FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts) AS t_purchase FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t_click
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |    WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin,
    "w13_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts FROM events),
        |f AS (SELECT user_id, min(ts) // 604800000000 AS cohort FROM e
        |  GROUP BY user_id)
        |SELECT cohort, (ts // 604800000000) - cohort AS offset,
        |  count(DISTINCT user_id) AS n_active
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    "a30_novelty" ->
      """WITH ui AS (SELECT o_custkey AS u, l_partkey AS item,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |recs AS (SELECT u, item FROM (SELECT u, item,
        |    row_number() OVER (PARTITION BY u
        |      ORDER BY qty DESC, item) AS rn FROM ui) WHERE rn <= 5),
        |pop AS (SELECT item, count(*) AS cnt FROM ui GROUP BY item),
        |tot AS (SELECT count(*) AS t FROM ui),
        |si AS (SELECT -log2(cnt * 1.0 / t) AS si FROM recs
        |  JOIN pop USING (item) CROSS JOIN tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_recs,
        |  round(avg(si), 6) AS mean_novelty,
        |  round(min(si), 6) AS min_novelty,
        |  round(max(si), 6) AS max_novelty FROM si""".stripMargin,
    "q5_dup_rate" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  round(1 - count(DISTINCT md5(text)) * 1.0 / count(*), 6)
        |    AS dup_rate
        |FROM documents GROUP BY source""".stripMargin,
    "x20_rank_normalize" ->
      """WITH r AS (SELECT event_id, value,
        |    row_number() OVER (ORDER BY value, event_id) - 1 AS rk
        |  FROM events),
        |t AS (SELECT count(*) AS n FROM events)
        |SELECT event_id, round(value, 6) AS value,
        |  round(rk * 1.0 / ((SELECT n FROM t) - 1), 6) AS pct_rank
        |FROM r""".stripMargin,
    "x19_split_manifest" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |sp AS (SELECT user_id,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'holdout' END AS split FROM u)
        |SELECT split, count(*) AS n_users,
        |  CAST(sum(CAST(('0x' ||
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT))
        |    % 281474976710656 AS BIGINT) AS digest
        |FROM sp GROUP BY split""".stripMargin,
    "j14_temporal_join" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id,
        |    event_type FROM events),
        |d AS (SELECT user_id, event_id AS version_id, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM e WHERE event_type <> 'purchase'),
        |f AS (SELECT user_id, event_id AS purchase_id, ts AS fact_ts
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT max(ts) AS tmax FROM e)
        |SELECT f.user_id, purchase_id, fact_ts, version_id, valid_from
        |FROM f JOIN d ON f.user_id = d.user_id
        |  AND fact_ts >= valid_from
        |  AND fact_ts <= coalesce(valid_to, (SELECT tmax FROM t) + 1) - 1"""
        .stripMargin,
    "x18_mixup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(label AS BIGINT) AS label,
        |    md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings),
        |i AS (SELECT vec_id, v, label, h,
        |    row_number() OVER (ORDER BY h) - 1 AS idx FROM e),
        |n AS (SELECT count(*) AS n FROM e),
        |j AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.h,
        |    a.label AS label_a, b.label AS label_b,
        |    list_sum(a.v) AS sa, list_sum(b.v) AS sb
        |  FROM i a JOIN i b ON b.idx = (a.idx + 1) % (SELECT n FROM n)),
        |l AS (SELECT *, (CAST(('0x' || substring(h, 1, 4)) AS BIGINT)
        |    % 400) / 1000.0 + 0.3 AS lam FROM j)
        |SELECT vec_id_a, vec_id_b, round(lam, 6) AS lam,
        |  label_a, label_b,
        |  round(lam * sa + (1 - lam) * sb, 6) AS mix_sum
        |FROM l""".stripMargin,
    "w17_burstiness" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id
        |  FROM events),
        |g AS (SELECT user_id, (ts - lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) / 1e6 AS gap FROM e)
        |SELECT user_id, count(*) AS n_gaps,
        |  round(avg(gap), 6) AS mean_gap_s,
        |  round(sqrt(greatest(avg(gap * gap) - avg(gap) * avg(gap), 0))
        |    / avg(gap), 6) AS burstiness
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id""".stripMargin,
    "g12_kcore" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |e0 AS (SELECT DISTINCT x.i AS u, y.i AS v FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i < y.i),
        |d1 AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e0
        |    UNION ALL SELECT v FROM e0) GROUP BY n),
        |k1 AS (SELECT n FROM d1 WHERE d >= 3),
        |e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT n FROM k1)
        |  AND v IN (SELECT n FROM k1)),
        |d2 AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e1
        |    UNION ALL SELECT v FROM e1) GROUP BY n),
        |k2 AS (SELECT n FROM d2 WHERE d >= 3),
        |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT n FROM k2)
        |  AND v IN (SELECT n FROM k2)),
        |d3 AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e2
        |    UNION ALL SELECT v FROM e2) GROUP BY n),
        |k3 AS (SELECT n FROM d3 WHERE d >= 3),
        |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT n FROM k3)
        |  AND v IN (SELECT n FROM k3))
        |SELECT n AS item, count(*) AS degree FROM (SELECT u AS n FROM e3
        |  UNION ALL SELECT v FROM e3) GROUP BY n""".stripMargin,
    "w16_decay_activity" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts
        |  FROM events),
        |t AS (SELECT max(ts) AS tmax FROM e)
        |SELECT user_id, count(*) AS n,
        |  round(sum(pow(2.0, -(tmax - ts) / 6.048e11)), 6)
        |    AS decayed_activity
        |FROM e CROSS JOIN t GROUP BY user_id""".stripMargin,
    "t27_memorization" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 5),
        |      i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
        |  FROM tk),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |df AS (SELECT s, count(*) AS df FROM inv GROUP BY s)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  round(sum(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 6)
        |    AS memorization_ratio
        |FROM inv JOIN df USING (s) GROUP BY doc_id""".stripMargin,
    "t26_char_entropy" ->
      """WITH f AS (SELECT doc_id, c, count(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |    FROM documents WHERE length(text) > 0)
        |  WHERE length(c) > 0
        |  GROUP BY doc_id, c)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
        |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
        |    AS char_entropy
        |FROM f GROUP BY doc_id""".stripMargin,
    "a32_lift_deciles" ->
      """WITH sc AS (SELECT event_id, value / 500.0 AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (ORDER BY s DESC, event_id) - 1
        |    AS rk FROM sc),
        |t AS (SELECT count(*) AS n, sum(y) AS pos FROM sc)
        |SELECT (rk * 10) // (SELECT n FROM t) AS decile,
        |  count(*) AS n_rows, CAST(sum(y) AS BIGINT) AS n_pos,
        |  round(sum(y) / count(*), 6) AS response_rate,
        |  round((sum(y) / count(*)) /
        |    ((SELECT pos FROM t) * 1.0 / (SELECT n FROM t)), 6) AS lift
        |FROM r GROUP BY 1""".stripMargin,
    "w18_session_conversion" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id,
        |    event_type FROM events),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM e),
        |b AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= 3600000000
        |    THEN 1 ELSE 0 END AS brk FROM l),
        |sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS sid FROM b),
        |g AS (SELECT user_id, sid,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM sess GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(conv) AS BIGINT) AS n_converted,
        |  round(sum(conv) * 1.0 / count(*), 6) AS conversion_rate
        |FROM g GROUP BY user_id""".stripMargin,
    "a31_average_precision" ->
      """WITH sc AS (SELECT value / 500.0 AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |h AS (SELECT s, count(*) AS n, sum(y) AS pos FROM sc GROUP BY s),
        |c AS (SELECT s, n, pos, sum(n) OVER w AS cn, sum(pos) OVER w AS cp
        |  FROM h WINDOW w AS (ORDER BY s DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  round(sum(pos * cp / cn) / sum(pos), 6) AS average_precision
        |FROM c""".stripMargin,
    "w15_churn_labels" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts
        |  FROM events),
        |l AS (SELECT user_id, event_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS nxt FROM e)
        |SELECT user_id, event_id, ts, nxt - ts AS next_gap_us,
        |  coalesce(nxt - ts <= 604800000000, false) AS returns_7d
        |FROM l""".stripMargin,
    "x17_oversample" ->
      """WITH base AS (SELECT vec_id, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |counts AS (SELECT label, count(*) AS n FROM base GROUP BY label),
        |f AS (SELECT label, CAST(ceil(mx * 1.0 / n) AS BIGINT) AS f
        |  FROM counts CROSS JOIN (SELECT max(n) AS mx FROM counts))
        |SELECT vec_id, label,
        |  unnest(generate_series(1, f)) AS copy
        |FROM base JOIN f USING (label)""".stripMargin,
    "x16_skipgram_pairs" ->
      """WITH seq AS (SELECT o_custkey AS cust,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey, l_linenumber,
        |        l_partkey) AS pos,
        |    l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT a.item AS center, b.item AS context, count(*) AS n,
        |  round(sum(1.0 / abs(b.pos - a.pos)), 6) AS w
        |FROM seq a JOIN seq b ON a.cust = b.cust
        |  AND b.pos BETWEEN a.pos - 2 AND a.pos + 2 AND b.pos <> a.pos
        |GROUP BY 1, 2""".stripMargin,
    "w14_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    count(*) AS n FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c""".stripMargin,
    "g11_triangles" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |und AS (SELECT DISTINCT x.i AS u, y.i AS v FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY n),
        |ori AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN v ELSE u END AS t,
        |    CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN dv ELSE du END AS dt
        |  FROM (SELECT und.u, und.v, d1.d AS du, d2.d AS dv FROM und
        |    JOIN deg d1 ON d1.n = und.u JOIN deg d2 ON d2.n = und.v)),
        |w AS (SELECT e1.t AS a, e2.t AS b FROM ori e1 JOIN ori e2
        |  ON e1.s = e2.s AND (e1.dt < e2.dt
        |    OR (e1.dt = e2.dt AND e1.t < e2.t)))
        |SELECT (SELECT count(*) FROM w
        |    WHERE EXISTS (SELECT 1 FROM ori
        |      WHERE ori.s = w.a AND ori.t = w.b)) AS n_triangles,
        |  (SELECT count(*) FROM w) AS n_wedges""".stripMargin,
    "a29_exposure_gini" ->
      """WITH ui AS (SELECT o_custkey AS u, l_partkey AS item,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |recs AS (SELECT u, item FROM (SELECT u, item,
        |    row_number() OVER (PARTITION BY u
        |      ORDER BY qty DESC, item) AS rn FROM ui) WHERE rn <= 5),
        |ex AS (SELECT item, count(*) AS cnt FROM recs GROUP BY item),
        |rk AS (SELECT item, cnt,
        |    row_number() OVER (ORDER BY cnt, item) AS i FROM ex)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  round(count(*) * 1.0 / (SELECT count(*) FROM part), 6)
        |    AS coverage,
        |  round(2.0 * sum(i * cnt) / (count(*) * sum(cnt))
        |    - (count(*) + 1.0) / count(*), 6) AS gini,
        |  CAST(sum(cnt) AS BIGINT) AS total_exposures
        |FROM rk""".stripMargin,
    "l4_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE year(o_orderdate) <= 1997),
        |chg AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    false AS del FROM orders WHERE year(o_orderdate) >= 1998
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 1000, false FROM base WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    true FROM base WHERE o_orderkey % 10 = 7)
        |SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(c.o_custkey, b.o_custkey) AS o_custkey,
        |  coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |  round(coalesce(c.o_totalprice, b.o_totalprice), 2)
        |    AS o_totalprice,
        |  CASE WHEN c.o_orderkey IS NOT NULL THEN 'changes'
        |    ELSE 'base' END AS src
        |FROM base b FULL JOIN chg c ON b.o_orderkey = c.o_orderkey
        |WHERE NOT coalesce(del, false)""".stripMargin,
    "g10_label_prop" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.i AS n, y.i AS m FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i <> y.i),
        |l0 AS (SELECT DISTINCT n AS id, n AS lbl FROM e),
        |f1 AS (SELECT e.n AS id, l.lbl, count(*) AS c FROM e
        |  JOIN l0 l ON l.id = e.m GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (SELECT id, lbl, row_number()
        |    OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM f1)
        |  WHERE rn = 1),
        |f2 AS (SELECT e.n AS id, l.lbl, count(*) AS c FROM e
        |  JOIN l1 l ON l.id = e.m GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (SELECT id, lbl, row_number()
        |    OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM f2)
        |  WHERE rn = 1),
        |f3 AS (SELECT e.n AS id, l.lbl, count(*) AS c FROM e
        |  JOIN l2 l ON l.id = e.m GROUP BY 1, 2),
        |l3 AS (SELECT id, lbl FROM (SELECT id, lbl, row_number()
        |    OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM f3)
        |  WHERE rn = 1)
        |SELECT id AS item, lbl AS label FROM l3""".stripMargin,
    "m10_itemcf_backtest" ->
      """WITH tl AS (SELECT l_orderkey, l_partkey FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) BETWEEN 1998 AND 1999),
        |ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM tl),
        |deg AS (SELECT i, count(*) AS deg FROM ui GROUP BY i),
        |cap AS (SELECT b, i FROM (SELECT b, i,
        |    count(*) OVER (PARTITION BY b) AS bc FROM ui) WHERE bc <= 50),
        |co AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS co
        |  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item_a, item_b,
        |    round(co / sqrt(CAST(da.deg AS DOUBLE) * db.deg), 6) AS cosine
        |  FROM co JOIN deg da ON da.i = item_a
        |  JOIN deg db ON db.i = item_b),
        |sym AS (SELECT item_a AS item, item_b AS neighbor, cosine
        |  FROM sc UNION ALL SELECT item_b, item_a, cosine FROM sc),
        |hist AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) BETWEEN 1998 AND 1999),
        |scored AS (SELECT h.u, s.neighbor,
        |    round(sum(s.cosine), 6) AS score
        |  FROM hist h JOIN sym s ON s.item = h.i GROUP BY 1, 2),
        |unseen AS (SELECT u, neighbor, score FROM scored sc2
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h2
        |    WHERE h2.u = sc2.u AND h2.i = sc2.neighbor)),
        |recs AS (SELECT u, neighbor AS item FROM (SELECT u, neighbor,
        |    row_number() OVER (PARTITION BY u
        |      ORDER BY score DESC, neighbor) AS rank FROM unseen)
        |  WHERE rank <= 5),
        |test AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) >= 2000),
        |m AS (SELECT r.u, r.item,
        |    CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM recs r JOIN (SELECT DISTINCT u FROM test) eu
        |    ON r.u = eu.u
        |  LEFT JOIN test t ON t.u = r.u AND t.i = r.item),
        |s1 AS (SELECT count(DISTINCT u) AS n_eval_users,
        |    count(*) AS n_recs, sum(hit) AS n_hits,
        |    count(DISTINCT CASE WHEN hit = 1 THEN u END) AS n_hit_users
        |  FROM m),
        |s2 AS (SELECT count(DISTINCT item) AS n_rec_items FROM recs),
        |s3 AS (SELECT count(DISTINCT i) AS n_train_items FROM hist)
        |SELECT n_eval_users,
        |  round(CAST(n_hit_users AS DOUBLE) / n_eval_users, 6)
        |    AS hit_rate,
        |  round(CAST(n_hits AS DOUBLE) / n_recs, 6) AS precision_at_5,
        |  round(CAST(n_rec_items AS DOUBLE) / n_train_items, 6)
        |    AS coverage
        |FROM s1 CROSS JOIN s2 CROSS JOIN s3""".stripMargin,
    "g7_swing" ->
      """WITH ui AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |cap AS (SELECT u, i FROM (SELECT u, i,
        |    count(*) OVER (PARTITION BY i) AS ic FROM ui)
        |  WHERE ic <= 200),
        |up AS (SELECT a.u AS pu, b.u AS pv, a.i
        |  FROM cap a JOIN cap b ON a.i = b.i AND a.u < b.u),
        |cuv AS (SELECT pu, pv, count(*) AS c FROM up GROUP BY 1, 2
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |sup AS (SELECT up.pu, up.pv, up.i, cuv.c
        |  FROM up JOIN cuv USING (pu, pv))
        |SELECT a.i AS item_a, b.i AS item_b,
        |  round(sum(1.0 / (1.0 + a.c)), 6) AS swing,
        |  count(*) AS n_user_pairs
        |FROM sup a JOIN sup b
        |  ON a.pu = b.pu AND a.pv = b.pv AND a.i < b.i
        |GROUP BY 1, 2""".stripMargin,
    "m9_itemcf_recommend" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |deg AS (SELECT i, count(*) AS deg FROM ui GROUP BY i),
        |cap AS (SELECT b, i FROM (SELECT b, i,
        |    count(*) OVER (PARTITION BY b) AS bc FROM ui) WHERE bc <= 50),
        |co AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS co
        |  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item_a, item_b,
        |    round(co / sqrt(CAST(da.deg AS DOUBLE) * db.deg), 6) AS cosine
        |  FROM co JOIN deg da ON da.i = item_a
        |  JOIN deg db ON db.i = item_b),
        |sym AS (SELECT item_a AS item, item_b AS neighbor, cosine FROM sc
        |  UNION ALL SELECT item_b, item_a, cosine FROM sc),
        |hist AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |scored AS (SELECT h.u, s.neighbor,
        |    round(sum(s.cosine), 6) AS score
        |  FROM hist h JOIN sym s ON s.item = h.i GROUP BY 1, 2),
        |unseen AS (SELECT u, neighbor, score FROM scored sc2
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h2
        |    WHERE h2.u = sc2.u AND h2.i = sc2.neighbor))
        |SELECT u AS "user", item, score, rank FROM (SELECT u,
        |    neighbor AS item, score, row_number() OVER (PARTITION BY u
        |      ORDER BY score DESC, neighbor) AS rank FROM unseen)
        |WHERE rank <= 5""".stripMargin,
    "q2_data_profile" -> Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_orderpriority").map(c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_val,
         |  CAST(max($c) AS VARCHAR) AS max_val FROM orders""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", ""),
    "q4_profile_drift" -> Seq("o_custkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice").map(c =>
      s"""SELECT '$c' AS col_name,
         |  b.nf AS null_frac_base, c2.nf AS null_frac_cur,
         |  round(abs(c2.nf - b.nf), 6) AS null_frac_delta,
         |  b.nd AS distinct_base, c2.nd AS distinct_cur,
         |  (b.mn IS DISTINCT FROM c2.mn OR b.mx IS DISTINCT FROM c2.mx)
         |    AS range_changed
         |FROM
         |  (SELECT round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 6) AS nf,
         |    count(DISTINCT $c) AS nd, CAST(min($c) AS VARCHAR) AS mn,
         |    CAST(max($c) AS VARCHAR) AS mx
         |  FROM orders WHERE o_orderkey % 2 = 0) b,
         |  (SELECT round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 6) AS nf,
         |    count(DISTINCT $c) AS nd, CAST(min($c) AS VARCHAR) AS mn,
         |    CAST(max($c) AS VARCHAR) AS mx
         |  FROM orders WHERE o_orderkey % 2 = 1) c2""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", ""),
    "q3_constraints" ->
      """SELECT 'totalprice_positive' AS check_name, CAST(sum(CASE WHEN
        |    o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_violations FROM orders
        |UNION ALL SELECT 'status_known', CAST(sum(CASE WHEN
        |  o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM orders
        |UNION ALL SELECT 'custkey_notnull', CAST(sum(CASE WHEN
        |  o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'custkey_in_customer', count(*) FROM orders o
        |WHERE o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1
        |  FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,
    "m13_hybrid_rrf" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id >= 1),
        |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |  FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tk)
        |  WHERE token IN ('hash', 'join', 'scan', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf
        |  GROUP BY token),
        |sc AS (SELECT doc_id, count(*) AS n_hits,
        |    round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
        |    CROSS JOIN st
        |  GROUP BY doc_id),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |sem AS (SELECT item_id AS doc_id,
        |    CAST(rnk AS BIGINT) AS sem_rank FROM (
        |    SELECT c.vec_id AS item_id, row_number() OVER (ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id = 0 AND c.vec_id >= 1) WHERE rnk <= 50),
        |fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
        |    lex_rank, sem_rank,
        |    round(coalesce(1.0 / (60 + lex_rank), 0)
        |      + coalesce(1.0 / (60 + sem_rank), 0), 6) AS rrf
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id, lex_rank, sem_rank, rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
        |    AS rank
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "g9_adamic_adar" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |cap AS (SELECT b, i, bc FROM (SELECT b, i,
        |    count(*) OVER (PARTITION BY b) AS bc FROM ui) WHERE bc <= 50)
        |SELECT a.i AS item_a, c.i AS item_b,
        |  count(*) AS co,
        |  round(sum(1.0 / ln(CAST(a.bc AS DOUBLE))), 6) AS aa
        |FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "g6_item_cf" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |deg AS (SELECT i, count(*) AS deg FROM ui GROUP BY i),
        |cap AS (SELECT b, i FROM (SELECT b, i,
        |    count(*) OVER (PARTITION BY b) AS bc FROM ui) WHERE bc <= 50),
        |co AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS co
        |  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item_a, item_b, co,
        |    round(co / sqrt(CAST(da.deg AS DOUBLE) * db.deg), 6) AS cosine
        |  FROM co JOIN deg da ON da.i = item_a
        |  JOIN deg db ON db.i = item_b),
        |sym AS (SELECT item_a AS item, item_b AS neighbor, co, cosine
        |  FROM sc UNION ALL
        |  SELECT item_b, item_a, co, cosine FROM sc)
        |SELECT item, neighbor, co, cosine, rank FROM (SELECT item,
        |    neighbor, co, cosine, row_number() OVER (PARTITION BY item
        |      ORDER BY cosine DESC, neighbor) AS rank FROM sym)
        |WHERE rank <= 5""".stripMargin,
    "v3_pq_encode" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cb AS (SELECT cidx, cv FROM (SELECT
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      vec_id) - 1 AS cidx, v AS cv FROM e) WHERE cidx < 4),
        |d AS (SELECT e.vec_id, s.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (v[s.sub * 16 + j] - cv[s.sub * 16 + j])
        |      * (v[s.sub * 16 + j] - cv[s.sub * 16 + j]))), 6) AS dist
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
        |  CROSS JOIN cb),
        |pick AS (SELECT vec_id, sub, cidx, dist, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, cidx) AS rn FROM d)
        |SELECT vec_id,
        |  CAST(max(CASE WHEN sub = 0 THEN cidx END) AS BIGINT) AS c0,
        |  CAST(max(CASE WHEN sub = 1 THEN cidx END) AS BIGINT) AS c1,
        |  CAST(max(CASE WHEN sub = 2 THEN cidx END) AS BIGINT) AS c2,
        |  CAST(max(CASE WHEN sub = 3 THEN cidx END) AS BIGINT) AS c3,
        |  round(sum(dist), 6) AS sq_err
        |FROM pick WHERE rn = 1 GROUP BY vec_id""".stripMargin,
    "v5_random_projection" -> {
      val cols = (0 until 16).map(j =>
        s"  round(max(CASE WHEN j = $j THEN y END), 6) AS r$j")
        .mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |p AS (SELECT vec_id, j, list_sum(list_transform(range(1, 65),
         |    i -> v[i] * (CASE WHEN CAST(('0x' || substring(md5(
         |      CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)),
         |      1, 1)) AS BIGINT) % 2 = 1 THEN -1.0 ELSE 1.0 END)))
         |    / 4.0 AS y
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 16)) AS j))
         |SELECT vec_id,
         |$cols
         |FROM p GROUP BY vec_id""".stripMargin
    },
    "v2_quantize_emb" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_min(CAST(embedding AS DOUBLE[])) AS mn,
        |    (list_max(CAST(embedding AS DOUBLE[]))
        |      - list_min(CAST(embedding AS DOUBLE[]))) / 255.0 AS scale
        |  FROM embeddings),
        |c AS (SELECT vec_id, v, mn, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(v, x -> floor((x - mn) / scale + 0.5))
        |      ELSE list_transform(v, x -> 0.0) END AS codes
        |  FROM q)
        |SELECT vec_id, CAST(codes[1] AS BIGINT) AS q0,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  round(mn, 9) AS mn, round(scale, 9) AS scale,
        |  round(list_max(list_transform(generate_series(1, len(v)),
        |    i -> abs(v[i] - (codes[i] * scale + mn)))), 9) AS max_err
        |FROM c""".stripMargin,
    "mm1_media_features" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.i AS x, y.j AS y,
        |    (d.doc_id * 31 + x.i * 7 + y.j * 13) % 256
        |    + (d.doc_id * 17 + x.i * 11 + y.j * 3) % 256
        |    + (d.doc_id * 29 + x.i * 5 + y.j * 19) % 256 AS g
        |  FROM documents d,
        |    (SELECT unnest(generate_series(0, 15)) AS i) x,
        |    (SELECT unnest(generate_series(0, 15)) AS j) y),
        |q AS (SELECT doc_id, (y // 8) * 2 + (x // 8) AS quad,
        |    CAST(sum(g) AS BIGINT) AS s
        |  FROM px GROUP BY 1, 2)
        |SELECT doc_id AS asset_id, 'image' AS media_type,
        |  CAST(4 AS BIGINT) AS feat_dim,
        |  max(CASE WHEN quad = 0 THEN s END) AS f0,
        |  max(CASE WHEN quad = 1 THEN s END) AS f1,
        |  max(CASE WHEN quad = 2 THEN s END) AS f2,
        |  max(CASE WHEN quad = 3 THEN s END) AS f3
        |FROM q GROUP BY doc_id""".stripMargin,
    "mm7_image_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.i AS x, y.j AS y FROM documents d,
        |    (SELECT unnest(generate_series(0, 7)) AS i) x,
        |    (SELECT unnest(generate_series(0, 7)) AS j) y)
        |SELECT doc_id AS asset_id,
        |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(sum((doc_id * 31 + (x * 2) * 7 + (y * 2) * 13) % 256)
        |    AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id * 17 + (x * 2) * 11 + (y * 2) * 3) % 256)
        |    AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id * 29 + (x * 2) * 5 + (y * 2) * 19) % 256)
        |    AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin,
    "mm5_image_codec" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.i AS x, y.j AS y FROM documents d,
        |    (SELECT unnest(generate_series(0, 15)) AS i) x,
        |    (SELECT unnest(generate_series(0, 15)) AS j) y)
        |SELECT doc_id AS asset_id,
        |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  round(sum((doc_id * 31 + x * 7 + y * 13) % 256) / 256.0, 6)
        |    AS mean_r,
        |  round(sum((doc_id * 17 + x * 11 + y * 3) % 256) / 256.0, 6)
        |    AS mean_g,
        |  round(sum((doc_id * 29 + x * 5 + y * 19) % 256) / 256.0, 6)
        |    AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin,
    "mm6_audio_codec" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |    ((d.doc_id * 7919 + t.t * 104729) % 65536) - 32768 AS v
        |  FROM documents d,
        |    (SELECT unnest(generate_series(0, 799)) AS t) t)
        |SELECT doc_id AS asset_id, CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(800 AS BIGINT) AS n_samples,
        |  round(sqrt(sum(v * v) / 800.0), 6) AS rms,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id""".stripMargin,
    "sim4_lsh_portable" ->
      """WITH hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 7)) AS b)),
        |corpus AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |sigc AS (SELECT item_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM corpus CROSS JOIN hyper GROUP BY item_id, v),
        |sigq AS (SELECT query_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS b0
        |  FROM queries CROSS JOIN hyper GROUP BY query_id, v),
        |probes AS (SELECT query_id, v, unnest(list_prepend(b0,
        |    list_transform(generate_series(0, 7),
        |      b -> xor(b0, 1::BIGINT << b)))) AS bucket
        |  FROM sigq),
        |scored AS (SELECT p.query_id, c.item_id,
        |    list_cosine_similarity(p.v, c.v) AS cosine
        |  FROM probes p JOIN sigc c USING (bucket))
        |SELECT query_id, item_id, round(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, item_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "d28_semdedup_auto" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |nc AS (SELECT least(4096, (count(*) + 127) // 128) AS c FROM v),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM v) WHERE rn <= (SELECT c FROM nc)),
        |assigned AS (SELECT vec_id, v, cell FROM (
        |    SELECT x.vec_id, x.v, ct.cell, row_number() OVER (
        |      PARTITION BY x.vec_id
        |      ORDER BY list_cosine_similarity(x.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM v x CROSS JOIN cent ct) WHERE rn = 1),
        |inplay AS (SELECT vec_id, v, cell FROM (
        |    SELECT *, count(*) OVER (PARTITION BY cell) AS cn
        |    FROM assigned) WHERE cn <= 10000),
        |dropped AS (SELECT DISTINCT b.vec_id FROM inplay a
        |  JOIN inplay b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
        |  (d.vec_id IS NULL) AS keep
        |FROM assigned c LEFT JOIN dropped d USING (vec_id)""".stripMargin,
    "d13_semdedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM v) WHERE rn <= 4),
        |assigned AS (SELECT vec_id, v, cell FROM (
        |    SELECT x.vec_id, x.v, ct.cell, row_number() OVER (
        |      PARTITION BY x.vec_id
        |      ORDER BY list_cosine_similarity(x.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM v x CROSS JOIN cent ct) WHERE rn = 1),
        |inplay AS (SELECT vec_id, v, cell FROM (
        |    SELECT *, count(*) OVER (PARTITION BY cell) AS cn
        |    FROM assigned) WHERE cn <= 10000),
        |dropped AS (SELECT DISTINCT b.vec_id FROM inplay a
        |  JOIN inplay b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
        |  (d.vec_id IS NULL) AS keep
        |FROM assigned c LEFT JOIN dropped d USING (vec_id)""".stripMargin,
    "sim10_filtered_ann" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND label % 2 = 0),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= 8),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT query_id, v, cell FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4),
        |scored AS (SELECT p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM probed p JOIN assigned a USING (cell))
        |SELECT query_id, item_id, round(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, item_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "sim15_ivf_auto" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM corpus),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= (SELECT c FROM nc)),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT query_id, v, cell FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4),
        |scored AS (SELECT p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM probed p JOIN assigned a USING (cell))
        |SELECT query_id, item_id, round(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, item_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "sim32_range_search" ->
      """WITH hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 7)) AS b)),
        |corpus AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |sigc AS (SELECT item_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM corpus CROSS JOIN hyper GROUP BY item_id, v),
        |sigq AS (SELECT query_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS b0
        |  FROM queries CROSS JOIN hyper GROUP BY query_id, v),
        |probes AS (SELECT query_id, v, unnest(list_prepend(b0,
        |    list_transform(generate_series(0, 7),
        |      b -> xor(b0, 1::BIGINT << b)))) AS bucket
        |  FROM sigq),
        |scored AS (SELECT p.query_id, c.item_id,
        |    round(list_cosine_similarity(p.v, c.v), 6) AS cosine
        |  FROM probes p JOIN sigc c USING (bucket))
        |SELECT query_id, item_id, cosine FROM scored
        |WHERE cosine >= 0.15""".stripMargin,
    "sim33_ivfpq_residual" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM c) WHERE rn <= 8),
        |acell AS (SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM c CROSS JOIN cent ct) WHERE rn = 1),
        |cres AS (SELECT c.vec_id, a.cell,
        |    list_transform(range(1, 65), j -> c.v[j] - ct.cv[j]) AS rv
        |  FROM c JOIN acell a ON a.vec_id = c.vec_id
        |  JOIN cent ct ON ct.cell = a.cell),
        |cb AS (SELECT rk - 8 AS cidx, rv AS cv FROM (SELECT
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      vec_id) - 1 AS rk, rv FROM cres) WHERE rk BETWEEN 8 AND 11),
        |qcell AS (SELECT vec_id, cell FROM (
        |    SELECT q.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell)
        |      AS rn
        |    FROM q CROSS JOIN cent ct) WHERE rn <= 4),
        |qres AS (SELECT q.vec_id, qc.cell,
        |    list_transform(range(1, 65), j -> q.v[j] - ct.cv[j]) AS rv
        |  FROM q JOIN qcell qc ON qc.vec_id = q.vec_id
        |  JOIN cent ct ON ct.cell = qc.cell),
        |subs AS (SELECT unnest(range(0, 4)) AS sub),
        |cd AS (SELECT r.vec_id, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (r.rv[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (r.rv[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM cres r CROSS JOIN subs CROSS JOIN cb),
        |pick AS (SELECT vec_id, sub, cidx FROM (SELECT vec_id, sub, cidx,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cidx) AS rn FROM cd) WHERE rn = 1),
        |qd AS (SELECT r.vec_id, r.cell, subs.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (r.rv[subs.sub * 16 + j] - cv[subs.sub * 16 + j])
        |      * (r.rv[subs.sub * 16 + j] - cv[subs.sub * 16 + j]))), 6)
        |      AS dist
        |  FROM qres r CROSS JOIN subs CROSS JOIN cb),
        |sc AS (SELECT qd.vec_id AS query_id, p.vec_id AS item_id,
        |    round(sum(qd.dist), 6) AS adc_dist
        |  FROM pick p
        |  JOIN acell a ON a.vec_id = p.vec_id
        |  JOIN qd ON qd.cell = a.cell AND qd.sub = p.sub
        |    AND qd.cidx = p.cidx
        |  GROUP BY 1, 2)
        |SELECT query_id, item_id, adc_dist, rank FROM (SELECT query_id,
        |    item_id, adc_dist, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, item_id) AS rank FROM sc)
        |WHERE rank <= 5""".stripMargin,
    "d45_dup_mass_report" ->
      """WITH RECURSIVE tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles FROM tk),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
        |clusters AS (SELECT node AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY node),
        |csizes AS (SELECT cluster_id, count(*) AS cluster_size
        |  FROM clusters GROUP BY cluster_id)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
        |FROM csizes GROUP BY cluster_size""".stripMargin,
    "d46_dup_mass_banded" ->
      """WITH RECURSIVE
        |plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tkq AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |ftq AS (SELECT doc_id, text, toks, toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END AS feats FROM tkq),
        |wsq AS (SELECT doc_id, text, toks, len(feats) AS n,
        |    list_sum(list_transform(feats, f ->
        |      (CAST((((ascii(substring(md5(f), 1, 1)) -
        |          CASE WHEN substring(md5(f), 1, 1) >= 'a' THEN 87 ELSE 48 END) * 16 +
        |        (ascii(substring(md5(f), 2, 1)) -
        |          CASE WHEN substring(md5(f), 2, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 3, 1)) -
        |          CASE WHEN substring(md5(f), 3, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 4, 1)) -
        |          CASE WHEN substring(md5(f), 4, 1) >= 'a' THEN 87 ELSE 48 END)
        |        AS DOUBLE) - 32767.5) / 32768.0)) AS s
        |  FROM ftq),
        |q AS (SELECT doc_id, text, toks, CASE WHEN n = 0 THEN 0.5
        |    ELSE 1.0 / (1.0 + exp(-(s / n))) END AS quality FROM wsq),
        |keepq AS (SELECT * FROM q WHERE quality >= 0.5),
        |ex AS (SELECT doc_id, text, toks, quality FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rn FROM keepq) WHERE rn = 1),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS sset FROM ex),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(sset, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(sset) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |prs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |  WHERE len(list_filter(list_transform(generate_series(1, 16),
        |    i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
        |comp AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
        |csizes AS (SELECT root, count(*) AS cluster_size
        |  FROM comp GROUP BY root)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
        |FROM csizes GROUP BY cluster_size""".stripMargin,
    "sim5_ivf_portable" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= 8),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT query_id, v, cell FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4),
        |scored AS (SELECT p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM probed p JOIN assigned a USING (cell))
        |SELECT query_id, item_id, round(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, item_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "p5_isin" ->
      """SELECT l_returnflag, l_linenumber, count(*) AS n FROM lineitem
        |WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2)
        |GROUP BY l_returnflag, l_linenumber""".stripMargin,
    "p9_history_contains" ->
      """SELECT user_id,
        |  list_contains(
        |    (list(event_type ORDER BY ts, event_id))[1:10], 'error') AS early_error
        |FROM events GROUP BY user_id""".stripMargin,
    "j5_history_fetch" ->
      """WITH u AS (SELECT vec_id AS user_id,
        |    [vec_id + 20, vec_id + 40, vec_id + 60] AS hist
        |  FROM embeddings WHERE vec_id < 20),
        |ex AS (SELECT user_id, unnest(hist) AS item_id FROM u),
        |f AS (SELECT ex.user_id,
        |    unnest(CAST(e.embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(1, len(e.embedding))) AS pos
        |  FROM ex JOIN embeddings e ON e.vec_id = ex.item_id)
        |SELECT user_id, pos, round(avg(v), 9) AS mean_v
        |FROM f GROUP BY user_id, pos""".stripMargin,
    "t9_tfidf" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tk)
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |scored AS (SELECT doc_id, token, tf, df,
        |    round(tf * ln(CAST(nd AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, tfidf, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS rn FROM scored)
        |WHERE rn <= 3""".stripMargin,
    "j6_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, us FROM e WHERE event_type = 'view'),
        |p AS (SELECT event_id, user_id, us FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, count(v.us) AS n_views, max(v.us) AS last_view_us
        |FROM p LEFT JOIN v ON v.user_id = p.user_id
        |  AND v.us <= p.us AND v.us >= p.us - 3600000000
        |GROUP BY p.event_id""".stripMargin,
    "j9_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "x9_exact_n" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS pick_key
        |FROM documents
        |ORDER BY pick_key, doc_id LIMIT 200""".stripMargin,
    "x10_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 600""".stripMargin,
    "x8_ppl_mixture" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tk)
        |  GROUP BY doc_id, token),
        |c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS c FROM tf
        |  GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c),
        |lm AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    round(sum(tf * -ln(CAST(c AS DOUBLE) / tt)) / sum(tf), 6)
        |      AS avg_neg_logp
        |  FROM tf JOIN c USING (token) CROSS JOIN tot
        |  GROUP BY doc_id),
        |qs AS (SELECT quantile_cont(avg_neg_logp, 1.0/3) AS q1,
        |    quantile_cont(avg_neg_logp, 2.0/3) AS q2 FROM lm),
        |b AS (SELECT doc_id, avg_neg_logp,
        |    CASE WHEN avg_neg_logp <= q1 THEN 'head'
        |      WHEN avg_neg_logp <= q2 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |  FROM lm CROSS JOIN qs)
        |SELECT doc_id, bucket, avg_neg_logp FROM b
        |WHERE CASE WHEN bucket = 'head' THEN true
        |  WHEN bucket = 'middle'
        |    THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
        |  ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' END""".stripMargin,
    "t22_bm25" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |  FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tk)
        |  WHERE token IN ('hash', 'join', 'scan', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf
        |  GROUP BY token),
        |sc AS (SELECT doc_id, count(*) AS n_hits,
        |    round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
        |    CROSS JOIN st
        |  GROUP BY doc_id)
        |SELECT doc_id, n_hits, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |    AS rank
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "t23_bpe_train" ->
      """WITH tk AS (SELECT list_filter(string_split_regex(lower(text),
        |      '\s+'), x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT token AS word, count(*) AS n
        |  FROM (SELECT unnest(t) AS token FROM tk) GROUP BY token),
        |s1 AS (SELECT word, n, i AS pos, substring(word, i, 1) AS sym
        |  FROM w, LATERAL (SELECT unnest(
        |    generate_series(1, len(word))) AS i)),
        |p1 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s1),
        |c1 AS (SELECT sym, nxt, sum(n) AS c FROM p1
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b1 AS (SELECT sym AS l, nxt AS r, c FROM c1
        |  ORDER BY c DESC, sym, nxt LIMIT 1),
        |q1 AS (SELECT word, n, pos, sym, nxt,
        |    coalesce(sym = (SELECT l FROM b1)
        |      AND nxt = (SELECT r FROM b1), false) AS isc FROM p1),
        |g1 AS (SELECT *, pos - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS grp FROM q1),
        |k1 AS (SELECT *, isc AND (pos - min(CASE WHEN isc THEN pos END)
        |    OVER (PARTITION BY word, grp)) % 2 = 0 AS keep FROM g1),
        |m1 AS (SELECT *, coalesce(lag(keep) OVER (
        |    PARTITION BY word ORDER BY pos), false) AS ab FROM k1),
        |s2 AS (SELECT word, n, row_number() OVER (
        |      PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        |  FROM m1 WHERE NOT ab),
        |p2 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s2),
        |c2 AS (SELECT sym, nxt, sum(n) AS c FROM p2
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b2 AS (SELECT sym AS l, nxt AS r, c FROM c2
        |  ORDER BY c DESC, sym, nxt LIMIT 1),
        |q2 AS (SELECT word, n, pos, sym, nxt,
        |    coalesce(sym = (SELECT l FROM b2)
        |      AND nxt = (SELECT r FROM b2), false) AS isc FROM p2),
        |g2 AS (SELECT *, pos - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS grp FROM q2),
        |k2 AS (SELECT *, isc AND (pos - min(CASE WHEN isc THEN pos END)
        |    OVER (PARTITION BY word, grp)) % 2 = 0 AS keep FROM g2),
        |m2 AS (SELECT *, coalesce(lag(keep) OVER (
        |    PARTITION BY word ORDER BY pos), false) AS ab FROM k2),
        |s3 AS (SELECT word, n, row_number() OVER (
        |      PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        |  FROM m2 WHERE NOT ab),
        |p3 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s3),
        |c3 AS (SELECT sym, nxt, sum(n) AS c FROM p3
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b3 AS (SELECT sym AS l, nxt AS r, c FROM c3
        |  ORDER BY c DESC, sym, nxt LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS merge_round, l AS lhs, r AS rhs,
        |  CAST(c AS BIGINT) AS pair_count FROM b1
        |UNION ALL SELECT CAST(2 AS BIGINT), l, r, CAST(c AS BIGINT) FROM b2
        |UNION ALL SELECT CAST(3 AS BIGINT), l, r, CAST(c AS BIGINT)
        |  FROM b3""".stripMargin,
    "t24_bpe_segment" ->
      """WITH tkd AS (SELECT doc_id, list_filter(string_split_regex(
        |      lower(text), '\s+'), x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT token AS word, count(*) AS n
        |  FROM (SELECT unnest(t) AS token FROM tkd) GROUP BY token),
        |s1 AS (SELECT word, n, i AS pos, substring(word, i, 1) AS sym
        |  FROM w, LATERAL (SELECT unnest(
        |    generate_series(1, len(word))) AS i)),
        |p1 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s1),
        |c1 AS (SELECT sym, nxt, sum(n) AS c FROM p1
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b1 AS (SELECT sym AS l, nxt AS r, c FROM c1
        |  ORDER BY c DESC, sym, nxt LIMIT 1),
        |q1 AS (SELECT word, n, pos, sym, nxt,
        |    coalesce(sym = (SELECT l FROM b1)
        |      AND nxt = (SELECT r FROM b1), false) AS isc FROM p1),
        |g1 AS (SELECT *, pos - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS grp FROM q1),
        |k1 AS (SELECT *, isc AND (pos - min(CASE WHEN isc THEN pos END)
        |    OVER (PARTITION BY word, grp)) % 2 = 0 AS keep FROM g1),
        |m1 AS (SELECT *, coalesce(lag(keep) OVER (
        |    PARTITION BY word ORDER BY pos), false) AS ab FROM k1),
        |s2 AS (SELECT word, n, row_number() OVER (
        |      PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        |  FROM m1 WHERE NOT ab),
        |p2 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s2),
        |c2 AS (SELECT sym, nxt, sum(n) AS c FROM p2
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b2 AS (SELECT sym AS l, nxt AS r, c FROM c2
        |  ORDER BY c DESC, sym, nxt LIMIT 1),
        |q2 AS (SELECT word, n, pos, sym, nxt,
        |    coalesce(sym = (SELECT l FROM b2)
        |      AND nxt = (SELECT r FROM b2), false) AS isc FROM p2),
        |g2 AS (SELECT *, pos - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS grp FROM q2),
        |k2 AS (SELECT *, isc AND (pos - min(CASE WHEN isc THEN pos END)
        |    OVER (PARTITION BY word, grp)) % 2 = 0 AS keep FROM g2),
        |m2 AS (SELECT *, coalesce(lag(keep) OVER (
        |    PARTITION BY word ORDER BY pos), false) AS ab FROM k2),
        |s3 AS (SELECT word, n, row_number() OVER (
        |      PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        |  FROM m2 WHERE NOT ab),
        |p3 AS (SELECT word, n, pos, sym, lead(sym) OVER (
        |    PARTITION BY word ORDER BY pos) AS nxt FROM s3),
        |c3 AS (SELECT sym, nxt, sum(n) AS c FROM p3
        |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |b3 AS (SELECT sym AS l, nxt AS r, c FROM c3
        |  ORDER BY c DESC, sym, nxt LIMIT 1),
        |q3 AS (SELECT word, n, pos, sym, nxt,
        |    coalesce(sym = (SELECT l FROM b3)
        |      AND nxt = (SELECT r FROM b3), false) AS isc FROM p3),
        |g3 AS (SELECT *, pos - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS grp FROM q3),
        |k3 AS (SELECT *, isc AND (pos - min(CASE WHEN isc THEN pos END)
        |    OVER (PARTITION BY word, grp)) % 2 = 0 AS keep FROM g3),
        |m3 AS (SELECT *, coalesce(lag(keep) OVER (
        |    PARTITION BY word ORDER BY pos), false) AS ab FROM k3),
        |s4 AS (SELECT word, n, row_number() OVER (
        |      PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        |  FROM m3 WHERE NOT ab),
        |wl AS (SELECT word, count(*) AS bpe FROM s4 GROUP BY word),
        |dw AS (SELECT doc_id, token AS word
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tkd))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens
        |FROM dw JOIN wl USING (word) GROUP BY doc_id""".stripMargin,
    "x15_curriculum" ->
      """WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
        |  FROM documents),
        |bk AS (SELECT doc_id, n_chars,
        |    (n_chars - mn) * 8 // (mx - mn + 1) AS bucket
        |  FROM documents CROSS JOIN b),
        |r AS (SELECT doc_id, n_chars, bucket,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY n_chars, doc_id) - 1 AS intra
        |  FROM bk)
        |SELECT doc_id, n_chars, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(intra AS BIGINT) AS intra_rank,
        |  CAST(intra * 8 + bucket AS BIGINT) AS pos
        |FROM r""".stripMargin,
    "t10_lm_score" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM tk)
        |  GROUP BY doc_id, token),
        |c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS c FROM tf
        |  GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c),
        |scored AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    round(sum(tf * -ln(CAST(c AS DOUBLE) / tt)) / sum(tf), 6)
        |      AS avg_neg_logp
        |  FROM tf JOIN c USING (token) CROSS JOIN tot
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  coalesce(s.avg_neg_logp, 0.0) AS avg_neg_logp
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN scored s USING (doc_id)""".stripMargin,
    "t19_dsir" ->
      """WITH tk AS (SELECT doc_id, lang = 'en' AS t,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, t,
        |    CAST(('0x' || substring(md5(ws[i] || ' ' || ws[i + 1]), 1, 12))
        |      AS BIGINT) % 64 AS bk
        |  FROM (SELECT doc_id, t, ws,
        |      unnest(generate_series(1, len(ws) - 1)) AS i
        |    FROM tk WHERE len(ws) >= 2)),
        |raw AS (SELECT bk, count(*) AS cr FROM b GROUP BY bk),
        |tgt AS (SELECT bk, count(*) AS ct FROM b WHERE t GROUP BY bk),
        |j AS (SELECT raw.bk, cr, coalesce(ct, 0) AS ct
        |  FROM raw LEFT JOIN tgt USING (bk)),
        |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM j),
        |tab AS (SELECT bk, ln((ct + 0.5) / (tt + 32.0)) -
        |    ln((cr + 0.5) / (tr + 32.0)) AS lw
        |  FROM j CROSS JOIN tot),
        |tf AS (SELECT doc_id, bk, count(*) AS tf FROM b
        |  GROUP BY doc_id, bk),
        |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
        |    round(sum(tf * lw), 6) AS log_w
        |  FROM tf JOIN tab USING (bk) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        |  coalesce(log_w, 0.0) AS log_w
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN sc USING (doc_id)""".stripMargin,
    "t20_chunk" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws, unnest(generate_series(0,
        |      CAST(ceil(greatest(len(ws) - 40, 0) / 20.0) AS BIGINT)))
        |      AS k
        |  FROM tk WHERE len(ws) > 0)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  CAST(len(ws[k * 20 + 1 : k * 20 + 40]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[k * 20 + 1 : k * 20 + 40], ' ')
        |    AS chunk_text
        |FROM c""".stripMargin,
    "w6_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id
        |  FROM events),
        |l AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM e),
        |b AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR ts - prev >= 3600000000
        |      THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id FROM b)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "w6_padding" ->
      """WITH hh AS (SELECT user_id, event_type,
        |    list(event_id ORDER BY ts, event_id) AS hl
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, event_type,
        |  array_to_string(list_concat(hl[1:10],
        |    list_transform(generate_series(1, 10 - least(len(hl), 10)),
        |      i -> CAST(-1 AS BIGINT))), '|') AS padded,
        |  CAST(least(len(hl), 10) AS BIGINT) AS true_len
        |FROM hh""".stripMargin,
    "s12_latest_snapshot" ->
      """SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id, event_type
        |FROM (SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "a15_distinct_exact" ->
      """SELECT source, COUNT(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin,
    "t13_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(text) AS BIGINT) AS n_before,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT)
        |    AS n_after
        |FROM documents""".stripMargin,
    "t16_winnowing" ->
      """WITH tk AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) < 3
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(t) - 1),
        |      i -> md5(array_to_string(list_slice(t, i, i + 2), ' ')))
        |    END AS hs FROM tk),
        |win AS (SELECT doc_id, CASE
        |    WHEN len(hs) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(hs) < 4 THEN [list_aggregate(hs, 'min')]
        |    ELSE list_distinct(list_transform(range(1, len(hs) - 2),
        |      i -> list_aggregate(list_slice(hs, i, i + 3), 'min')))
        |    END AS fps FROM sh),
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM win),
        |cap AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
        |    count(*) OVER (PARTITION BY fp) AS bc FROM fp)
        |  WHERE bc <= 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "t15_heavy_hitters_exact" ->
      """WITH tk AS (SELECT list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t FROM documents),
        |c AS (SELECT token, count(*) AS n_exact
        |  FROM (SELECT unnest(t) AS token FROM tk) GROUP BY token)
        |SELECT token, n_exact FROM c
        |ORDER BY n_exact DESC, token LIMIT 30""".stripMargin,
    "m8_param_stats" ->
      """SELECT label, count(*) AS n_vectors,
        |  CAST(min(len(embedding)) AS BIGINT) AS dim_min,
        |  CAST(max(len(embedding)) AS BIGINT) AS dim_max,
        |  min(vec_id) AS id_min, max(vec_id) AS id_max,
        |  round(avg(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
        |FROM embeddings GROUP BY label""".stripMargin,
    "w8_ewma" ->
      """SELECT user_id, event_id,
        |  list_sum(list_transform(generate_series(1, len(vals)),
        |    j -> vals[len(vals) - j + 1] * power(0.5, j - 1))) AS ewma
        |FROM (SELECT user_id, event_id,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events WHERE value IS NOT NULL)""".stripMargin,
    "x11_exact_n_per_group" ->
      """SELECT source, rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) DESC, doc_id DESC)
        |      AS rank
        |  FROM documents)
        |WHERE rank <= 30""".stripMargin,
    "x13_shard_assign" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin,
    "x14_pref_pairs" ->
      """WITH base AS (SELECT user_id, event_id,
        |    CAST(value AS DOUBLE) AS s
        |  FROM events WHERE value IS NOT NULL),
        |pos AS (SELECT user_id, event_id, s FROM (SELECT user_id,
        |    event_id, s, row_number() OVER (PARTITION BY user_id
        |      ORDER BY s DESC, event_id) AS rn FROM base)
        |  WHERE rn <= 3),
        |neg AS (SELECT user_id, event_id, s FROM (SELECT user_id,
        |    event_id, s, row_number() OVER (PARTITION BY user_id
        |      ORDER BY s ASC, event_id) AS rn FROM base)
        |  WHERE rn <= 3)
        |SELECT p.user_id, p.event_id AS pos_id, n.event_id AS neg_id,
        |  round(p.s - n.s, 6) AS gap
        |FROM pos p JOIN neg n ON p.user_id = n.user_id
        |WHERE p.s - n.s >= 200""".stripMargin,
    "l1_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH c AS (SELECT o_orderkey, o_custkey % 65536 AS x,
         |    o_orderkey % 65536 AS y FROM orders)
         |SELECT o_orderkey, ${terms.mkString(" | ")} AS zval
         |FROM c""".stripMargin
    },
    "l3_partition_pruning" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m')
        |  IN ('1995-01', '1995-02')
        |GROUP BY 1""".stripMargin,
    "x12_weighted_negatives" ->
      """WITH deg AS (SELECT l_partkey AS item,
        |    count(DISTINCT l_orderkey) AS w FROM lineitem GROUP BY 1),
        |r AS (SELECT item, w, coalesce(sum(w) OVER (ORDER BY item
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
        |  FROM deg),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS W FROM deg),
        |u AS (SELECT DISTINCT o_custkey AS usr FROM orders),
        |d AS (SELECT usr, n AS draw FROM u
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS n)),
        |p AS (SELECT usr, draw,
        |    CAST(('0x' || substring(md5(usr || '#' || draw), 1, 12))
        |      AS BIGINT) % W AS pt
        |  FROM d CROSS JOIN tot)
        |SELECT p.usr AS "user", CAST(p.draw AS BIGINT) AS draw, r.item
        |FROM p JOIN r ON p.pt >= r.lo AND p.pt < r.lo + r.w"""
        .stripMargin,
    "l2_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "d12_bloom_incremental" ->
      """SELECT doc_id FROM documents d
        |WHERE doc_id % 5 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents b
        |  WHERE b.doc_id % 5 <> 0 AND md5(b.text) = md5(d.text))""".stripMargin,
    "w7_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "mm3_audio_windows" ->
      """WITH a AS (SELECT doc_id AS asset_id FROM documents
        |  WHERE doc_id % 10 = 5),
        |w AS (SELECT asset_id,
        |    unnest(generate_series(0, 800 - 160, 80)) AS win_start
        |  FROM a)
        |SELECT asset_id, win_start,
        |  CAST(list_sum(list_transform(generate_series(0, 159), i ->
        |    (((asset_id * 7919 + (win_start + i) * 104729) % 65536) - 32768)
        |    * (((asset_id * 7919 + (win_start + i) * 104729) % 65536) - 32768)
        |  )) AS BIGINT) AS energy
        |FROM w""".stripMargin,
    "g5_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(l_partkey + 1000000 AS BIGINT) AS pk FROM lineitem),
        |ed AS (SELECT sk AS src, pk AS dst FROM e0
        |  UNION ALL SELECT pk, sk FROM e0),
        |deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
        |e AS (SELECT ed.src, ed.dst, deg.d FROM ed JOIN deg USING (src)),
        |r0 AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS id, 1.0 AS ev
        |  FROM supplier WHERE s_suppkey < 10),
        |c1 AS (SELECT e.dst AS id, sum(r0.ev / e.d) AS c
        |  FROM e JOIN r0 ON e.src = r0.id GROUP BY e.dst),
        |r1 AS (SELECT coalesce(r0.id, c1.id) AS id,
        |    coalesce(r0.ev, 0) * 0.5 + 0.5 * coalesce(c1.c, 0) AS r
        |  FROM r0 FULL JOIN c1 ON r0.id = c1.id),
        |c2 AS (SELECT e.dst AS id, sum(r1.r / e.d) AS c
        |  FROM e JOIN r1 ON e.src = r1.id GROUP BY e.dst),
        |r2 AS (SELECT coalesce(r0.id, c2.id) AS id,
        |    coalesce(r0.ev, 0) * 0.5 + 0.5 * coalesce(c2.c, 0) AS r
        |  FROM r0 FULL JOIN c2 ON r0.id = c2.id)
        |SELECT id, round(r, 6) AS score FROM r2""".stripMargin,
    "t11_bpe_pairs" ->
      """WITH w AS (SELECT word, count(*) AS wc
        |  FROM (SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS word FROM documents)
        |  GROUP BY word),
        |p AS (SELECT substring(word, i, 2) AS pair, wc
        |  FROM (SELECT word, wc,
        |      unnest(generate_series(1, length(word) - 1)) AS i
        |    FROM w WHERE length(word) >= 2)),
        |agg AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n
        |  FROM p GROUP BY pair)
        |SELECT pair, n, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT pair, n,
        |    row_number() OVER (ORDER BY n DESC, pair) AS rn FROM agg)
        |WHERE rn <= 20""".stripMargin,
    "mm2_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(generate_series(0, CAST(length(text) AS BIGINT), 40))
        |      AS frame_ms
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id AS asset_id, frame_ms,
        |  substring(md5(text || ':' || CAST(frame_ms AS VARCHAR)), 1, 16)
        |    AS frame_digest
        |FROM f""".stripMargin,
    "d11_incremental_dedup" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |exdrop AS (SELECT DISTINCT i.doc_id FROM inc i
        |  JOIN base b ON md5(i.text) = md5(b.text)),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |nb0 AS (SELECT * FROM banded WHERE doc_id % 5 = 0),
        |bb0 AS (SELECT * FROM banded WHERE doc_id % 5 <> 0),
        |nhot AS (SELECT b, key FROM nb0 GROUP BY b, key HAVING count(*) > 200),
        |bhot AS (SELECT b, key FROM bb0 GROUP BY b, key HAVING count(*) > 200),
        |nb AS (SELECT nb0.* FROM nb0 WHERE NOT EXISTS (SELECT 1 FROM nhot
        |  WHERE nhot.b = nb0.b AND nhot.key = nb0.key)),
        |bb AS (SELECT bb0.* FROM bb0 WHERE NOT EXISTS (SELECT 1 FROM bhot
        |  WHERE bhot.b = bb0.b AND bhot.key = bb0.key)),
        |neardrop AS (SELECT DISTINCT nb.doc_id FROM nb JOIN bb
        |    ON nb.b = bb.b AND nb.key = bb.key
        |  WHERE len(list_filter(list_transform(generate_series(1, 16),
        |    i -> nb.sg[i] = bb.sg[i]), x -> x)) / 16.0 >= 0.5)
        |SELECT doc_id FROM inc
        |WHERE doc_id NOT IN (SELECT doc_id FROM exdrop)
        |  AND doc_id NOT IN (SELECT doc_id FROM neardrop)""".stripMargin,
    "d10_dedup_pipeline" ->
      """WITH RECURSIVE
        |plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tkq AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |ftq AS (SELECT doc_id, text, toks, toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END AS feats FROM tkq),
        |wsq AS (SELECT doc_id, text, toks, len(feats) AS n,
        |    list_sum(list_transform(feats, f ->
        |      (CAST((((ascii(substring(md5(f), 1, 1)) -
        |          CASE WHEN substring(md5(f), 1, 1) >= 'a' THEN 87 ELSE 48 END) * 16 +
        |        (ascii(substring(md5(f), 2, 1)) -
        |          CASE WHEN substring(md5(f), 2, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 3, 1)) -
        |          CASE WHEN substring(md5(f), 3, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 4, 1)) -
        |          CASE WHEN substring(md5(f), 4, 1) >= 'a' THEN 87 ELSE 48 END)
        |        AS DOUBLE) - 32767.5) / 32768.0)) AS s
        |  FROM ftq),
        |q AS (SELECT doc_id, text, toks, CASE WHEN n = 0 THEN 0.5
        |    ELSE 1.0 / (1.0 + exp(-(s / n))) END AS quality FROM wsq),
        |keepq AS (SELECT * FROM q WHERE quality >= 0.5),
        |ex AS (SELECT doc_id, text, toks, quality FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rn FROM keepq) WHERE rn = 1),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS sset FROM ex),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(sset, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(sset) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |prs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |  WHERE len(list_filter(list_transform(generate_series(1, 16),
        |    i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
        |comp AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
        |dropd AS (SELECT node FROM comp WHERE node <> root)
        |SELECT doc_id, round(quality, 6) AS quality FROM ex
        |WHERE doc_id NOT IN (SELECT node FROM dropd)""".stripMargin,
    "t21_curation_pipeline" ->
      """WITH RECURSIVE
        |plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tkq AS (SELECT doc_id, source, lang, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |ftq AS (SELECT doc_id, source, lang, text, toks,
        |    toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END AS feats FROM tkq),
        |wsq AS (SELECT doc_id, source, lang, text, toks,
        |    len(feats) AS n,
        |    list_sum(list_transform(feats, f ->
        |      (CAST((((ascii(substring(md5(f), 1, 1)) -
        |          CASE WHEN substring(md5(f), 1, 1) >= 'a' THEN 87 ELSE 48 END) * 16 +
        |        (ascii(substring(md5(f), 2, 1)) -
        |          CASE WHEN substring(md5(f), 2, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 3, 1)) -
        |          CASE WHEN substring(md5(f), 3, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 4, 1)) -
        |          CASE WHEN substring(md5(f), 4, 1) >= 'a' THEN 87 ELSE 48 END)
        |        AS DOUBLE) - 32767.5) / 32768.0)) AS s
        |  FROM ftq),
        |q AS (SELECT doc_id, source, lang, text, toks,
        |    CASE WHEN n = 0 THEN 0.5
        |    ELSE 1.0 / (1.0 + exp(-(s / n))) END AS quality FROM wsq),
        |keepq AS (SELECT * FROM q WHERE quality >= 0.5),
        |ex AS (SELECT doc_id, source, lang, text, toks FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rn FROM keepq) WHERE rn = 1),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS sset FROM ex),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(sset, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(sset) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |prs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        |  WHERE len(list_filter(list_transform(generate_series(1, 16),
        |    i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
        |comp AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
        |dropd AS (SELECT node FROM comp WHERE node <> root),
        |sv AS (SELECT doc_id, source, lang, toks FROM ex
        |  WHERE doc_id NOT IN (SELECT node FROM dropd)),
        |bg AS (SELECT doc_id, lang = 'en' AS t,
        |    CAST(('0x' || substring(md5(toks[i] || ' ' || toks[i + 1]),
        |      1, 12)) AS BIGINT) % 64 AS bk
        |  FROM (SELECT doc_id, lang, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i
        |    FROM tkq WHERE len(toks) >= 2)),
        |raw AS (SELECT bk, count(*) AS cr FROM bg GROUP BY bk),
        |tgt AS (SELECT bk, count(*) AS ct FROM bg WHERE t GROUP BY bk),
        |jb AS (SELECT raw.bk, cr, coalesce(ct, 0) AS ct
        |  FROM raw LEFT JOIN tgt USING (bk)),
        |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM jb),
        |tab AS (SELECT bk, ln((ct + 0.5) / (tt + 32.0)) -
        |    ln((cr + 0.5) / (tr + 32.0)) AS lw
        |  FROM jb CROSS JOIN tot),
        |tfb AS (SELECT doc_id, bk, count(*) AS tf FROM bg
        |  GROUP BY doc_id, bk),
        |sc AS (SELECT doc_id, round(sum(tf * lw), 6) AS log_w
        |  FROM tfb JOIN tab USING (bk) GROUP BY doc_id),
        |wt AS (SELECT sv.doc_id, sv.source,
        |    CAST(len(sv.toks) AS BIGINT) AS n_tokens,
        |    coalesce(sc.log_w, 0.0) AS log_w
        |  FROM sv LEFT JOIN sc USING (doc_id)),
        |fill AS (SELECT source, doc_id, n_tokens, log_w,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY log_w DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM wt)
        |SELECT source, doc_id, n_tokens, log_w, cum_tokens FROM fill
        |WHERE cum_tokens <= 300""".stripMargin,
    "t12_quality_classifier" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |ft AS (SELECT doc_id, toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END AS feats FROM tk),
        |ws AS (SELECT doc_id, len(feats) AS n,
        |    list_sum(list_transform(feats, f ->
        |      (CAST((((ascii(substring(md5(f), 1, 1)) -
        |          CASE WHEN substring(md5(f), 1, 1) >= 'a' THEN 87 ELSE 48 END) * 16 +
        |        (ascii(substring(md5(f), 2, 1)) -
        |          CASE WHEN substring(md5(f), 2, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 3, 1)) -
        |          CASE WHEN substring(md5(f), 3, 1) >= 'a' THEN 87 ELSE 48 END)) * 16 +
        |        (ascii(substring(md5(f), 4, 1)) -
        |          CASE WHEN substring(md5(f), 4, 1) >= 'a' THEN 87 ELSE 48 END)
        |        AS DOUBLE) - 32767.5) / 32768.0)) AS s
        |  FROM ft)
        |SELECT doc_id, CASE WHEN n = 0 THEN 0.5
        |  ELSE round(1.0 / (1.0 + exp(-(s / n))), 6) END AS quality
        |FROM ws""".stripMargin,
    "m5_din_forward" -> {
      val pairs =
        s"""SELECT u.vec_id AS user_id, i.vec_id AS item_id,
           |  CAST(i.embedding AS DOUBLE[])[1:8] AS cand,
           |  ${histSql("u")} AS hist
           |FROM embeddings u CROSS JOIN embeddings i
           |WHERE u.vec_id < 10 AND i.vec_id >= 10 AND i.vec_id < 15""".stripMargin
      "WITH " + NeuralOracle.dinCtes(NeuralForward.fixtureDin(), pairs, "d") +
        "\nSELECT user_id, item_id, round(score, 6) AS score FROM dscore"
    },
    "m6_ranknet_forward" -> {
      val pairs =
        """SELECT u.vec_id AS user_id, i.vec_id AS item_id,
          |  CAST(u.embedding AS DOUBLE[])[1:8] AS uf,
          |  CAST(i.embedding AS DOUBLE[])[1:8] AS itf
          |FROM embeddings u CROSS JOIN embeddings i
          |WHERE u.vec_id < 10 AND i.vec_id >= 10 AND i.vec_id < 15""".stripMargin
      "WITH " + NeuralOracle.rankNetCtes(NeuralForward.fixtureRankNet(), pairs, "r") +
        "\nSELECT user_id, item_id, round(score, 6) AS score FROM rscore"
    },
    "m7_neural_cascade" -> {
      val head =
        s"""WITH users AS (SELECT vec_id AS user_id,
           |    CAST(embedding AS DOUBLE[]) AS uemb
           |  FROM embeddings WHERE vec_id < 20),
           |items AS (SELECT vec_id AS item_id,
           |    CAST(embedding AS DOUBLE[]) AS iemb
           |  FROM embeddings WHERE vec_id >= 50),
           |itemf AS (SELECT vec_id AS item_id,
           |    CAST(embedding AS DOUBLE[])[1:8] AS feat
           |  FROM embeddings WHERE vec_id >= 50),
           |userf AS (SELECT vec_id AS user_id,
           |    CAST(embedding AS DOUBLE[])[1:8] AS uf
           |  FROM embeddings WHERE vec_id < 20),
           |histf AS (SELECT u.vec_id AS user_id, ${histSql("u")} AS hist
           |  FROM embeddings u WHERE u.vec_id < 20),
           |recalled AS (SELECT user_id, item_id,
           |    list_dot_product(uemb, iemb) AS rscore
           |  FROM users CROSS JOIN items WHERE item_id NOT IN (100, 101)),
           |r1 AS (SELECT user_id, item_id FROM (
           |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
           |      ORDER BY rscore DESC, item_id) AS rn FROM recalled)
           |  WHERE rn <= 100),""".stripMargin
      val dinPairs =
        """SELECT r1.user_id, r1.item_id, f.feat AS cand, h.hist AS hist
          |  FROM r1 JOIN itemf f USING (item_id) JOIN histf h USING (user_id)""".stripMargin
      val rnPairs =
        """SELECT r2.user_id, r2.item_id, uf2.uf AS uf, f.feat AS itf
          |  FROM r2 JOIN userf uf2 USING (user_id) JOIN itemf f USING (item_id)""".stripMargin
      val mid =
        """r2 AS (SELECT user_id, item_id FROM (
          |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
          |      ORDER BY score DESC, item_id) AS rn FROM dscore)
          |  WHERE rn <= 50),""".stripMargin
      val tail =
        """SELECT user_id, item_id, final_rank FROM (
          |  SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
          |    ORDER BY score DESC, item_id) AS final_rank FROM rscore)
          |WHERE final_rank <= 10""".stripMargin
      head + "\n" +
        NeuralOracle.dinCtes(NeuralForward.fixtureDin(), dinPairs, "d") + ",\n" +
        mid + "\n" +
        NeuralOracle.rankNetCtes(NeuralForward.fixtureRankNet(), rnPairs, "r") + "\n" +
        tail
    },
    "l5_snapshot_diff" ->
      """WITH a AS (SELECT o_custkey AS custkey, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS total
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1),
        |b AS (SELECT o_custkey AS custkey, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS total
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1),
        |j AS (SELECT coalesce(a.custkey, b.custkey) AS custkey,
        |    a.custkey AS ak, b.custkey AS bk, a.n_orders AS an,
        |    a.total AS at2, b.n_orders AS bn, b.total AS bt2
        |  FROM a FULL JOIN b ON a.custkey = b.custkey)
        |SELECT custkey,
        |  CASE WHEN ak IS NULL THEN 'added'
        |    WHEN bk IS NULL THEN 'removed' ELSE 'changed' END AS change,
        |  CASE WHEN ak IS NULL OR bk IS NULL THEN ''
        |    ELSE array_to_string(list_sort(list_filter([
        |      CASE WHEN an IS DISTINCT FROM bn THEN 'n_orders' END,
        |      CASE WHEN at2 IS DISTINCT FROM bt2 THEN 'total' END],
        |      x -> x IS NOT NULL)), ',') END AS changed_cols
        |FROM j WHERE ak IS NULL OR bk IS NULL
        |  OR an IS DISTINCT FROM bn OR at2 IS DISTINCT FROM bt2""".stripMargin,
    "g13_assoc_rules" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |deg AS (SELECT i, count(*) AS deg FROM ui GROUP BY i),
        |nb AS (SELECT count(DISTINCT b) AS n FROM ui),
        |cap AS (SELECT b, i FROM (SELECT b, i,
        |    count(*) OVER (PARTITION BY b) AS bc FROM ui) WHERE bc <= 50),
        |co AS (SELECT a.i AS ia, c.i AS ib, count(*) AS co
        |  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT ia AS antecedent, ib AS consequent, co FROM co
        |  UNION ALL SELECT ib, ia, co FROM co)
        |SELECT antecedent, consequent, co,
        |  round(co * 1.0 / n, 6) AS support,
        |  round(co * 1.0 / da.deg, 6) AS confidence,
        |  round(co * 1.0 * n / (da.deg * dc.deg), 6) AS lift
        |FROM d JOIN deg da ON da.i = antecedent
        |  JOIN deg dc ON dc.i = consequent CROSS JOIN nb""".stripMargin,
    "x21_target_encode" ->
      """WITH p AS (SELECT avg(o_totalprice) AS pr FROM orders)
        |SELECT o_orderpriority AS category, count(*) AS n,
        |  round((sum(o_totalprice) + 20.0 * pr) / (count(*) + 20.0), 6)
        |    AS enc,
        |  round(pr, 6) AS prior
        |FROM orders CROSS JOIN p GROUP BY o_orderpriority, pr""".stripMargin,
    "x22_quantile_bins" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
        |  FROM orders),
        |a AS (SELECT o_totalprice,
        |    1 + len(list_filter(bounds, x -> x <= o_totalprice)) AS bin
        |  FROM orders CROSS JOIN b)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |  round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM a GROUP BY 1""".stripMargin,
    "x24_leave_one_out" ->
      """SELECT o_custkey AS cust, o_orderkey AS test_order,
        |  round(o_totalprice, 2) AS test_price,
        |  CAST(cnt - 1 AS BIGINT) AS n_train
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
        |    count(*) OVER (PARTITION BY o_custkey) AS cnt
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "t28_pmi" ->
      """WITH tk AS (SELECT doc_id AS d,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t
        |  FROM documents),
        |dt AS (SELECT DISTINCT d, t FROM tk),
        |df AS (SELECT t, count(*) AS dfc FROM dt GROUP BY t),
        |v AS (SELECT t, dfc FROM (SELECT t, dfc,
        |    row_number() OVER (ORDER BY dfc DESC, t) AS rk FROM df)
        |  WHERE rk <= 150),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |co AS (SELECT a.t AS token_a, b.t AS token_b, count(*) AS n_ab
        |  FROM dt a JOIN dt b ON a.d = b.d AND a.t < b.t
        |  JOIN v va ON va.t = a.t JOIN v vb ON vb.t = b.t
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT token_a, token_b, n_ab,
        |  round(ln(n_ab * 1.0 * n / (va.dfc * vb.dfc)), 6) AS pmi
        |FROM co JOIN v va ON va.t = token_a
        |  JOIN v vb ON vb.t = token_b CROSS JOIN nd""".stripMargin,
    "t29_bigram_lm" ->
      """WITH tk AS (SELECT doc_id AS d,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |toks AS (SELECT d, unnest(t) AS w FROM tk),
        |uni AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
        |tot AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM toks),
        |pr AS (SELECT d, unnest(t[1:len(t)-1]) AS prev,
        |    unnest(t[2:len(t)]) AS w
        |  FROM tk WHERE len(t) >= 2),
        |bi AS (SELECT prev, w, count(*) AS cb FROM pr GROUP BY 1, 2),
        |sc AS (SELECT p.d,
        |    -ln(0.75 * bi.cb / up.cw + 0.25 * (uw.cw + 1) / (n + v))
        |      AS nll
        |  FROM pr p JOIN bi ON bi.prev = p.prev AND bi.w = p.w
        |  JOIN uni up ON up.w = p.prev
        |  JOIN uni uw ON uw.w = p.w CROSS JOIN tot)
        |SELECT d AS doc_id, count(*) AS n_scored,
        |  round(avg(nll), 6) AS avg_nll
        |FROM sc GROUP BY d""".stripMargin,
    "g14_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        |    CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |a1r AS (SELECT p, CAST(count(*) AS DOUBLE) AS x FROM e GROUP BY p),
        |a1 AS (SELECT p, x / (SELECT max(x) FROM a1r) AS x FROM a1r),
        |h1r AS (SELECT e.s, sum(a1.x) AS x FROM e JOIN a1 USING (p)
        |  GROUP BY e.s),
        |h1 AS (SELECT s, x / (SELECT max(x) FROM h1r) AS x FROM h1r),
        |a2r AS (SELECT e.p, sum(h1.x) AS x FROM e JOIN h1 USING (s)
        |  GROUP BY e.p),
        |a2 AS (SELECT p, x / (SELECT max(x) FROM a2r) AS x FROM a2r)
        |SELECT p AS part, round(x, 6) AS authority FROM a2""".stripMargin,
    "x25_kfold" ->
      """WITH ev AS (SELECT user_id, value,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 6))
        |      AS BIGINT) % 5 AS fold
        |  FROM events)
        |SELECT fold, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM ev GROUP BY fold""".stripMargin,
    "v6_sq8" ->
      """WITH d AS (SELECT vec_id,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM d GROUP BY dim),
        |c AS (SELECT vec_id, x, lo, hi,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE CAST(floor((x - lo) / ((hi - lo) / 255.0) + 0.5)
        |        AS BIGINT) END AS code
        |  FROM d JOIN st USING (dim)),
        |r AS (SELECT vec_id, x,
        |    lo + CAST(code AS DOUBLE) * (hi - lo) / 255.0 AS recon FROM c)
        |SELECT vec_id, round(sum((x - recon) * (x - recon)), 7) AS sq_err
        |FROM r GROUP BY vec_id""".stripMargin,
    "t30_attribution" ->
      """WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts, user_id,
        |    event_type, value, props FROM events),
        |p AS (SELECT user_id, ts AS pts, event_id AS pid, value FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS cts, event_id AS cid,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |      AS campaign
        |  FROM ev WHERE event_type = 'click'),
        |j AS (SELECT p.pid, p.value, c.cts, c.cid, c.campaign
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.cts <= p.pts AND c.cts >= p.pts - 86400000000000),
        |r AS (SELECT pid, value, campaign,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY cts DESC NULLS LAST, cid DESC NULLS LAST) AS rn
        |  FROM j)
        |SELECT coalesce(campaign, -1) AS campaign,
        |  count(*) AS conversions, round(sum(value), 2) AS revenue
        |FROM r WHERE rn = 1 GROUP BY 1""".stripMargin,
    "l6_compaction_plan" ->
      """WITH f AS (SELECT strftime(o_orderdate, '%Y-%m') AS part,
        |    o_orderkey % 200 AS file_id, count(*) AS nrows
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT part, file_id, nrows,
        |    CAST(coalesce(sum(nrows) OVER (PARTITION BY part
        |      ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 60
        |      AS BIGINT) AS bin
        |  FROM f)
        |SELECT part, bin, count(*) AS n_files,
        |  CAST(sum(nrows) AS BIGINT) AS total_rows
        |FROM b GROUP BY part, bin""".stripMargin,
    "q6_profile" ->
      """SELECT 'text' AS column_name, count(*) AS n_rows,
        |  count(*) - count(text) AS n_null,
        |  count(DISTINCT text) AS n_distinct,
        |  round(avg(length(CAST(text AS VARCHAR))), 6) AS avg_len
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang),
        |  round(avg(length(CAST(lang AS VARCHAR))), 6) FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source),
        |  round(avg(length(CAST(source AS VARCHAR))), 6) FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT n_chars),
        |  round(avg(length(CAST(n_chars AS VARCHAR))), 6)
        |FROM documents""".stripMargin,
    "m14_markov_next" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    count(*) AS n FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, to_type,
        |    n * 1.0 / sum(n) OVER (PARTITION BY from_type) AS p FROM c),
        |l AS (SELECT user_id, event_type AS cur_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT user_id, cur_type, to_type AS next_type,
        |  round(p, 6) AS p, rank
        |FROM (SELECT l.user_id, l.cur_type, t.to_type, t.p,
        |    row_number() OVER (PARTITION BY l.user_id
        |      ORDER BY t.p DESC, t.to_type) AS rank
        |  FROM l JOIN t ON l.cur_type = t.from_type)
        |WHERE rank <= 3""".stripMargin,
    "x26_kanon" ->
      """SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  count(*) AS n, count(*) < 5 AS suppressed
        |FROM customer GROUP BY 1, 2, 3""".stripMargin,
    "t31_lexical" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  count(*) FILTER (WHERE c = 1) AS n_hapax,
        |  round(count(*) * 1.0 / CAST(sum(c) AS BIGINT), 6) AS ttr,
        |  round((count(*) FILTER (WHERE c = 1)) * 1.0 / count(*), 6)
        |    AS hapax_ratio
        |FROM f GROUP BY doc_id""".stripMargin,
    "a33_ild" ->
      """WITH top AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(
        |          CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5),
        |wv AS (SELECT top.query_id, top.item_id, e.embedding
        |  FROM top JOIN embeddings e ON top.item_id = e.vec_id),
        |p AS (SELECT a.query_id,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM wv a JOIN wv b ON a.query_id = b.query_id
        |    AND a.item_id < b.item_id)
        |SELECT query_id, round(1.0 - avg(sim), 6) AS ild,
        |  count(*) AS n_pairs
        |FROM p GROUP BY query_id""".stripMargin,
    "g15_clustering_coeff" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |und AS (SELECT DISTINCT x.i AS u, y.i AS v FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY n),
        |ori AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN v ELSE u END AS t,
        |    CASE WHEN du < dv OR (du = dv AND u < v)
        |      THEN dv ELSE du END AS dt
        |  FROM (SELECT und.u, und.v, d1.d AS du, d2.d AS dv FROM und
        |    JOIN deg d1 ON d1.n = und.u JOIN deg d2 ON d2.n = und.v)),
        |w AS (SELECT e1.s AS s, e1.t AS a, e2.t AS b FROM ori e1
        |  JOIN ori e2 ON e1.s = e2.s AND (e1.dt < e2.dt
        |    OR (e1.dt = e2.dt AND e1.t < e2.t))),
        |tri AS (SELECT w.s, w.a, w.b FROM w
        |  JOIN ori ON ori.s = w.a AND ori.t = w.b),
        |tn AS (SELECT n, count(*) AS n_tri FROM (
        |    SELECT s AS n FROM tri UNION ALL SELECT a FROM tri
        |    UNION ALL SELECT b FROM tri) GROUP BY n)
        |SELECT deg.n AS part, deg.d,
        |  coalesce(tn.n_tri, 0) AS n_tri,
        |  round(coalesce(tn.n_tri, 0) * 2.0 / (deg.d * (deg.d - 1)), 6)
        |    AS cc
        |FROM deg LEFT JOIN tn ON deg.n = tn.n
        |WHERE deg.d >= 2""".stripMargin,
    "sim11_ann_recall" ->
      """WITH hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 7)) AS b)),
        |corpus AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |sigc AS (SELECT item_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM corpus CROSS JOIN hyper GROUP BY item_id, v),
        |sigq AS (SELECT query_id, v,
        |    CAST(sum(CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS b0
        |  FROM queries CROSS JOIN hyper GROUP BY query_id, v),
        |probes AS (SELECT query_id, v, unnest(list_prepend(b0,
        |    list_transform(generate_series(0, 7),
        |      b -> xor(b0, 1::BIGINT << b)))) AS bucket
        |  FROM sigq),
        |approx AS (SELECT query_id, item_id FROM (
        |  SELECT p.query_id, c.item_id, row_number() OVER (
        |    PARTITION BY p.query_id
        |    ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.item_id)
        |    AS rank
        |  FROM probes p JOIN sigc c USING (bucket))
        |  WHERE rank <= 5),
        |exact AS (SELECT query_id, item_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT e.query_id, count(*) AS n_exact,
        |  count(a.item_id) AS n_hit,
        |  round(count(a.item_id) * 1.0 / count(*), 6) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON e.query_id = a.query_id AND e.item_id = a.item_id
        |GROUP BY e.query_id""".stripMargin,
    "w19_gap_stats" ->
      """WITH g AS (SELECT user_id,
        |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS gap
        |  FROM events),
        |r AS (SELECT user_id, gap,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT user_id, count(*) AS n_gaps,
        |  max(CASE WHEN rn <= ceil(0.5 * cnt) THEN gap END) AS p50_ns,
        |  max(CASE WHEN rn <= ceil(0.9 * cnt) THEN gap END) AS p90_ns,
        |  max(gap) AS max_ns
        |FROM r GROUP BY user_id""".stripMargin,
    "l7_zone_map" ->
      """SELECT l_orderkey // 6000 AS file_id, count(*) AS nrows,
        |  epoch_us(min(l_shipdate)) AS min_ship_us,
        |  epoch_us(max(l_shipdate)) AS max_ship_us,
        |  (max(l_shipdate) < TIMESTAMP '1995-01-01'
        |    OR min(l_shipdate) >= TIMESTAMP '1996-01-01') AS skip
        |FROM lineitem GROUP BY 1""".stripMargin,
    "d16_split_leakage" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(30 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (SELECT doc_id, split, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, split, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, split, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |capped AS (SELECT doc_id, split, sg, b, key FROM (
        |    SELECT banded.*, count(*) OVER (PARTITION BY split, b, key)
        |      AS bc FROM banded) WHERE bc <= 200),
        |pairs AS (SELECT DISTINCT n.doc_id AS doc_test,
        |    o.doc_id AS doc_train,
        |    len(list_filter(list_transform(generate_series(1, 16),
        |      i -> n.sg[i] = o.sg[i]), x -> x)) / 16.0 AS ej
        |  FROM capped n JOIN capped o ON n.b = o.b AND n.key = o.key
        |  WHERE n.split = 'test' AND o.split = 'train')
        |SELECT doc_test, doc_train, round(ej, 6) AS est_jaccard
        |FROM pairs WHERE ej >= 0.3""".stripMargin,
    "t33_readability" ->
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |      x -> len(trim(x)) > 0) AS sents
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(sents)) AS BIGINT) AS n_sents,
        |    CAST(list_sum(list_transform(toks, t ->
        |      greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))))
        |      AS BIGINT) AS n_syll
        |  FROM base WHERE len(toks) > 0),
        |r AS (SELECT doc_id, n_words, n_sents, n_syll,
        |    206835 * n_sents * n_words - 1015 * n_words * n_words
        |      - 84600 * n_syll * n_sents AS num,
        |    n_sents * n_words AS den FROM c)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CAST(CASE WHEN num >= 0 THEN (2 * num + den) // (2 * den)
        |    ELSE -((2 * (-num) + den) // (2 * den)) END AS BIGINT)
        |    AS flesch_milli
        |FROM r""".stripMargin,
    "a34_hit_rate" ->
      """WITH exact AS (SELECT query_id, item_id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10) WHERE rank <= 5),
        |j AS (SELECT e.query_id, e.rank, ql.label AS ql, il.label AS il
        |  FROM exact e JOIN embeddings ql ON e.query_id = ql.vec_id
        |  JOIN embeddings il ON e.item_id = il.vec_id)
        |SELECT query_id, k, n_rel, n_rel > 0 AS hit FROM (
        |  SELECT query_id, k,
        |    count(CASE WHEN rank <= k AND ql = il THEN 1 END) AS n_rel
        |  FROM j CROSS JOIN
        |    (SELECT unnest(CAST([1, 3, 5] AS BIGINT[])) AS k) ks
        |  GROUP BY query_id, k)""".stripMargin,
    "g16_assortativity" ->
      """WITH ui AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |und AS (SELECT DISTINCT x.i AS u, y.i AS v FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY n),
        |sym AS (SELECT u AS x, v AS y FROM und
        |  UNION ALL SELECT v, u FROM und),
        |dd AS (SELECT CAST(d1.d AS DOUBLE) AS a, CAST(d2.d AS DOUBLE) AS b
        |  FROM sym JOIN deg d1 ON d1.n = sym.x
        |  JOIN deg d2 ON d2.n = sym.y),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(a) AS sa,
        |    sum(b) AS sb, sum(a * a) AS saa, sum(b * b) AS sbb,
        |    sum(a * b) AS sab FROM dd)
        |SELECT CAST(n AS BIGINT) AS n_edges,
        |  round((n * sab - sa * sb) / (sqrt(n * saa - sa * sa)
        |    * sqrt(n * sbb - sb * sb)), 6) AS r
        |FROM s""".stripMargin,
    "d17_canonicalize" ->
      """WITH RECURSIVE tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles FROM tk),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
        |clusters AS (SELECT node AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY node),
        |rk AS (SELECT c.doc_id, c.cluster_id, row_number() OVER (
        |      PARTITION BY c.cluster_id
        |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
        |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id),
        |canon AS (SELECT cluster_id, doc_id AS canonical_id
        |  FROM rk WHERE rn = 1)
        |SELECT rk.doc_id, rk.cluster_id, canon.canonical_id,
        |  rk.doc_id = canon.canonical_id AS is_canonical
        |FROM rk JOIN canon ON rk.cluster_id = canon.cluster_id""".stripMargin,
    "x27_interleave" ->
      """WITH q AS (SELECT l_partkey AS part,
        |    round(sum(l_quantity), 6) AS score FROM lineitem GROUP BY 1),
        |qr AS (SELECT part, row_number() OVER (
        |    ORDER BY score DESC, part) AS rank FROM q),
        |r AS (SELECT l_partkey AS part,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS score
        |  FROM lineitem GROUP BY 1),
        |rr AS (SELECT part, row_number() OVER (
        |    ORDER BY score DESC, part) AS rank FROM r),
        |pool AS (SELECT part, rank * 2 - 1 AS pos FROM qr WHERE rank <= 10
        |  UNION ALL SELECT part, rank * 2 FROM rr WHERE rank <= 10),
        |f AS (SELECT part, min(pos) AS first_pos FROM pool GROUP BY part)
        |SELECT page_rank, part, src, first_pos FROM (
        |  SELECT row_number() OVER (ORDER BY first_pos) AS page_rank,
        |    part, CASE WHEN first_pos % 2 = 1 THEN 'qty' ELSE 'rev' END
        |      AS src, first_pos
        |  FROM f) WHERE page_rank <= 10""".stripMargin,
    "d18_estimator_error" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(30 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    len(list_filter(list_transform(generate_series(1, 16),
        |      i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS ej
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |px AS (SELECT p.doc_a, p.doc_b, p.ej,
        |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS i,
        |    len(a.s) AS na, len(b.s) AS nb
        |  FROM pairs p JOIN sh a ON p.doc_a = a.doc_id
        |  JOIN sh b ON p.doc_b = b.doc_id
        |  WHERE p.ej >= 0.3)
        |SELECT doc_a, doc_b, round(ej, 6) AS est_jaccard,
        |  round(i * 1.0 / (na + nb - i), 6) AS exact_jaccard,
        |  round(ej - i * 1.0 / (na + nb - i), 6) AS err
        |FROM px""".stripMargin,
    "x28_hard_negatives" ->
      """WITH top AS (SELECT query_id, item_id, cosine, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) AS cosine,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT t.query_id, t.item_id, t.rank,
        |  round(t.cosine, 6) AS cosine,
        |  CAST(il.label AS BIGINT) AS neg_label
        |FROM top t JOIN embeddings ql ON t.query_id = ql.vec_id
        |JOIN embeddings il ON t.item_id = il.vec_id
        |WHERE ql.label <> il.label""".stripMargin,
    "w22_rfm" ->
      """WITH per AS (SELECT user_id, max(epoch_ns(ts)) AS last_ns,
        |    count(*) AS frequency, round(sum(value), 2) AS monetary
        |  FROM events GROUP BY user_id),
        |nw AS (SELECT max(epoch_ns(ts)) AS now_ns FROM events),
        |rfm AS (SELECT user_id,
        |    CAST(floor((now_ns - last_ns) / 86400.0e9) AS BIGINT)
        |      AS recency_days,
        |    frequency, monetary FROM per CROSS JOIN nw),
        |rb AS (SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8])
        |    AS b FROM rfm),
        |fb AS (SELECT quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8])
        |    AS b FROM rfm),
        |mb AS (SELECT quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8])
        |    AS b FROM rfm)
        |SELECT user_id, recency_days, frequency, monetary,
        |  CAST(6 - (1 + len(list_filter(rb.b, x -> x <= recency_days)))
        |    AS BIGINT) AS r_score,
        |  CAST(1 + len(list_filter(fb.b, x -> x <= frequency))
        |    AS BIGINT) AS f_score,
        |  CAST(1 + len(list_filter(mb.b, x -> x <= monetary))
        |    AS BIGINT) AS m_score
        |FROM rfm CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb""".stripMargin,
    "a35_confusion" ->
      """WITH nn AS (SELECT query_id, item_id, sim FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 25 AND c.vec_id >= 25)
        |  WHERE rank <= 10),
        |v AS (SELECT query_id, label, count(*) AS votes
        |  FROM nn JOIN embeddings e ON nn.item_id = e.vec_id
        |  GROUP BY query_id, label),
        |pred AS (SELECT query_id, CAST(label AS BIGINT) AS pred_label
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, label) AS rn FROM v) WHERE rn = 1)
        |SELECT CAST(q.label AS BIGINT) AS true_label, p.pred_label,
        |  count(*) AS n
        |FROM pred p JOIN embeddings q ON p.query_id = q.vec_id
        |GROUP BY 1, 2""".stripMargin,
    "j16_fuzzy_join" ->
      """WITH cat AS (SELECT c_custkey AS cand_key, c_name AS cand_name
        |  FROM customer),
        |probes AS (SELECT c_custkey AS probe_key,
        |    substring(c_name, 1, 2) || substring(c_name, 4) AS dirty
        |  FROM customer WHERE c_custkey % 97 = 0),
        |cg AS (SELECT cand_key, cand_name, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(cand_name) - 2, 1)),
        |      i -> substring(cand_name, i, 3)))) AS g FROM cat),
        |cgc AS (SELECT cand_key, cand_name, g FROM (
        |    SELECT cg.*, count(*) OVER (PARTITION BY g) AS gc FROM cg)
        |  WHERE gc <= 500),
        |pg AS (SELECT probe_key, dirty, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(dirty) - 2, 1)),
        |      i -> substring(dirty, i, 3)))) AS g FROM probes),
        |cands AS (SELECT DISTINCT probe_key, dirty, cand_key, cand_name
        |  FROM pg JOIN cgc USING (g)),
        |scored AS (SELECT probe_key, dirty, cand_key, cand_name,
        |    levenshtein(dirty, cand_name) AS lev FROM cands
        |  WHERE levenshtein(dirty, cand_name) <= 2)
        |SELECT probe_key, dirty, cand_key, cand_name, lev, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_key
        |    ORDER BY lev, cand_name) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin,
    "x30_length_buckets" ->
      """WITH toks AS (SELECT doc_id, CAST(len(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |g AS (SELECT max(n_tokens) AS gmax FROM toks),
        |b AS (SELECT doc_id, n_tokens, gmax,
        |    CAST(ceil(n_tokens / 32.0) AS BIGINT) AS bucket
        |  FROM toks CROSS JOIN g),
        |w AS (SELECT *, max(n_tokens) OVER (PARTITION BY bucket) AS bmax
        |  FROM b)
        |SELECT bucket, count(*) AS n_docs, max(n_tokens) AS max_tokens,
        |  CAST(sum(bmax - n_tokens) AS BIGINT) AS bucket_waste,
        |  CAST(sum(gmax - n_tokens) AS BIGINT) AS naive_waste
        |FROM w GROUP BY bucket""".stripMargin,
    "w20_diurnal" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6)
        |    AS share,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, hour) = 1 AS is_peak
        |FROM h""".stripMargin,
    "a36_class_report" ->
      """WITH nn AS (SELECT query_id, item_id, sim FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 25 AND c.vec_id >= 25)
        |  WHERE rank <= 10),
        |v AS (SELECT query_id, label, count(*) AS votes
        |  FROM nn JOIN embeddings e ON nn.item_id = e.vec_id
        |  GROUP BY query_id, label),
        |pred AS (SELECT p.query_id, p.pred_label,
        |    CAST(q.label AS BIGINT) AS true_label
        |  FROM (SELECT query_id, CAST(label AS BIGINT) AS pred_label
        |    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY votes DESC, label) AS rn FROM v) WHERE rn = 1) p
        |  JOIN embeddings q ON p.query_id = q.vec_id),
        |tp AS (SELECT true_label AS class, count(*) AS tp FROM pred
        |  WHERE pred_label = true_label GROUP BY 1),
        |act AS (SELECT true_label AS class, count(*) AS n_actual
        |  FROM pred GROUP BY 1),
        |prd AS (SELECT pred_label AS class, count(*) AS n_pred
        |  FROM pred GROUP BY 1),
        |m AS (SELECT coalesce(act.class, prd.class) AS class,
        |    coalesce(n_actual, 0) AS n_actual, coalesce(n_pred, 0) AS n_pred
        |  FROM act FULL OUTER JOIN prd ON act.class = prd.class),
        |f AS (SELECT m.class, m.n_actual, m.n_pred,
        |    coalesce(tp.tp, 0) AS tp
        |  FROM m LEFT JOIN tp ON m.class = tp.class)
        |SELECT class, n_actual, n_pred, tp,
        |  round(CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred
        |    ELSE 0.0 END, 6) AS precision,
        |  round(CASE WHEN n_actual > 0 THEN tp * 1.0 / n_actual
        |    ELSE 0.0 END, 6) AS recall,
        |  round(CASE WHEN n_pred + n_actual > 0
        |    THEN 2.0 * tp / (n_pred + n_actual) ELSE 0.0 END, 6) AS f1
        |FROM f""".stripMargin,
    "t34_langid_eval" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |h AS (SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], t))) AS h_en,
        |    len(list_filter(toks, t -> list_contains(
        |      ['el','la','de','que','y','en','un','es'], t))) AS h_es,
        |    len(list_filter(toks, t -> list_contains(
        |      ['der','die','das','und','ist','von','ein','zu'], t))) AS h_de,
        |    len(list_filter(toks, t -> list_contains(
        |      ['le','la','de','et','un','est','que','en'], t))) AS h_fr,
        |    len(list_filter(toks, t -> list_contains(
        |      ['的','了','是','我','不','在','有','人'], t))) AS h_zh
        |  FROM tk),
        |m AS (SELECT doc_id,
        |    greatest(h_en, h_es, h_de, h_fr, h_zh) AS best,
        |    h_en, h_es, h_de, h_fr, h_zh FROM h),
        |g AS (SELECT doc_id, CASE WHEN best = 0 THEN 'und'
        |    WHEN h_zh = best THEN 'zh' WHEN h_fr = best THEN 'fr'
        |    WHEN h_es = best THEN 'es' WHEN h_en = best THEN 'en'
        |    ELSE 'de' END AS lang_guess FROM m)
        |SELECT lang, lang_guess, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 6) AS share
        |FROM (SELECT d.lang, g.lang_guess, count(*) AS n
        |  FROM g JOIN documents d ON g.doc_id = d.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
    "m15_pop_backtest" ->
      """WITH hist AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) BETWEEN 1998 AND 1999),
        |pop AS (SELECT i AS item FROM (SELECT i,
        |    row_number() OVER (ORDER BY count(*) DESC, i) AS rn
        |  FROM hist GROUP BY i) WHERE rn <= 5),
        |test AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) >= 2000),
        |recs AS (SELECT eu.u, p.item
        |  FROM (SELECT DISTINCT u FROM test) eu CROSS JOIN pop p
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h
        |    WHERE h.u = eu.u AND h.i = p.item)),
        |m AS (SELECT r.u, r.item,
        |    CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM recs r LEFT JOIN test t ON t.u = r.u AND t.i = r.item),
        |s1 AS (SELECT count(DISTINCT u) AS n_eval_users,
        |    count(*) AS n_recs, sum(hit) AS n_hits,
        |    count(DISTINCT CASE WHEN hit = 1 THEN u END) AS n_hit_users
        |  FROM m),
        |s2 AS (SELECT count(DISTINCT item) AS n_rec_items FROM recs),
        |s3 AS (SELECT count(DISTINCT i) AS n_train_items FROM hist)
        |SELECT n_eval_users,
        |  round(CAST(n_hit_users AS DOUBLE) / n_eval_users, 6)
        |    AS hit_rate,
        |  round(CAST(n_hits AS DOUBLE) / n_recs, 6) AS precision_at_5,
        |  round(CAST(n_rec_items AS DOUBLE) / n_train_items, 6)
        |    AS coverage
        |FROM s1 CROSS JOIN s2 CROSS JOIN s3""".stripMargin,
    "d20_source_overlap" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(30 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT doc_a, doc_b, ej FROM (
        |    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |      len(list_filter(list_transform(generate_series(1, 16),
        |        i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS ej
        |    FROM capped l JOIN capped r
        |      ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
        |  WHERE ej >= 0.3)
        |SELECT source_a, source_b, count(*) AS n_pairs,
        |  round(avg(ej), 6) AS mean_est_jaccard
        |FROM (SELECT least(da.source, db.source) AS source_a,
        |    greatest(da.source, db.source) AS source_b, p.ej
        |  FROM pairs p JOIN documents da ON p.doc_a = da.doc_id
        |  JOIN documents db ON p.doc_b = db.doc_id)
        |GROUP BY 1, 2""".stripMargin,
    "g17_khop" ->
      """WITH RECURSIVE ui AS (SELECT DISTINCT l_orderkey AS b,
        |    l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) = 1995),
        |und AS (SELECT DISTINCT x.i AS u, y.i AS v FROM ui x
        |  JOIN ui y ON x.b = y.b AND x.i < y.i),
        |sym AS (SELECT u AS n, v AS m FROM und
        |  UNION ALL SELECT v, u FROM und),
        |seeds AS (SELECT n FROM (SELECT DISTINCT n FROM sym)
        |  ORDER BY n LIMIT 3),
        |walk(n, d) AS (
        |  SELECT n, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT sym.m, walk.d + 1 FROM walk JOIN sym ON walk.n = sym.n
        |  WHERE walk.d < 3)
        |SELECT n AS part, min(d) AS dist FROM walk GROUP BY n""".stripMargin,
    "l9_skew_report" ->
      """WITH p AS (SELECT strftime(l_shipdate, '%Y-%m') AS part,
        |    count(*) AS nrows
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(nrows) AS BIGINT) AS tot,
        |    count(*) AS np FROM p)
        |SELECT part, nrows,
        |  round(nrows * 1.0 / tot, 6) AS share,
        |  round(nrows * np / CAST(tot AS DOUBLE), 6) AS ratio_to_mean,
        |  round(nrows * np / CAST(tot AS DOUBLE), 6) > 1.5 AS hot
        |FROM p CROSS JOIN t""".stripMargin,
    "x31_temporal_split" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |days AS (SELECT day, count(*) AS n FROM ev GROUP BY day),
        |c AS (SELECT day, sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT sum(n) FROM days) AS tot
        |  FROM days),
        |cuts AS (SELECT
        |    min(CASE WHEN cum >= tot * 0.7 THEN day END) AS c70,
        |    min(CASE WHEN cum >= tot * 0.85 THEN day END) AS c85
        |  FROM c)
        |SELECT split, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM (SELECT user_id, day,
        |    CASE WHEN day <= c70 THEN 'train'
        |      WHEN day <= c85 THEN 'val' ELSE 'test' END AS split
        |  FROM ev CROSS JOIN cuts)
        |GROUP BY split""".stripMargin,
    "w25_streaks" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |runs AS (SELECT user_id, grp, min(day) AS start_day,
        |    count(*) AS len
        |  FROM (SELECT user_id, day, day - row_number() OVER (
        |      PARTITION BY user_id ORDER BY day) AS grp FROM act)
        |  GROUP BY user_id, grp),
        |best AS (SELECT user_id, len AS max_streak,
        |    start_day AS streak_start
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day) AS rn FROM runs)
        |  WHERE rn = 1),
        |agg AS (SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |    count(*) AS n_streaks FROM runs GROUP BY user_id)
        |SELECT agg.user_id, n_active_days, n_streaks, max_streak,
        |  streak_start
        |FROM agg JOIN best ON agg.user_id = best.user_id""".stripMargin,
    "t36_vocab_growth" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS tok FROM documents),
        |nt AS (SELECT CAST(floor(fd / 100) + 1 AS BIGINT) AS bucket,
        |    count(*) AS new_types
        |  FROM (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok)
        |  GROUP BY 1),
        |tc AS (SELECT CAST(floor(doc_id / 100) + 1 AS BIGINT) AS bucket,
        |    count(*) AS n_tokens FROM toks GROUP BY 1)
        |SELECT tc.bucket, coalesce(new_types, 0) AS new_types, n_tokens,
        |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY tc.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab,
        |  CAST(sum(n_tokens) OVER (ORDER BY tc.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |FROM tc LEFT JOIN nt ON nt.bucket = tc.bucket""".stripMargin,
    "a38_rbo" ->
      """WITH q AS (SELECT l_partkey AS part,
        |    round(sum(l_quantity), 6) AS score FROM lineitem GROUP BY 1),
        |qr AS (SELECT part, rank FROM (SELECT part, row_number() OVER (
        |    ORDER BY score DESC, part) AS rank FROM q) WHERE rank <= 10),
        |r AS (SELECT l_partkey AS part,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS score
        |  FROM lineitem GROUP BY 1),
        |rr AS (SELECT part, rank FROM (SELECT part, row_number() OVER (
        |    ORDER BY score DESC, part) AS rank FROM r) WHERE rank <= 10),
        |j AS (SELECT coalesce(qr.part, rr.part) AS part, qr.rank AS ra,
        |    rr.rank AS rb
        |  FROM qr FULL OUTER JOIN rr ON qr.part = rr.part),
        |o AS (SELECT d, count(CASE WHEN ra <= d AND rb <= d THEN 1 END)
        |    AS overlap
        |  FROM j CROSS JOIN (SELECT unnest(CAST(generate_series(1, 10)
        |    AS BIGINT[])) AS d) ds GROUP BY d)
        |SELECT d, overlap, round(overlap * 1.0 / d, 6) AS agreement,
        |  round(0.1 * sum(power(0.9, d - 1) * overlap / d) OVER (
        |    ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    6) AS rbo_trunc
        |FROM o""".stripMargin,
    "v7_matryoshka_eval" ->
      """WITH approx AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(
        |          (CAST(q.embedding AS DOUBLE[]))[1:16],
        |          (CAST(c.embedding AS DOUBLE[]))[1:16]) DESC, c.vec_id)
        |        AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5),
        |exact AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT e.query_id, count(*) AS n_exact,
        |  count(a.item_id) AS n_hit,
        |  round(count(a.item_id) * 1.0 / count(*), 6) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON e.query_id = a.query_id AND e.item_id = a.item_id
        |GROUP BY e.query_id""".stripMargin,
    "sim13_centroid_classify" ->
      """WITH ds AS (SELECT unnest(generate_series(1, 64)) AS d),
        |corpus AS (SELECT label, d - 1 AS dim,
        |    (CAST(embedding AS DOUBLE[]))[d] AS x
        |  FROM embeddings CROSS JOIN ds
        |  WHERE vec_id >= 25 AND d <= len(embedding)),
        |cent AS (SELECT label, dim, avg(x) AS c FROM corpus
        |  GROUP BY label, dim),
        |cnorm AS (SELECT label, sqrt(sum(c * c)) AS nc FROM cent
        |  GROUP BY label),
        |q AS (SELECT vec_id AS query_id, d - 1 AS dim,
        |    (CAST(embedding AS DOUBLE[]))[d] AS qx
        |  FROM embeddings CROSS JOIN ds
        |  WHERE vec_id < 25 AND d <= len(embedding)),
        |qnorm AS (SELECT query_id, sqrt(sum(qx * qx)) AS nq FROM q
        |  GROUP BY query_id),
        |scored AS (SELECT s.query_id, s.label,
        |    round(s.dot / (qn.nq * cn.nc), 6) AS cosine
        |  FROM (SELECT q.query_id, cent.label, sum(q.qx * cent.c) AS dot
        |    FROM q JOIN cent ON q.dim = cent.dim
        |    GROUP BY q.query_id, cent.label) s
        |  JOIN qnorm qn ON s.query_id = qn.query_id
        |  JOIN cnorm cn ON s.label = cn.label)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label, cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, label) AS rn FROM scored)
        |WHERE rn = 1""".stripMargin,
    "t37_js_divergence" ->
      """WITH toks AS (SELECT lang, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS tok FROM documents),
        |vocab AS (SELECT tok FROM (SELECT tok,
        |    row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |  FROM toks GROUP BY tok) WHERE rn <= 200),
        |counts AS (SELECT t.tok,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS pe,
        |    count(CASE WHEN lang <> 'en' THEN 1 END) AS qe
        |  FROM toks t JOIN vocab v ON t.tok = v.tok GROUP BY t.tok),
        |tot AS (SELECT CAST(sum(pe) AS BIGINT) AS tp,
        |    CAST(sum(qe) AS BIGINT) AS tq, count(*) AS v FROM counts),
        |pq AS (SELECT (pe + 1) * 1.0 / (tp + v) AS p,
        |    (qe + 1) * 1.0 / (tq + v) AS q
        |  FROM counts CROSS JOIN tot)
        |SELECT count(*) AS vocab_size,
        |  round(sum(p * ln(p / ((p + q) / 2))), 6) AS kl_pm,
        |  round(sum(q * ln(q / ((p + q) / 2))), 6) AS kl_qm,
        |  round(0.5 * sum(p * ln(p / ((p + q) / 2)))
        |    + 0.5 * sum(q * ln(q / ((p + q) / 2))), 6) AS js
        |FROM pq""".stripMargin,
    "d21_threshold_sweep" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(25 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT doc_a, doc_b, ej FROM (
        |    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |      len(list_filter(list_transform(generate_series(1, 16),
        |        i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS ej
        |    FROM capped l JOIN capped r
        |      ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
        |  WHERE ej >= 0.25),
        |x AS (SELECT t.threshold, p.doc_a, p.doc_b FROM pairs p
        |  CROSS JOIN (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold) t
        |  WHERE p.ej >= t.threshold),
        |u AS (SELECT threshold, doc_a AS doc FROM x
        |  UNION ALL SELECT threshold, doc_b FROM x)
        |SELECT threshold, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
        |  count(DISTINCT doc) AS n_docs
        |FROM u GROUP BY threshold""".stripMargin,
    "w27_stickiness" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |a2 AS (SELECT user_id, day, day // 7 AS week FROM act),
        |wau AS (SELECT week, count(DISTINCT user_id) AS wau FROM a2
        |  GROUP BY week),
        |dau AS (SELECT week, sum(n) / 7.0 AS avg_dau FROM (
        |    SELECT week, day, count(*) AS n FROM a2 GROUP BY week, day)
        |  GROUP BY week)
        |SELECT wau.week, wau.wau, round(avg_dau, 6) AS avg_dau,
        |  round(avg_dau / wau.wau, 6) AS stickiness
        |FROM wau JOIN dau ON wau.week = dau.week""".stripMargin,
    "v8_norm_audit" ->
      """WITH nm AS (SELECT round(sqrt(list_dot_product(
        |    CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 6) AS nm FROM embeddings),
        |s AS (SELECT count(*) AS n, sum(nm) AS s1, sum(nm * nm) AS s2,
        |    round(min(nm), 6) AS min_norm, round(max(nm), 6) AS max_norm,
        |    count(CASE WHEN abs(nm - 1.0) > 0.001 THEN 1 END)
        |      AS n_non_unit
        |  FROM nm)
        |SELECT n AS n_vecs, round(s1 / n, 6) AS mean_norm,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS sd_norm,
        |  min_norm, max_norm, n_non_unit
        |FROM s""".stripMargin,
    "sim17_auto_nprobe" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |calib AS (SELECT * FROM queries WHERE query_id < 5),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM corpus),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= (SELECT c FROM nc)),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |cprobed AS (SELECT query_id, v, cell, rn AS pr FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM calib q CROSS JOIN cent ct) WHERE rn <= 8),
        |np AS (SELECT unnest(CAST([1, 2, 4, 8] AS BIGINT[])) AS n_probe),
        |cscored AS (SELECT np.n_probe, p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM cprobed p CROSS JOIN np JOIN assigned a USING (cell)
        |  WHERE p.pr <= np.n_probe),
        |capprox AS (SELECT n_probe, query_id, item_id FROM (
        |    SELECT n_probe, query_id, item_id, row_number() OVER (
        |      PARTITION BY n_probe, query_id
        |      ORDER BY cosine DESC, item_id) AS rank FROM cscored)
        |  WHERE rank <= 5),
        |cexact AS (SELECT query_id, item_id FROM (
        |    SELECT q.query_id, c.item_id, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.item_id) AS rank
        |    FROM calib q CROSS JOIN corpus c) WHERE rank <= 5),
        |truth AS (SELECT count(*) AS t FROM cexact),
        |hits AS (SELECT n_probe, count(*) AS h
        |  FROM capprox JOIN cexact USING (query_id, item_id)
        |  GROUP BY n_probe),
        |chosen AS (SELECT coalesce(min(n_probe), 8) AS p
        |  FROM hits, truth WHERE 100 * h >= 80 * t),
        |fprobed AS (SELECT query_id, v, cell, rn AS pr FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 8),
        |fscored AS (SELECT p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM fprobed p JOIN assigned a USING (cell)
        |  WHERE p.pr <= (SELECT p FROM chosen))
        |SELECT (SELECT p FROM chosen) AS n_probe, query_id, item_id,
        |  round(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, item_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |  FROM fscored)
        |WHERE rank <= 5""".stripMargin,
    "sim18_policy_holdout" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |calib AS (SELECT * FROM queries WHERE query_id < 5),
        |holdout AS (SELECT * FROM queries WHERE query_id >= 5),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM corpus),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= (SELECT c FROM nc)),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |cprobed AS (SELECT query_id, v, cell, rn AS pr FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM calib q CROSS JOIN cent ct) WHERE rn <= 8),
        |np AS (SELECT unnest(CAST([1, 2, 4, 8] AS BIGINT[])) AS n_probe),
        |cscored AS (SELECT np.n_probe, p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM cprobed p CROSS JOIN np JOIN assigned a USING (cell)
        |  WHERE p.pr <= np.n_probe),
        |capprox AS (SELECT n_probe, query_id, item_id FROM (
        |    SELECT n_probe, query_id, item_id, row_number() OVER (
        |      PARTITION BY n_probe, query_id
        |      ORDER BY cosine DESC, item_id) AS rank FROM cscored)
        |  WHERE rank <= 5),
        |cexact AS (SELECT query_id, item_id FROM (
        |    SELECT q.query_id, c.item_id, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.item_id) AS rank
        |    FROM calib q CROSS JOIN corpus c) WHERE rank <= 5),
        |truth AS (SELECT count(*) AS t FROM cexact),
        |hits AS (SELECT n_probe, count(*) AS h
        |  FROM capprox JOIN cexact USING (query_id, item_id)
        |  GROUP BY n_probe),
        |chosen AS (SELECT coalesce(min(n_probe), 8) AS p
        |  FROM hits, truth WHERE 100 * h >= 80 * t),
        |hprobed AS (SELECT query_id, v, cell FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM holdout q CROSS JOIN cent ct)
        |  WHERE rn <= (SELECT p FROM chosen)),
        |hscored AS (SELECT p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM hprobed p JOIN assigned a USING (cell)),
        |happrox AS (SELECT query_id, item_id FROM (
        |    SELECT query_id, item_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
        |    FROM hscored) WHERE rank <= 5),
        |hexact AS (SELECT query_id, item_id FROM (
        |    SELECT q.query_id, c.item_id, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.item_id) AS rank
        |    FROM holdout q CROSS JOIN corpus c) WHERE rank <= 5),
        |agg AS (SELECT count(a.item_id) AS hits, count(*) AS truth
        |  FROM hexact e LEFT JOIN happrox a USING (query_id, item_id))
        |SELECT (SELECT p FROM chosen) AS n_probe, hits, truth,
        |  hits * 100 // truth AS recall_pct_floor,
        |  CAST(CASE WHEN hits * 100 >= truth * 80 THEN 1 ELSE 0 END
        |    AS BIGINT) AS meets_target
        |FROM agg""".stripMargin,
    "sim19_index_drift" ->
      """WITH fit AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 <> 0),
        |inc AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 = 0),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM fit),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM fit) WHERE rn <= (SELECT c FROM nc)),
        |af AS (SELECT cell, count(*) AS n_fit,
        |    round(avg(cs), 6) AS mean_cos_fit FROM (
        |    SELECT f.item_id, ct.cell,
        |      round(list_cosine_similarity(f.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY f.item_id
        |        ORDER BY list_cosine_similarity(f.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM fit f CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |an AS (SELECT cell, count(*) AS n_new,
        |    round(avg(cs), 6) AS mean_cos_new FROM (
        |    SELECT i.item_id, ct.cell,
        |      round(list_cosine_similarity(i.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY i.item_id
        |        ORDER BY list_cosine_similarity(i.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM inc i CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell)
        |SELECT coalesce(af.cell, an.cell) AS cell,
        |  coalesce(n_fit, 0) AS n_fit, coalesce(n_new, 0) AS n_new,
        |  mean_cos_fit, mean_cos_new,
        |  round(mean_cos_new - mean_cos_fit, 6) AS cos_drift
        |FROM af FULL OUTER JOIN an ON af.cell = an.cell""".stripMargin,
    "sim16_auto_recall_curve" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM corpus),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= (SELECT c FROM nc)),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT query_id, v, cell, rn AS pr FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 8),
        |np AS (SELECT unnest(CAST([1, 2, 4, 8] AS BIGINT[])) AS n_probe),
        |scored AS (SELECT np.n_probe, p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM probed p CROSS JOIN np JOIN assigned a USING (cell)
        |  WHERE p.pr <= np.n_probe),
        |approx AS (SELECT n_probe, query_id, item_id FROM (
        |    SELECT n_probe, query_id, item_id, row_number() OVER (
        |      PARTITION BY n_probe, query_id
        |      ORDER BY cosine DESC, item_id) AS rank FROM scored)
        |  WHERE rank <= 5),
        |exact AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5),
        |per AS (SELECT np.n_probe, e.query_id,
        |    count(ap.item_id) * 1.0 / count(*) AS recall
        |  FROM exact e CROSS JOIN np
        |  LEFT JOIN approx ap ON ap.n_probe = np.n_probe
        |    AND ap.query_id = e.query_id AND ap.item_id = e.item_id
        |  GROUP BY np.n_probe, e.query_id)
        |SELECT n_probe, round(avg(recall), 6) AS mean_recall,
        |  count(*) AS n_queries
        |FROM per GROUP BY n_probe""".stripMargin,
    "sim14_nprobe_curve" ->
      """WITH corpus AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |queries AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM corpus) WHERE rn <= 8),
        |assigned AS (SELECT item_id, v, cell FROM (
        |    SELECT c.item_id, c.v, ct.cell, row_number() OVER (
        |      PARTITION BY c.item_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |probed AS (SELECT query_id, v, cell, rn AS pr FROM (
        |    SELECT q.query_id, q.v, ct.cell, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 8),
        |np AS (SELECT unnest(CAST([1, 2, 4, 8] AS BIGINT[])) AS n_probe),
        |scored AS (SELECT np.n_probe, p.query_id, a.item_id,
        |    list_cosine_similarity(p.v, a.v) AS cosine
        |  FROM probed p CROSS JOIN np JOIN assigned a USING (cell)
        |  WHERE p.pr <= np.n_probe),
        |approx AS (SELECT n_probe, query_id, item_id FROM (
        |    SELECT n_probe, query_id, item_id, row_number() OVER (
        |      PARTITION BY n_probe, query_id
        |      ORDER BY cosine DESC, item_id) AS rank FROM scored)
        |  WHERE rank <= 5),
        |exact AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5),
        |per AS (SELECT np.n_probe, e.query_id,
        |    count(ap.item_id) * 1.0 / count(*) AS recall
        |  FROM exact e CROSS JOIN np
        |  LEFT JOIN approx ap ON ap.n_probe = np.n_probe
        |    AND ap.query_id = e.query_id AND ap.item_id = e.item_id
        |  GROUP BY np.n_probe, e.query_id)
        |SELECT n_probe, round(avg(recall), 6) AS mean_recall,
        |  count(*) AS n_queries
        |FROM per GROUP BY n_probe""".stripMargin,
    "l10_layout_effectiveness" ->
      """WITH ka AS (SELECT CAST(l_orderkey // 6000 AS VARCHAR) AS block,
        |    min(l_shipdate) AS mn, max(l_shipdate) AS mx
        |  FROM lineitem GROUP BY 1),
        |ma AS (SELECT strftime(l_shipdate, '%Y-%m') AS block,
        |    min(l_shipdate) AS mn, max(l_shipdate) AS mx
        |  FROM lineitem GROUP BY 1),
        |k AS (SELECT 'key_blocks' AS layout, count(*) AS n_blocks,
        |    count(CASE WHEN mx < TIMESTAMP '1995-01-01'
        |      OR mn >= TIMESTAMP '1996-01-01' THEN 1 END) AS n_skippable
        |  FROM ka),
        |m AS (SELECT 'ship_month' AS layout, count(*) AS n_blocks,
        |    count(CASE WHEN mx < TIMESTAMP '1995-01-01'
        |      OR mn >= TIMESTAMP '1996-01-01' THEN 1 END) AS n_skippable
        |  FROM ma)
        |SELECT layout, n_blocks, n_skippable,
        |  round(n_skippable * 1.0 / n_blocks, 6) AS skip_frac
        |FROM (SELECT * FROM k UNION ALL SELECT * FROM m)""".stripMargin,
    "q7_dataset_card" ->
      """WITH d AS (SELECT text, lang, source,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS nt,
        |    least(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) / 50.0, 1.0) * 0.4
        |    + (CASE WHEN len(list_filter(string_split_regex(lower(text),
        |          '\s+'), t -> len(t) > 0)) > 0
        |        AND len(regexp_replace(text, '\s+', '', 'g')) * 1.0
        |          / len(list_filter(string_split_regex(lower(text), '\s+'),
        |            t -> len(t) > 0)) BETWEEN 3.0 AND 10.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3
        |    + (1.0 - least(
        |        (CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |           / length(text) END) * 5.0, 1.0)) * 0.3 AS q
        |  FROM documents)
        |SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  round(count(CASE WHEN lang = 'en' THEN 1 END) * 1.0
        |    / count(*), 6) AS pct_en,
        |  round(avg(q), 6) AS mean_quality,
        |  round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 6)
        |    AS dup_rate
        |FROM d""".stripMargin,
    "w30_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 86400000000000) // 7 AS week FROM events),
        |f AS (SELECT user_id, week,
        |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
        |  FROM uw),
        |s AS (SELECT week,
        |    count(CASE WHEN prev IS NULL THEN 1 END) AS n_new,
        |    count(CASE WHEN prev = week - 1 THEN 1 END) AS n_retained,
        |    count(CASE WHEN prev IS NOT NULL AND prev < week - 1 THEN 1 END)
        |      AS n_resurrected
        |  FROM f GROUP BY week),
        |c AS (SELECT week + 1 AS week, count(*) AS n_churned FROM f
        |  WHERE nxt IS NULL OR nxt > week + 1 GROUP BY week + 1)
        |SELECT coalesce(s.week, c.week) AS week,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM s FULL OUTER JOIN c ON s.week = c.week""".stripMargin,
    "a39_pr_curve" ->
      """WITH b AS (SELECT CAST(least(floor(value / 50.0), 9.0) AS BIGINT)
        |      AS bin,
        |    count(*) AS n,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS npos
        |  FROM events GROUP BY 1),
        |thr AS (SELECT unnest(generate_series(0, 9)) AS thr_decile),
        |sw AS (SELECT thr_decile,
        |    coalesce(sum(n), 0) AS n_pred, coalesce(sum(npos), 0) AS tp
        |  FROM thr LEFT JOIN b ON b.bin >= thr.thr_decile
        |  GROUP BY thr_decile),
        |tot AS (SELECT sum(npos) AS pos FROM b)
        |SELECT thr_decile, CAST(n_pred AS BIGINT) AS n_pred,
        |  CAST(tp AS BIGINT) AS tp,
        |  CASE WHEN n_pred > 0 THEN round(tp * 1.0 / n_pred, 6) END
        |    AS precision,
        |  round(tp * 1.0 / pos, 6) AS recall,
        |  round(2.0 * tp / (n_pred + pos), 6) AS f1
        |FROM sw, tot""".stripMargin,
    "a40_reliability_bins" ->
      """SELECT CAST(greatest(least(floor(value / 500.0 * 10), 9), 0)
        |    AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(avg(value / 500.0), 6) AS mean_score,
        |  round(avg(CASE WHEN event_type = 'purchase' THEN 1.0
        |    ELSE 0.0 END), 6) AS pos_rate,
        |  round(avg(CASE WHEN event_type = 'purchase' THEN 1.0
        |      ELSE 0.0 END) - avg(value / 500.0), 6) AS gap
        |FROM events GROUP BY 1""".stripMargin,
    "x32_cluster_split" ->
      """WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents),
        |r AS (SELECT dg, min(doc_id) AS rep_id, count(*) AS n_members
        |  FROM d GROUP BY dg)
        |SELECT doc_id, rep_id, n_members,
        |  CASE WHEN substring(md5(CAST(rep_id AS VARCHAR)), 1, 1) < 'c'
        |    THEN 'train' ELSE 'test' END AS split
        |FROM d JOIN r USING (dg)""".stripMargin,
    "w31_cohort_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 86400000000000) // 7 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM uw
        |  GROUP BY user_id),
        |cells AS (SELECT cohort_week, week - cohort_week AS age_weeks,
        |    count(*) AS n_users
        |  FROM uw JOIN c USING (user_id)
        |  GROUP BY cohort_week, week - cohort_week)
        |SELECT cohort_week, age_weeks, n_users,
        |  round(n_users * 1.0 / max(CASE WHEN age_weeks = 0
        |      THEN n_users END) OVER (PARTITION BY cohort_week), 6)
        |    AS retention
        |FROM cells""".stripMargin,
    "a41_cap_curve" ->
      """WITH sc AS (SELECT event_id, value / 500.0 AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (ORDER BY s DESC, event_id) - 1
        |    AS rk FROM sc),
        |t AS (SELECT count(*) AS n, sum(y) AS pos FROM sc),
        |d AS (SELECT (rk * 10) // (SELECT n FROM t) AS decile,
        |    count(*) AS rows_, sum(y) AS p
        |  FROM r GROUP BY 1)
        |SELECT decile,
        |  CAST(sum(rows_) OVER w AS BIGINT) AS cum_rows,
        |  CAST(sum(p) OVER w AS BIGINT) AS cum_pos,
        |  round(sum(p) OVER w / (SELECT pos FROM t), 6) AS gain,
        |  round((sum(p) OVER w / sum(rows_) OVER w) /
        |    ((SELECT pos FROM t) * 1.0 / (SELECT n FROM t)), 6)
        |    AS cum_lift
        |FROM d
        |WINDOW w AS (ORDER BY decile
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "w32_survival_curve" ->
      """WITH days AS (SELECT user_id, epoch_ns(ts) // 86400000000000
        |    AS day FROM events),
        |u AS (SELECT user_id, min(day) AS fst, max(day) AS lst
        |  FROM days GROUP BY user_id),
        |m AS (SELECT max(day) AS maxd FROM days),
        |lt AS (SELECT lst - fst AS duration_days,
        |    CASE WHEN lst < (SELECT maxd FROM m) - 7 THEN 1 ELSE 0 END
        |      AS churn FROM u),
        |perT AS (SELECT duration_days,
        |    CAST(sum(churn) AS BIGINT) AS n_churned,
        |    CAST(sum(1 - churn) AS BIGINT) AS n_censored
        |  FROM lt GROUP BY duration_days),
        |risk AS (SELECT *, sum(n_churned + n_censored) OVER (
        |    ORDER BY duration_days
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM perT),
        |f AS (SELECT *, (n_risk - n_churned) * 1.0 / n_risk AS fac
        |  FROM risk)
        |SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  n_churned, n_censored,
        |  CASE WHEN min(fac) OVER w = 0 THEN 0.0
        |    ELSE round(exp(sum(ln(fac)) OVER w), 6) END AS survival
        |FROM f
        |WINDOW w AS (ORDER BY duration_days
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "a42_brier_decomposition" ->
      """WITH sc AS (SELECT value / 500.0 AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |g AS (SELECT count(*) AS n, avg((s - y) * (s - y)) AS brier,
        |    avg(y) AS base FROM sc),
        |b AS (SELECT greatest(least(floor(s * 10), 9), 0) AS bin,
        |    count(*) AS bn, avg(s) AS conf, avg(y) AS acc
        |  FROM sc GROUP BY 1)
        |SELECT (SELECT n FROM g) AS n,
        |  round((SELECT brier FROM g), 6) AS brier,
        |  round(sum(bn * (conf - acc) * (conf - acc))
        |    / (SELECT n FROM g), 6) AS reliability,
        |  round(sum(bn * (acc - (SELECT base FROM g)) *
        |    (acc - (SELECT base FROM g))) / (SELECT n FROM g), 6)
        |    AS resolution,
        |  round((SELECT base * (1.0 - base) FROM g), 6) AS uncertainty,
        |  round((SELECT brier FROM g) -
        |    (sum(bn * ((conf - acc) * (conf - acc) -
        |        (acc - (SELECT base FROM g)) *
        |        (acc - (SELECT base FROM g)))) / (SELECT n FROM g) +
        |      (SELECT base * (1.0 - base) FROM g)), 6) AS residual
        |FROM b""".stripMargin,
    "t38_zipf_fit" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
        |  ORDER BY cnt DESC, tok LIMIT 200),
        |pts AS (SELECT ln(CAST(row_number() OVER (
        |      ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y FROM freq),
        |agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM pts)
        |SELECT n AS n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS zipf_slope,
        |  round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx)))
        |    / n, 6) AS intercept,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM agg""".stripMargin,
    "w33_peak_concurrency" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id
        |  FROM events),
        |l AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM e),
        |b AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR ts - prev >= 3600000000
        |      THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id FROM b),
        |sess AS (SELECT user_id, session_id, min(ts) AS t_start,
        |    max(ts) AS t_end FROM s GROUP BY user_id, session_id),
        |bounds AS (SELECT user_id, session_id, t_start AS bt, 0 AS k2
        |    FROM sess
        |  UNION ALL SELECT user_id, session_id, t_end + 1, 1 FROM sess),
        |c AS (SELECT bt,
        |    sum(CASE WHEN k2 = 0 THEN 1 ELSE 0 END) OVER w -
        |    sum(CASE WHEN k2 = 1 THEN 1 ELSE 0 END) OVER w AS conc
        |  FROM bounds WINDOW w AS (ORDER BY bt, k2, user_id, session_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT max(conc) AS peak FROM c)
        |SELECT (SELECT count(*) FROM sess) AS n_sessions,
        |  CAST((SELECT peak FROM p) AS BIGINT) AS peak_concurrency,
        |  min(bt) AS peak_ts
        |FROM c WHERE conc = (SELECT peak FROM p)""".stripMargin,
    "x34_weighted_resample" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) + 0.5) / 281474976710656.0 AS u
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, n_chars, -ln(u) / n_chars AS ky FROM d),
        |t AS (SELECT * FROM k ORDER BY ky, doc_id LIMIT 100)
        |SELECT row_number() OVER (ORDER BY ky, doc_id) AS rank,
        |  doc_id, n_chars AS weight
        |FROM t""".stripMargin,
    "d31_band_plan" ->
      """WITH grid(nh, jp, tp) AS (VALUES
        |  (16, 30, 50), (16, 50, 80), (16, 50, 95), (16, 70, 90),
        |  (32, 50, 80), (32, 30, 90), (64, 80, 95), (20, 40, 70),
        |  (24, 60, 85), (4, 10, 90)),
        |ser AS (SELECT unnest(generate_series(1, 64)) AS b),
        |cand AS (SELECT CAST(nh AS BIGINT) AS num_hashes,
        |    CAST(jp AS BIGINT) AS min_jaccard_pct,
        |    CAST(tp AS BIGINT) AS target_pct,
        |    CAST(b AS BIGINT) AS bands,
        |    CAST(nh // b AS BIGINT) AS rows_per_band,
        |    1.0 - pow(1.0 - pow(jp / 100.0, nh // b), b) AS detect
        |  FROM grid, ser WHERE b <= nh AND nh % b = 0),
        |chosen AS (SELECT num_hashes, min_jaccard_pct, target_pct,
        |    coalesce(min(CASE WHEN detect >= target_pct / 100.0
        |      THEN bands END), num_hashes) AS bands
        |  FROM cand GROUP BY num_hashes, min_jaccard_pct, target_pct)
        |SELECT c.num_hashes, c.min_jaccard_pct, c.target_pct, c.bands,
        |  c.rows_per_band, round(c.detect, 6) AS detect_prob
        |FROM chosen
        |JOIN cand c USING (num_hashes, min_jaccard_pct, target_pct, bands)""".stripMargin,
    "d32_minhash_auto_band" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, sg, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 200),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    len(list_filter(list_transform(generate_series(1, 16),
        |      i -> l.sg[i] = r.sg[i]), x -> x)) / 16.0 AS est_jaccard
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
        |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard,
        |  bands, rpb AS rows_per_band
        |FROM pairs, pl WHERE est_jaccard >= 50 / 100.0""".stripMargin,
    "d33_band_plan_audit" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |cappedx AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM cappedx l JOIN cappedx r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b,
        |    i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.05),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |cappedb AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM cappedb l JOIN cappedb r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |det AS (SELECT CAST(least(floor(e.j * 10), 9) AS BIGINT)
        |      AS j_bucket,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |agg AS (SELECT j_bucket, count(*) AS n_pairs,
        |    count(d) AS n_detected FROM det GROUP BY j_bucket)
        |SELECT j_bucket, n_pairs, n_detected,
        |  n_detected * 1.0 / n_pairs AS detect_rate,
        |  round(1.0 - pow(1.0 - pow((j_bucket + 0.5) / 10.0,
        |    (SELECT rpb FROM pl)), (SELECT bands FROM pl)), 6)
        |    AS predicted_prob,
        |  (SELECT bands FROM pl) AS bands,
        |  (SELECT rpb FROM pl) AS rows_per_band
        |FROM agg""".stripMargin,
    "d47_sampled_band_audit" ->
      """WITH plan AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(50 / 100.0, 16 // b), b) >= 80 / 100.0
        |      THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pl AS (SELECT bands, CAST(16 // bands AS BIGINT) AS rpb FROM plan),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |cappedx AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM cappedx l JOIN cappedx r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b,
        |    i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.05),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, b,
        |    md5(array_to_string(sg[b*rpb+1:b*rpb+rpb], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, bands - 1)) AS b,
        |    rpb FROM pl) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |cappedb AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM cappedb l JOIN cappedb r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |det AS (SELECT CAST(least(floor(e.j * 10), 9) AS BIGINT)
        |      AS j_bucket,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |agg AS (SELECT j_bucket, count(*) AS n_pairs,
        |    count(d) AS n_detected FROM det GROUP BY j_bucket)
        |SELECT j_bucket, n_pairs, n_detected,
        |  n_detected * 1.0 / n_pairs AS detect_rate,
        |  round(1.0 - pow(1.0 - pow((j_bucket + 0.5) / 10.0,
        |    (SELECT rpb FROM pl)), (SELECT bands FROM pl)), 6)
        |    AS predicted_prob,
        |  (SELECT bands FROM pl) AS bands,
        |  (SELECT rpb FROM pl) AS rows_per_band
        |FROM agg""".stripMargin,
    "d34_band_replan" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |cappedx AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM cappedx l JOIN cappedx r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b,
        |    i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 5 / 100.0),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, b,
        |    md5(array_to_string(sg[b*4+1:b*4+4], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |cappedb AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM cappedb l JOIN cappedb r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |det AS (SELECT CAST(least(floor(e.j * 10), 9) AS BIGINT) AS jb,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |buck AS (SELECT jb, count(*) AS n, count(d) AS dt
        |  FROM det GROUP BY jb),
        |dec AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 80 * n
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck),
        |ladder AS (SELECT nh, b, CAST(nh // b AS BIGINT) AS rpb,
        |    1.0 - pow(1.0 - pow(5 / 100.0, CAST(nh // b AS DOUBLE)),
        |      CAST(b AS DOUBLE)) AS dp
        |  FROM (SELECT CAST(16 * (1 << k) AS BIGINT) AS nh
        |      FROM (SELECT unnest(generate_series(0, 6)) AS k)) nn,
        |    (SELECT unnest(generate_series(1, 1024)) AS b) bs
        |  WHERE b <= nh AND nh % b = 0),
        |pernh AS (SELECT nh, min(CASE WHEN dp >= 80 / 100.0 THEN b END)
        |    AS pb FROM ladder GROUP BY nh),
        |qual AS (SELECT l.nh, l.b, l.rpb FROM pernh p JOIN ladder l
        |    ON l.nh = p.nh AND l.b = p.pb
        |  WHERE p.pb IS NOT NULL AND NOT (p.nh = 16 AND p.pb = 4)
        |  ORDER BY p.nh LIMIT 1),
        |newp AS (SELECT
        |    CAST(coalesce((SELECT nh FROM qual), 1024) AS BIGINT) AS nnh,
        |    CAST(coalesce((SELECT b FROM qual), 1024) AS BIGINT) AS nb,
        |    CAST(coalesce((SELECT rpb FROM qual), 1) AS BIGINT) AS nr),
        |fin AS (SELECT d.n_pairs, d.n_detected, d.n_below,
        |    (d.n_pairs > 0 AND d.n_below > 0) AS rp,
        |    np.nnh, np.nb, np.nr FROM dec d, newp np)
        |SELECT CAST(CASE WHEN rp THEN 1 ELSE 0 END AS BIGINT) AS replan,
        |  CAST(CASE WHEN NOT rp THEN 0 WHEN nnh = 16 THEN 1 ELSE 2 END
        |    AS BIGINT) AS action,
        |  n_pairs, n_detected, n_below AS n_buckets_below,
        |  CAST(16 AS BIGINT) AS num_hashes,
        |  CAST(4 AS BIGINT) AS bands,
        |  CAST(4 AS BIGINT) AS rows_per_band,
        |  CASE WHEN rp THEN nnh ELSE 16 END AS new_num_hashes,
        |  CASE WHEN rp THEN nb ELSE 4 END AS new_bands,
        |  CASE WHEN rp THEN nr ELSE 4 END AS new_rows_per_band,
        |  round(1.0 - pow(1.0 - pow(5 / 100.0,
        |    CAST(CASE WHEN rp THEN nr ELSE 4 END AS DOUBLE)),
        |    CAST(CASE WHEN rp THEN nb ELSE 4 END AS DOUBLE)), 6)
        |    AS new_detect_prob
        |FROM fin""".stripMargin,
    "d36_band_replan_reband" ->
      """WITH t0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |src AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, array_to_string(
        |      toks[1:CAST(2 + floor((len(toks) - 2) * 35 / 100.0)
        |        AS BIGINT)], ' ')
        |  FROM t0 WHERE len(toks) >= 9),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM src),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |cappedx AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM cappedx l JOIN cappedx r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b,
        |    i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 30 / 100.0),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, b,
        |    md5(array_to_string(sg[b*4+1:b*4+4], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |cappedb AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM cappedb l JOIN cappedb r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |det AS (SELECT CAST(least(floor(e.j * 10), 9) AS BIGINT) AS jb,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |buck AS (SELECT jb, count(*) AS n, count(d) AS dt
        |  FROM det GROUP BY jb),
        |dec AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 80 * n
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck),
        |ladder AS (SELECT nh, b, CAST(nh // b AS BIGINT) AS rpb,
        |    1.0 - pow(1.0 - pow(30 / 100.0, CAST(nh // b AS DOUBLE)),
        |      CAST(b AS DOUBLE)) AS dp
        |  FROM (SELECT CAST(16 * (1 << k) AS BIGINT) AS nh
        |      FROM (SELECT unnest(generate_series(0, 6)) AS k)) nn,
        |    (SELECT unnest(generate_series(1, 1024)) AS b) bs
        |  WHERE b <= nh AND nh % b = 0),
        |pernh AS (SELECT nh, min(CASE WHEN dp >= 80 / 100.0 THEN b END)
        |    AS pb FROM ladder GROUP BY nh),
        |qual AS (SELECT l.nh, l.b, l.rpb FROM pernh p JOIN ladder l
        |    ON l.nh = p.nh AND l.b = p.pb
        |  WHERE p.pb IS NOT NULL AND NOT (p.nh = 16 AND p.pb = 4)
        |  ORDER BY p.nh LIMIT 1),
        |newp AS (SELECT
        |    CAST(coalesce((SELECT nh FROM qual), 1024) AS BIGINT) AS nnh,
        |    CAST(coalesce((SELECT b FROM qual), 1024) AS BIGINT) AS nb,
        |    CAST(coalesce((SELECT rpb FROM qual), 1) AS BIGINT) AS nr),
        |fin AS (SELECT d.n_pairs, d.n_detected, d.n_below,
        |    (d.n_pairs > 0 AND d.n_below > 0) AS rp,
        |    np.nnh, np.nb, np.nr FROM dec d, newp np)
        |SELECT CAST(CASE WHEN rp THEN 1 ELSE 0 END AS BIGINT) AS replan,
        |  CAST(CASE WHEN NOT rp THEN 0 WHEN nnh = 16 THEN 1 ELSE 2 END
        |    AS BIGINT) AS action,
        |  n_pairs, n_detected, n_below AS n_buckets_below,
        |  CAST(16 AS BIGINT) AS num_hashes,
        |  CAST(4 AS BIGINT) AS bands,
        |  CAST(4 AS BIGINT) AS rows_per_band,
        |  CASE WHEN rp THEN nnh ELSE 16 END AS new_num_hashes,
        |  CASE WHEN rp THEN nb ELSE 4 END AS new_bands,
        |  CASE WHEN rp THEN nr ELSE 4 END AS new_rows_per_band,
        |  round(1.0 - pow(1.0 - pow(30 / 100.0,
        |    CAST(CASE WHEN rp THEN nr ELSE 4 END AS DOUBLE)),
        |    CAST(CASE WHEN rp THEN nb ELSE 4 END AS DOUBLE)), 6)
        |    AS new_detect_prob
        |FROM fin""".stripMargin,
    "d35_band_replan_keep" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |cappedx AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM cappedx l JOIN cappedx r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b,
        |    i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 50 / 100.0),
        |sig AS (SELECT doc_id, list_transform(generate_series(0, 15),
        |      seed -> list_min(list_transform(s, x ->
        |      ((CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)
        |        % 1073741824) * (2654435761 + 80906 * seed) + seed)
        |      % 1073741824))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |banded AS (SELECT doc_id, b,
        |    md5(array_to_string(sg[b*2+1:b*2+2], '|')) AS key
        |  FROM sig, (SELECT unnest(generate_series(0, 7)) AS b) t),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |cappedb AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM cappedb l JOIN cappedb r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |det AS (SELECT CAST(least(floor(e.j * 10), 9) AS BIGINT) AS jb,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |buck AS (SELECT jb, count(*) AS n, count(d) AS dt
        |  FROM det GROUP BY jb),
        |dec AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 80 * n
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck),
        |ladder AS (SELECT nh, b, CAST(nh // b AS BIGINT) AS rpb,
        |    1.0 - pow(1.0 - pow(50 / 100.0, CAST(nh // b AS DOUBLE)),
        |      CAST(b AS DOUBLE)) AS dp
        |  FROM (SELECT CAST(16 * (1 << k) AS BIGINT) AS nh
        |      FROM (SELECT unnest(generate_series(0, 6)) AS k)) nn,
        |    (SELECT unnest(generate_series(1, 1024)) AS b) bs
        |  WHERE b <= nh AND nh % b = 0),
        |pernh AS (SELECT nh, min(CASE WHEN dp >= 80 / 100.0 THEN b END)
        |    AS pb FROM ladder GROUP BY nh),
        |qual AS (SELECT l.nh, l.b, l.rpb FROM pernh p JOIN ladder l
        |    ON l.nh = p.nh AND l.b = p.pb
        |  WHERE p.pb IS NOT NULL AND NOT (p.nh = 16 AND p.pb = 8)
        |  ORDER BY p.nh LIMIT 1),
        |newp AS (SELECT
        |    CAST(coalesce((SELECT nh FROM qual), 1024) AS BIGINT) AS nnh,
        |    CAST(coalesce((SELECT b FROM qual), 1024) AS BIGINT) AS nb,
        |    CAST(coalesce((SELECT rpb FROM qual), 1) AS BIGINT) AS nr),
        |fin AS (SELECT d.n_pairs, d.n_detected, d.n_below,
        |    (d.n_pairs > 0 AND d.n_below > 0) AS rp,
        |    np.nnh, np.nb, np.nr FROM dec d, newp np)
        |SELECT CAST(CASE WHEN rp THEN 1 ELSE 0 END AS BIGINT) AS replan,
        |  CAST(CASE WHEN NOT rp THEN 0 WHEN nnh = 16 THEN 1 ELSE 2 END
        |    AS BIGINT) AS action,
        |  n_pairs, n_detected, n_below AS n_buckets_below,
        |  CAST(16 AS BIGINT) AS num_hashes,
        |  CAST(8 AS BIGINT) AS bands,
        |  CAST(2 AS BIGINT) AS rows_per_band,
        |  CASE WHEN rp THEN nnh ELSE 16 END AS new_num_hashes,
        |  CASE WHEN rp THEN nb ELSE 8 END AS new_bands,
        |  CASE WHEN rp THEN nr ELSE 2 END AS new_rows_per_band,
        |  round(1.0 - pow(1.0 - pow(50 / 100.0,
        |    CAST(CASE WHEN rp THEN nr ELSE 2 END AS DOUBLE)),
        |    CAST(CASE WHEN rp THEN nb ELSE 8 END AS DOUBLE)), 6)
        |    AS new_detect_prob
        |FROM fin""".stripMargin,
    "sim21_cell_drift_windowed" ->
      """WITH fit AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 <> 0),
        |inc AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v,
        |    1704067200 + vec_id % 180 AS es
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 = 0),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM fit),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM fit) WHERE rn <= (SELECT c FROM nc)),
        |af AS (SELECT cell, count(*) AS n_fit,
        |    round(avg(cs), 6) AS mean_cos_fit FROM (
        |    SELECT f.item_id, ct.cell,
        |      round(list_cosine_similarity(f.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY f.item_id
        |        ORDER BY list_cosine_similarity(f.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM fit f CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |an AS (SELECT ws, cell, count(*) AS n_new,
        |    round(sum(cs), 6) / count(*) AS mean_cos_new FROM (
        |    SELECT i.item_id, i.es // 60 * 60 AS ws, ct.cell,
        |      round(list_cosine_similarity(i.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY i.item_id
        |        ORDER BY list_cosine_similarity(i.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM inc i CROSS JOIN cent ct) WHERE rn = 1 GROUP BY ws, cell)
        |SELECT CAST(ws AS BIGINT) AS window_start_s,
        |  CAST(ws + 60 AS BIGINT) AS window_end_s,
        |  CAST(an.cell AS BIGINT) AS cell, n_new, mean_cos_new,
        |  n_fit, mean_cos_fit,
        |  mean_cos_new - mean_cos_fit AS cos_drift
        |FROM an LEFT JOIN af ON an.cell = af.cell""".stripMargin,
    "sim22_refit_policy" ->
      """WITH fit AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 <> 0),
        |inc AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 = 0),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM fit),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM fit) WHERE rn <= (SELECT c FROM nc)),
        |af AS (SELECT cell, count(*) AS n_fit,
        |    round(avg(cs), 6) AS mean_cos_fit FROM (
        |    SELECT f.item_id, ct.cell,
        |      round(list_cosine_similarity(f.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY f.item_id
        |        ORDER BY list_cosine_similarity(f.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM fit f CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |an AS (SELECT cell, count(*) AS n_new,
        |    round(avg(cs), 6) AS mean_cos_new FROM (
        |    SELECT i.item_id, ct.cell,
        |      round(list_cosine_similarity(i.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY i.item_id
        |        ORDER BY list_cosine_similarity(i.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM inc i CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |audit AS (SELECT coalesce(af.cell, an.cell) AS cell,
        |    coalesce(n_fit, 0) AS n_fit, coalesce(n_new, 0) AS n_new,
        |    round(mean_cos_new - mean_cos_fit, 6) AS cos_drift
        |  FROM af FULL OUTER JOIN an ON af.cell = an.cell),
        |dec AS (SELECT
        |    CASE WHEN sum(n_new) > 0
        |      AND (SELECT c FROM nc) * max(n_new) >= 3 * sum(n_new)
        |      THEN 1 ELSE 0 END AS skew,
        |    coalesce(max(CASE WHEN n_new >= 5
        |      AND CAST(round(cos_drift * 1000000) AS BIGINT) <= -20000
        |      THEN 1 ELSE 0 END), 0) AS drift
        |  FROM audit),
        |r AS (SELECT CASE WHEN skew = 1 OR drift = 1 THEN 1 ELSE 0 END
        |    AS refit, skew, drift FROM dec),
        |src AS (SELECT item_id FROM fit
        |  UNION ALL SELECT item_id FROM inc
        |    WHERE (SELECT refit FROM r) = 1),
        |sc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM src),
        |pulled AS (SELECT item_id, row_number() OVER (
        |    ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |  FROM src)
        |SELECT CAST((SELECT refit FROM r) AS BIGINT) AS refit,
        |  CAST((SELECT skew FROM r) AS BIGINT) AS skew_trigger,
        |  CAST((SELECT drift FROM r) AS BIGINT) AS drift_trigger,
        |  CAST((SELECT c FROM sc) AS BIGINT) AS n_cells,
        |  CAST(rn - 1 AS BIGINT) AS cell, item_id AS centroid_id
        |FROM pulled WHERE rn <= (SELECT c FROM sc)""".stripMargin,
    "sim23_refit_noop" ->
      """WITH fit AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 <> 0),
        |inc AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id % 5 = 0),
        |nc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM fit),
        |cent AS (SELECT rn - 1 AS cell, v AS cv FROM (
        |    SELECT v, row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |    FROM fit) WHERE rn <= (SELECT c FROM nc)),
        |af AS (SELECT cell, count(*) AS n_fit,
        |    round(avg(cs), 6) AS mean_cos_fit FROM (
        |    SELECT f.item_id, ct.cell,
        |      round(list_cosine_similarity(f.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY f.item_id
        |        ORDER BY list_cosine_similarity(f.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM fit f CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |an AS (SELECT cell, count(*) AS n_new,
        |    round(avg(cs), 6) AS mean_cos_new FROM (
        |    SELECT i.item_id, ct.cell,
        |      round(list_cosine_similarity(i.v, ct.cv), 6) AS cs,
        |      row_number() OVER (PARTITION BY i.item_id
        |        ORDER BY list_cosine_similarity(i.v, ct.cv) DESC, ct.cell)
        |        AS rn
        |    FROM inc i CROSS JOIN cent ct) WHERE rn = 1 GROUP BY cell),
        |audit AS (SELECT coalesce(af.cell, an.cell) AS cell,
        |    coalesce(n_fit, 0) AS n_fit, coalesce(n_new, 0) AS n_new,
        |    round(mean_cos_new - mean_cos_fit, 6) AS cos_drift
        |  FROM af FULL OUTER JOIN an ON af.cell = an.cell),
        |dec AS (SELECT
        |    CASE WHEN sum(n_new) > 0
        |      AND (SELECT c FROM nc) * max(n_new) >= 3 * sum(n_new)
        |      THEN 1 ELSE 0 END AS skew,
        |    coalesce(max(CASE WHEN n_new >= 5
        |      AND CAST(round(cos_drift * 1000000) AS BIGINT) <= -100000
        |      THEN 1 ELSE 0 END), 0) AS drift
        |  FROM audit),
        |r AS (SELECT CASE WHEN skew = 1 OR drift = 1 THEN 1 ELSE 0 END
        |    AS refit, skew, drift FROM dec),
        |src AS (SELECT item_id FROM fit
        |  UNION ALL SELECT item_id FROM inc
        |    WHERE (SELECT refit FROM r) = 1),
        |sc AS (SELECT least(4096, (count(*) + 63) // 64) AS c FROM src),
        |pulled AS (SELECT item_id, row_number() OVER (
        |    ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |  FROM src)
        |SELECT CAST((SELECT refit FROM r) AS BIGINT) AS refit,
        |  CAST((SELECT skew FROM r) AS BIGINT) AS skew_trigger,
        |  CAST((SELECT drift FROM r) AS BIGINT) AS drift_trigger,
        |  CAST((SELECT c FROM sc) AS BIGINT) AS n_cells,
        |  CAST(rn - 1 AS BIGINT) AS cell, item_id AS centroid_id
        |FROM pulled WHERE rn <= (SELECT c FROM sc)""".stripMargin,
    "d37_sign_plan_audit" ->
      """WITH spl AS (SELECT CAST(coalesce(min(CASE WHEN
        |      1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(), 16 // b), b)
        |      >= 80 / 100.0 THEN b END), 16) AS BIGINT) AS bands
        |  FROM (SELECT unnest(generate_series(1, 16)) AS b)
        |  WHERE 16 % b = 0),
        |pw AS (SELECT bands, CAST(16 // bands AS BIGINT) AS w FROM spl),
        |hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 15)) AS b)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
        |bits AS (SELECT vec_id, b // pw.w AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % pw.w AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper CROSS JOIN pw),
        |bk AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, band),
        |capped AS (SELECT vec_id, band, key FROM (
        |    SELECT vec_id, band, key,
        |      count(*) OVER (PARTITION BY band, key) AS c FROM bk)
        |  WHERE c <= 2000),
        |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id),
        |exact AS (SELECT id_a, id_b, c FROM (
        |    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |      round(list_cosine_similarity(l.v, r.v), 6) AS c
        |    FROM e l JOIN e r ON l.vec_id < r.vec_id)
        |  WHERE c >= 10 / 100.0),
        |det AS (SELECT CAST(least(floor(x.c * 10), 9) AS BIGINT) AS cb,
        |    CASE WHEN cd.id_a IS NOT NULL THEN 1 END AS d
        |  FROM exact x LEFT JOIN cand cd
        |    ON x.id_a = cd.id_a AND x.id_b = cd.id_b),
        |agg AS (SELECT cb, count(*) AS n_pairs, count(d) AS n_detected
        |  FROM det GROUP BY cb)
        |SELECT cb AS c_bucket, n_pairs, n_detected,
        |  n_detected * 1.0 / n_pairs AS detect_rate,
        |  round(1.0 - pow(1.0 - pow(1.0 - acos((cb + 0.5) / 10.0) / pi(),
        |    (SELECT w FROM pw)), (SELECT bands FROM pw)), 6)
        |    AS predicted_prob,
        |  (SELECT bands FROM pw) AS bands,
        |  (SELECT w FROM pw) AS width
        |FROM agg""".stripMargin,
    "d38_simhash_plan_audit" ->
      """WITH doc AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |n AS (SELECT count(*) AS n FROM doc),
        |w AS (SELECT least(16, length(bin(((n.n + 49) // 50) - 1))) AS w
        |  FROM n),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM doc)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM toks),
        |banded AS (SELECT doc_id, b,
        |    (CASE b WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |            WHEN 2 THEN hi ELSE hi >> 16 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |exact AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |      AS BIGINT) AS h
        |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |  WHERE bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |    <= 12),
        |det AS (SELECT e.h, CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |agg AS (SELECT h, count(*) AS n_pairs, count(d) AS n_detected
        |  FROM det GROUP BY h),
        |bn AS (SELECT nn, kk, CASE WHEN kk > nn THEN 0 ELSE
        |    CAST(round(exp(lgamma(nn + 1.0) - lgamma(kk + 1.0)
        |      - lgamma(abs(nn - kk) + 1.0))) AS BIGINT) END AS v
        |  FROM (SELECT unnest(generate_series(0, 64)) AS nn),
        |    (SELECT unnest(generate_series(0, 12)) AS kk)),
        |pred AS (SELECT hh.h, round((
        |      (SELECT v FROM bn WHERE nn = 64 - w.w AND kk = hh.h) * 4
        |    - (SELECT v FROM bn WHERE nn = 64 - 2 * w.w AND kk = hh.h) * 6
        |    + (SELECT v FROM bn WHERE nn = 64 - 3 * w.w AND kk = hh.h) * 4
        |    - (SELECT v FROM bn WHERE nn = 64 - 4 * w.w AND kk = hh.h))
        |    * 1.0 / (SELECT v FROM bn WHERE nn = 64 AND kk = hh.h), 6)
        |    AS p
        |  FROM (SELECT unnest(generate_series(0, 12)) AS h) hh, w)
        |SELECT agg.h AS h_bucket, agg.n_pairs, agg.n_detected,
        |  agg.n_detected * 1.0 / agg.n_pairs AS detect_rate,
        |  pred.p AS predicted_prob,
        |  CAST(4 AS BIGINT) AS bands, CAST(w.w AS BIGINT) AS width
        |FROM agg JOIN pred ON pred.h = agg.h, w""".stripMargin,
    "d39_sign_replan" ->
      """WITH hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 15)) AS b)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
        |bits AS (SELECT vec_id, b // 8 AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % 8 AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper),
        |bk AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, band),
        |capped AS (SELECT vec_id, band, key FROM (
        |    SELECT vec_id, band, key,
        |      count(*) OVER (PARTITION BY band, key) AS c FROM bk)
        |  WHERE c <= 2000),
        |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id),
        |exact AS (SELECT id_a, id_b, c FROM (
        |    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |      round(list_cosine_similarity(l.v, r.v), 6) AS c
        |    FROM e l JOIN e r ON l.vec_id < r.vec_id)
        |  WHERE c >= 40 / 100.0),
        |det AS (SELECT CAST(least(floor(x.c * 10), 9) AS BIGINT) AS cb,
        |    CASE WHEN cd.id_a IS NOT NULL THEN 1 END AS d
        |  FROM exact x LEFT JOIN cand cd
        |    ON x.id_a = cd.id_a AND x.id_b = cd.id_b),
        |buck AS (SELECT cb, count(*) AS n, count(d) AS dt
        |  FROM det GROUP BY cb),
        |dec AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 80 * n
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck),
        |ladder AS (SELECT nb, b, CAST(nb // b AS BIGINT) AS w,
        |    1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |      CAST(nb // b AS DOUBLE)), CAST(b AS DOUBLE)) AS dp
        |  FROM (SELECT CAST(16 * (1 << k) AS BIGINT) AS nb
        |      FROM (SELECT unnest(generate_series(0, 6)) AS k)) nn,
        |    (SELECT unnest(generate_series(1, 1024)) AS b) bs
        |  WHERE b <= nb AND nb % b = 0),
        |pernb AS (SELECT nb, min(CASE WHEN dp >= 80 / 100.0 THEN b END)
        |    AS pb FROM ladder GROUP BY nb),
        |qual AS (SELECT l.nb, l.b, l.w FROM pernb p JOIN ladder l
        |    ON l.nb = p.nb AND l.b = p.pb
        |  WHERE p.pb IS NOT NULL AND NOT (p.nb = 16 AND p.pb = 2)
        |  ORDER BY p.nb LIMIT 1),
        |newp AS (SELECT
        |    CAST(coalesce((SELECT nb FROM qual), 1024) AS BIGINT) AS nnb,
        |    CAST(coalesce((SELECT b FROM qual), 1024) AS BIGINT) AS nbb,
        |    CAST(coalesce((SELECT w FROM qual), 1) AS BIGINT) AS nw),
        |fin AS (SELECT d.n_pairs, d.n_detected, d.n_below,
        |    (d.n_pairs > 0 AND d.n_below > 0) AS rp,
        |    np.nnb, np.nbb, np.nw FROM dec d, newp np)
        |SELECT CAST(CASE WHEN rp THEN 1 ELSE 0 END AS BIGINT) AS replan,
        |  CAST(CASE WHEN NOT rp THEN 0 WHEN nnb = 16 THEN 1 ELSE 2 END
        |    AS BIGINT) AS action,
        |  n_pairs, n_detected, n_below AS n_buckets_below,
        |  CAST(16 AS BIGINT) AS n_bits,
        |  CAST(2 AS BIGINT) AS bands,
        |  CAST(8 AS BIGINT) AS width,
        |  CASE WHEN rp THEN nnb ELSE 16 END AS new_n_bits,
        |  CASE WHEN rp THEN nbb ELSE 2 END AS new_bands,
        |  CASE WHEN rp THEN nw ELSE 8 END AS new_width,
        |  round(1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |    CAST(CASE WHEN rp THEN nw ELSE 8 END AS DOUBLE)),
        |    CAST(CASE WHEN rp THEN nbb ELSE 2 END AS DOUBLE)), 6)
        |    AS new_detect_prob
        |FROM fin""".stripMargin,
    "d40_sign_replan_keep" ->
      """WITH hyper AS (
        |  SELECT b, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN substring(md5(d::VARCHAR || '§' || b::VARCHAR), 1, 1)
        |      >= '8' THEN 1.0 ELSE -1.0 END) AS h
        |  FROM (SELECT unnest(generate_series(0, 15)) AS b)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
        |bits AS (SELECT vec_id, b // 2 AS band,
        |    CASE WHEN list_dot_product(v, h) >= 0
        |      THEN (1::BIGINT << CAST(b % 2 AS INT)) ELSE 0 END AS bit
        |  FROM e CROSS JOIN hyper),
        |bk AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS key
        |  FROM bits GROUP BY vec_id, band),
        |capped AS (SELECT vec_id, band, key FROM (
        |    SELECT vec_id, band, key,
        |      count(*) OVER (PARTITION BY band, key) AS c FROM bk)
        |  WHERE c <= 2000),
        |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id),
        |exact AS (SELECT id_a, id_b, c FROM (
        |    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |      round(list_cosine_similarity(l.v, r.v), 6) AS c
        |    FROM e l JOIN e r ON l.vec_id < r.vec_id)
        |  WHERE c >= 40 / 100.0),
        |det AS (SELECT CAST(least(floor(x.c * 10), 9) AS BIGINT) AS cb,
        |    CASE WHEN cd.id_a IS NOT NULL THEN 1 END AS d
        |  FROM exact x LEFT JOIN cand cd
        |    ON x.id_a = cd.id_a AND x.id_b = cd.id_b),
        |buck AS (SELECT cb, count(*) AS n, count(d) AS dt
        |  FROM det GROUP BY cb),
        |dec AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 80 * n
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck),
        |ladder AS (SELECT nb, b, CAST(nb // b AS BIGINT) AS w,
        |    1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |      CAST(nb // b AS DOUBLE)), CAST(b AS DOUBLE)) AS dp
        |  FROM (SELECT CAST(16 * (1 << k) AS BIGINT) AS nb
        |      FROM (SELECT unnest(generate_series(0, 6)) AS k)) nn,
        |    (SELECT unnest(generate_series(1, 1024)) AS b) bs
        |  WHERE b <= nb AND nb % b = 0),
        |pernb AS (SELECT nb, min(CASE WHEN dp >= 80 / 100.0 THEN b END)
        |    AS pb FROM ladder GROUP BY nb),
        |qual AS (SELECT l.nb, l.b, l.w FROM pernb p JOIN ladder l
        |    ON l.nb = p.nb AND l.b = p.pb
        |  WHERE p.pb IS NOT NULL AND NOT (p.nb = 16 AND p.pb = 8)
        |  ORDER BY p.nb LIMIT 1),
        |newp AS (SELECT
        |    CAST(coalesce((SELECT nb FROM qual), 1024) AS BIGINT) AS nnb,
        |    CAST(coalesce((SELECT b FROM qual), 1024) AS BIGINT) AS nbb,
        |    CAST(coalesce((SELECT w FROM qual), 1) AS BIGINT) AS nw),
        |fin AS (SELECT d.n_pairs, d.n_detected, d.n_below,
        |    (d.n_pairs > 0 AND d.n_below > 0) AS rp,
        |    np.nnb, np.nbb, np.nw FROM dec d, newp np)
        |SELECT CAST(CASE WHEN rp THEN 1 ELSE 0 END AS BIGINT) AS replan,
        |  CAST(CASE WHEN NOT rp THEN 0 WHEN nnb = 16 THEN 1 ELSE 2 END
        |    AS BIGINT) AS action,
        |  n_pairs, n_detected, n_below AS n_buckets_below,
        |  CAST(16 AS BIGINT) AS n_bits,
        |  CAST(8 AS BIGINT) AS bands,
        |  CAST(2 AS BIGINT) AS width,
        |  CASE WHEN rp THEN nnb ELSE 16 END AS new_n_bits,
        |  CASE WHEN rp THEN nbb ELSE 8 END AS new_bands,
        |  CASE WHEN rp THEN nw ELSE 2 END AS new_width,
        |  round(1.0 - pow(1.0 - pow(1.0 - acos(40 / 100.0) / pi(),
        |    CAST(CASE WHEN rp THEN nw ELSE 2 END AS DOUBLE)),
        |    CAST(CASE WHEN rp THEN nbb ELSE 8 END AS DOUBLE)), 6)
        |    AS new_detect_prob
        |FROM fin""".stripMargin,
    "d41_simhash_widen" ->
      """WITH doc AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |n AS (SELECT count(*) AS n FROM doc),
        |w AS (SELECT least(16, length(bin(((n.n + 49) // 50) - 1))) AS w
        |  FROM n),
        |nw AS (SELECT least(24, length(bin(((n.n + 49) // 50) - 1))) AS w2
        |  FROM n),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM doc)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM toks),
        |banded AS (SELECT doc_id, b,
        |    (CASE b WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |            WHEN 2 THEN hi ELSE hi >> 16 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |exact AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |      AS BIGINT) AS h
        |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |  WHERE bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |    <= 3),
        |det AS (SELECT e.h, CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |buck AS (SELECT h, count(*) AS n2, count(d) AS dt
        |  FROM det GROUP BY h),
        |dec AS (SELECT CAST(coalesce(sum(n2), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 99 * n2
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck)
        |SELECT CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS widen,
        |  d.n_pairs, d.n_detected, d.n_below AS n_buckets_below,
        |  CAST(64 AS BIGINT) AS sig_bits,
        |  CAST(4 AS BIGINT) AS bands,
        |  CAST(w.w AS BIGINT) AS band_width,
        |  CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN 128 ELSE 64 END AS BIGINT) AS new_sig_bits,
        |  CAST(4 AS BIGINT) AS new_bands,
        |  CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN nw.w2 ELSE w.w END AS BIGINT) AS new_band_width
        |FROM dec d, w, nw""".stripMargin,
    "d42_simhash_widen_keep" ->
      """WITH doc AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |n AS (SELECT count(*) AS n FROM doc),
        |w AS (SELECT least(16, length(bin(((n.n + 49) // 50) - 1))) AS w
        |  FROM n),
        |nw AS (SELECT least(24, length(bin(((n.n + 49) // 50) - 1))) AS w2
        |  FROM n),
        |toks AS (
        |  SELECT doc_id, list(md5(t)) AS hs FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS t
        |    FROM doc)
        |  GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN substring(h, b+1, 1) IN
        |          ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM toks),
        |banded AS (SELECT doc_id, b,
        |    (CASE b WHEN 0 THEN lo WHEN 1 THEN lo >> 16
        |            WHEN 2 THEN hi ELSE hi >> 16 END)
        |      & ((1::BIGINT << w.w) - 1) AS key
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t, w),
        |hot AS (SELECT b, key FROM banded GROUP BY b, key
        |  HAVING count(*) > 1000),
        |capped AS (SELECT banded.* FROM banded
        |  WHERE NOT EXISTS (SELECT 1 FROM hot
        |    WHERE hot.b = banded.b AND hot.key = banded.key)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM capped l JOIN capped r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
        |exact AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |      AS BIGINT) AS h
        |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |  WHERE bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
        |    <= 3),
        |det AS (SELECT e.h, CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS d
        |  FROM exact e LEFT JOIN cand c
        |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b),
        |buck AS (SELECT h, count(*) AS n2, count(d) AS dt
        |  FROM det GROUP BY h),
        |dec AS (SELECT CAST(coalesce(sum(n2), 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(dt), 0) AS BIGINT) AS n_detected,
        |    CAST(coalesce(sum(CASE WHEN dt * 100 < 99 * n2
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below
        |  FROM buck)
        |SELECT CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS widen,
        |  d.n_pairs, d.n_detected, d.n_below AS n_buckets_below,
        |  CAST(64 AS BIGINT) AS sig_bits,
        |  CAST(4 AS BIGINT) AS bands,
        |  CAST(w.w AS BIGINT) AS band_width,
        |  CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN 128 ELSE 64 END AS BIGINT) AS new_sig_bits,
        |  CAST(4 AS BIGINT) AS new_bands,
        |  CAST(CASE WHEN d.n_pairs > 0 AND d.n_below > 0
        |    THEN nw.w2 ELSE w.w END AS BIGINT) AS new_band_width
        |FROM dec d, w, nw""".stripMargin,
    "a37_hll_error_bound" ->
      """SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact,
        |  CAST(CASE WHEN abs(approx_count_distinct(md5(text))
        |      - count(DISTINCT md5(text))) * 100
        |    <= count(DISTINCT md5(text)) * 20 THEN 1 ELSE 0 END AS BIGINT)
        |    AS within_bound
        |FROM documents GROUP BY source""".stripMargin,
    "a43_gk_rank_bound" ->
      """WITH est AS (SELECT o_orderpriority,
        |    approx_quantile(o_totalprice, 0.5) AS m, count(*) AS n
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT e.o_orderpriority, CAST(e.n AS BIGINT) AS n,
        |  CAST(CASE WHEN abs(2 * (SELECT count(*) FROM orders o
        |      WHERE o.o_orderpriority = e.o_orderpriority
        |        AND o.o_totalprice <= e.m) - e.n) * 10 <= e.n
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM est e""".stripMargin,
    "a44_kmv_error_bound" ->
      """WITH ev AS (SELECT user_id, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |ex AS (SELECT CAST(sum(c) AS BIGINT) AS n_click,
        |    CAST(sum(p) AS BIGINT) AS n_purchase,
        |    CAST(sum(c * p) AS BIGINT) AS n_overlap FROM (
        |    SELECT user_id,
        |      max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |    FROM ev GROUP BY user_id)),
        |ap AS (SELECT
        |    approx_count_distinct(CASE WHEN event_type = 'click'
        |      THEN user_id END) AS ac,
        |    approx_count_distinct(CASE WHEN event_type = 'purchase'
        |      THEN user_id END) AS apu,
        |    approx_count_distinct(user_id) AS au FROM ev)
        |SELECT ex.n_click, ex.n_purchase, ex.n_overlap,
        |  CAST(CASE WHEN abs(ap.ac - ex.n_click) * 10 <= ex.n_click
        |    AND abs(ap.apu - ex.n_purchase) * 10 <= ex.n_purchase
        |    AND abs((ap.ac + ap.apu - ap.au) - ex.n_overlap) * 10
        |      <= ex.n_overlap
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM ex, ap""".stripMargin,
    "t39_cms_error_bound" ->
      """WITH tk AS (SELECT list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t FROM documents),
        |c AS (SELECT token, count(*) AS n_exact
        |  FROM (SELECT unnest(t) AS token FROM tk) GROUP BY token)
        |SELECT token, n_exact, CAST(1 AS BIGINT) AS within_bound
        |FROM c ORDER BY n_exact DESC, token LIMIT 30""".stripMargin,
    "sim27_lsh_recall_floor" ->
      """WITH brute AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(1 AS BIGINT) AS above_floor
        |FROM brute""".stripMargin,
    "sim28_ivf_recall_floor" ->
      """WITH brute AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(1 AS BIGINT) AS above_floor
        |FROM brute""".stripMargin,
    "sim29_kmeans_recall_floor" ->
      """WITH brute AS (SELECT query_id, item_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS item_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rank <= 5)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(1 AS BIGINT) AS above_floor
        |FROM brute""".stripMargin,
    "d43_minhash_fast_floor" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 30 / 100.0)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(1 AS BIGINT) AS above_floor
        |FROM exact""".stripMargin,
    "d44_simhash_fast_floor" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(0, len(toks) - 3),
        |      i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s FROM tk),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |capped AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS c
        |    FROM inv) WHERE c <= 1000),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |    count(*) AS i
        |  FROM capped l JOIN capped r
        |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT doc_a, doc_b
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 30 / 100.0)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(1 AS BIGINT) AS above_floor
        |FROM exact""".stripMargin,
    "v9_pq_trained_bound" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cb AS (SELECT cidx, cv FROM (SELECT
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      vec_id) - 1 AS cidx, v AS cv FROM e) WHERE cidx < 4),
        |d AS (SELECT e.vec_id, s.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (v[s.sub * 16 + j] - cv[s.sub * 16 + j])
        |      * (v[s.sub * 16 + j] - cv[s.sub * 16 + j]))), 6) AS dist
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
        |  CROSS JOIN cb),
        |pick AS (SELECT vec_id, sub, dist, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, cidx) AS rn FROM d),
        |err AS (SELECT vec_id, round(sum(dist), 6) AS e2
        |  FROM pick WHERE rn = 1 GROUP BY vec_id),
        |st AS (SELECT count(*) AS n, round(sum(e2), 6) AS s FROM err)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(round(s / n * 1000000) AS BIGINT) / 1000000.0
        |    AS mean_err_untrained,
        |  CAST(1 AS BIGINT) AS trained_not_worse
        |FROM st""".stripMargin,
    "sim24_pq_refit" ->
      """WITH base AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |fit AS (SELECT item_id, v FROM base WHERE item_id % 5 <> 0),
        |inc AS (SELECT item_id, list_transform(v, x -> x * 2.0) AS v
        |  FROM base WHERE item_id % 5 = 0),
        |cb AS (SELECT cidx, cv FROM (SELECT row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) - 1
        |      AS cidx, v AS cv FROM fit) WHERE cidx < 4),
        |allv AS (SELECT 'f' AS side, item_id, v FROM fit
        |  UNION ALL SELECT 'n', item_id, v FROM inc),
        |d AS (SELECT a.side, a.item_id, s.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j])
        |      * (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j]))), 6) AS dist
        |  FROM allv a CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
        |  CROSS JOIN cb),
        |pick AS (SELECT side, item_id, sub, dist, row_number() OVER (
        |    PARTITION BY side, item_id, sub ORDER BY dist, cidx) AS rn
        |  FROM d),
        |err AS (SELECT side, item_id, round(sum(dist), 6) AS e
        |  FROM pick WHERE rn = 1 GROUP BY side, item_id),
        |st AS (SELECT side, count(*) AS n, round(sum(e), 6) AS s
        |  FROM err GROUP BY side),
        |dec AS (SELECT
        |    CAST(coalesce((SELECT n FROM st WHERE side = 'f'), 0)
        |      AS BIGINT) AS n_fit,
        |    CAST(coalesce((SELECT n FROM st WHERE side = 'n'), 0)
        |      AS BIGINT) AS n_new,
        |    CAST(round(coalesce((SELECT s / n FROM st WHERE side = 'f'),
        |      0.0) * 1000000) AS BIGINT) AS mf,
        |    CAST(round(coalesce((SELECT s / n FROM st WHERE side = 'n'),
        |      0.0) * 1000000) AS BIGINT) AS mn_),
        |r AS (SELECT n_fit, n_new, mf, mn_,
        |    CASE WHEN n_new > 0 AND mn_ > 0 AND 100 * mn_ >= 150 * mf
        |      THEN 1 ELSE 0 END AS refit FROM dec),
        |src AS (SELECT item_id FROM fit
        |  UNION ALL SELECT item_id FROM inc
        |    WHERE (SELECT refit FROM r) = 1),
        |pulled AS (SELECT item_id, row_number() OVER (
        |    ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |  FROM src)
        |SELECT CAST((SELECT refit FROM r) AS BIGINT) AS refit,
        |  (SELECT n_fit FROM r) AS n_fit,
        |  (SELECT n_new FROM r) AS n_new,
        |  (SELECT mf FROM r) / 1000000.0 AS mean_err_fit,
        |  (SELECT mn_ FROM r) / 1000000.0 AS mean_err_new,
        |  CAST(rn - 1 AS BIGINT) AS cb_rank, item_id AS cb_item_id
        |FROM pulled WHERE rn <= 4""".stripMargin,
    "sim25_pq_keep" ->
      """WITH base AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |fit AS (SELECT item_id, v FROM base WHERE item_id % 5 <> 0),
        |inc AS (SELECT item_id, v FROM base WHERE item_id % 5 = 0),
        |cb AS (SELECT cidx, cv FROM (SELECT row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) - 1
        |      AS cidx, v AS cv FROM fit) WHERE cidx < 4),
        |allv AS (SELECT 'f' AS side, item_id, v FROM fit
        |  UNION ALL SELECT 'n', item_id, v FROM inc),
        |d AS (SELECT a.side, a.item_id, s.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j])
        |      * (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j]))), 6) AS dist
        |  FROM allv a CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
        |  CROSS JOIN cb),
        |pick AS (SELECT side, item_id, sub, dist, row_number() OVER (
        |    PARTITION BY side, item_id, sub ORDER BY dist, cidx) AS rn
        |  FROM d),
        |err AS (SELECT side, item_id, round(sum(dist), 6) AS e
        |  FROM pick WHERE rn = 1 GROUP BY side, item_id),
        |st AS (SELECT side, count(*) AS n, round(sum(e), 6) AS s
        |  FROM err GROUP BY side),
        |dec AS (SELECT
        |    CAST(coalesce((SELECT n FROM st WHERE side = 'f'), 0)
        |      AS BIGINT) AS n_fit,
        |    CAST(coalesce((SELECT n FROM st WHERE side = 'n'), 0)
        |      AS BIGINT) AS n_new,
        |    CAST(round(coalesce((SELECT s / n FROM st WHERE side = 'f'),
        |      0.0) * 1000000) AS BIGINT) AS mf,
        |    CAST(round(coalesce((SELECT s / n FROM st WHERE side = 'n'),
        |      0.0) * 1000000) AS BIGINT) AS mn_),
        |r AS (SELECT n_fit, n_new, mf, mn_,
        |    CASE WHEN n_new > 0 AND mn_ > 0 AND 100 * mn_ >= 150 * mf
        |      THEN 1 ELSE 0 END AS refit FROM dec),
        |src AS (SELECT item_id FROM fit
        |  UNION ALL SELECT item_id FROM inc
        |    WHERE (SELECT refit FROM r) = 1),
        |pulled AS (SELECT item_id, row_number() OVER (
        |    ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) AS rn
        |  FROM src)
        |SELECT CAST((SELECT refit FROM r) AS BIGINT) AS refit,
        |  (SELECT n_fit FROM r) AS n_fit,
        |  (SELECT n_new FROM r) AS n_new,
        |  (SELECT mf FROM r) / 1000000.0 AS mean_err_fit,
        |  (SELECT mn_ FROM r) / 1000000.0 AS mean_err_new,
        |  CAST(rn - 1 AS BIGINT) AS cb_rank, item_id AS cb_item_id
        |FROM pulled WHERE rn <= 4""".stripMargin,
    "sim26_pq_distortion_windowed" ->
      """WITH base AS (SELECT vec_id AS item_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |fit AS (SELECT item_id, v FROM base WHERE item_id % 5 <> 0),
        |inc AS (SELECT item_id, v, 1704067200 + item_id % 180 AS es
        |  FROM base WHERE item_id % 5 = 0),
        |cb AS (SELECT cidx, cv FROM (SELECT row_number() OVER (
        |      ORDER BY md5(CAST(item_id AS VARCHAR)), item_id) - 1
        |      AS cidx, v AS cv FROM fit) WHERE cidx < 4),
        |allv AS (SELECT 'f' AS side, item_id, v,
        |    CAST(NULL AS BIGINT) AS es FROM fit
        |  UNION ALL SELECT 'n', item_id, v, es FROM inc),
        |d AS (SELECT a.side, a.item_id, a.es, s.sub, cb.cidx,
        |    round(list_sum(list_transform(range(1, 17), j ->
        |      (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j])
        |      * (a.v[s.sub * 16 + j] - cb.cv[s.sub * 16 + j]))), 6) AS dist
        |  FROM allv a CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
        |  CROSS JOIN cb),
        |pick AS (SELECT side, item_id, es, sub, dist, row_number() OVER (
        |    PARTITION BY side, item_id, sub ORDER BY dist, cidx) AS rn
        |  FROM d),
        |err AS (SELECT side, item_id, es, round(sum(dist), 6) AS e
        |  FROM pick WHERE rn = 1 GROUP BY side, item_id, es),
        |fs AS (SELECT count(*) AS n_fit,
        |    round(sum(e), 6) / count(*) AS mean_err_fit
        |  FROM err WHERE side = 'f'),
        |wn AS (SELECT es // 60 * 60 AS ws, count(*) AS n_new,
        |    round(sum(e), 6) / count(*) AS mean_err_new
        |  FROM err WHERE side = 'n' GROUP BY 1)
        |SELECT CAST(ws AS BIGINT) AS window_start_s,
        |  CAST(ws + 60 AS BIGINT) AS window_end_s,
        |  n_new, mean_err_new,
        |  CAST((SELECT n_fit FROM fs) AS BIGINT) AS n_fit,
        |  (SELECT mean_err_fit FROM fs) AS mean_err_fit,
        |  mean_err_new - (SELECT mean_err_fit FROM fs) AS err_drift
        |FROM wn""".stripMargin,
  )
}
