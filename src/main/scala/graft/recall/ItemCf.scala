package graft.recall

import graft.ops.{PairGen, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Item-item co-occurrence collaborative filtering — the classic
  * neighborhood recall source ("users who took X also took Y";
  * Sarwar et al., WWW 2001) that graph/neural recall stacks like the
  * reference's LightGCN sit on top of (`lightgcn/model.py` learns what
  * this counts directly). One co-occurrence table serves both a recall
  * stage (per-item neighbor lists) and feature engineering (co-count /
  * cosine as ranker inputs).
  *
  * Scale posture: the only quadratic step — within-basket pair
  * generation — is bucket-local over each basket's collected member
  * list, with hyperactive baskets capped ([[PairGen.members]]; a 10k-item
  * basket would otherwise emit 5·10⁷ pairs from one task). Everything
  * else is plain keyed aggregation: candidate cost is
  * O(maxBasket × baskets), never O(items²).
  */
object ItemCf {

  /** Distinct non-null (basket, item) rows as (`__b`, `__i`) — the one
    * definition every miner uses. Nulls (no CF signal) are dropped
    * EXPLICITLY: joins infer isnotnull but windows don't, and that
    * asymmetry made a miner's uses of this distinct differ — one basket
    * shuffle each where ReuseExchange now serves one (r8 audit of m9). */
  private def basketItems(baskets: DataFrame, basket: String,
      item: String): DataFrame =
    baskets.select(col(basket).as("__b"), col(item).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()

  /** Undirected co-occurrence pairs with cosine normalization:
    * `co / sqrt(deg_a · deg_b)` where deg = number of baskets containing
    * the item (cosine over binary basket-membership vectors — rounded to
    * 6 dp for cross-engine-stable downstream ranking). */
  def cooccurrence(baskets: DataFrame, basket: String, item: String,
      maxBasket: Int = 1000, minCo: Long = 1L): DataFrame = {
    val ui = basketItems(baskets, basket, item)
    val deg = ui.groupBy(col("__i")).agg(count(lit(1)).as("__deg"))
    val members = PairGen.members(ui, "__b", col("__i"), maxBasket)
    val pairs = PairGen.pairs(members, "ms", "item_a", "item_b")
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    pairs
      .join(deg.select(col("__i").as("item_a"), col("__deg").as("__da")),
        "item_a")
      .join(deg.select(col("__i").as("item_b"), col("__deg").as("__db")),
        "item_b")
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("co") / sqrt(col("__da").cast("double") * col("__db")), 6)
          .as("cosine"))
  }

  /** Directed view of the undirected [[cooccurrence]] pairs: each pair
    * serves both endpoints — (item, neighbor, co, cosine). */
  def symmetric(co: DataFrame): DataFrame =
    co.select(col("item_a").as("item"),
        col("item_b").as("neighbor"), col("co"), col("cosine"))
      .unionByName(co.select(col("item_b").as("item"),
        col("item_a").as("neighbor"), col("co"), col("cosine")))

  /** Per-item top-k neighbor lists from [[cooccurrence]] output, ranked
    * by (cosine desc, neighbor) — the recall-stage lookup table. */
  def topKNeighbors(co: DataFrame, k: Int): DataFrame =
    TopK.perGroup(symmetric(co), Seq(col("item")),
      Seq(col("cosine").desc, col("neighbor")), k)

  /** Association rules over the same capped basket machinery
    * (Agrawal & Srikant, VLDB 1994, specialized to size-1 antecedents —
    * the form a "frequently bought together" surface actually serves):
    * each co-occurring item pair yields both directed rules a→b and
    * b→a with `support = co / N` (N = distinct baskets),
    * `confidence = co / deg(antecedent)` and
    * `lift = co · N / (deg(a) · deg(b))`. Degrees and N count ALL
    * baskets; only the quadratic pair step runs under the
    * hyperactive-basket cap — identical posture to [[cooccurrence]],
    * so rule mining stays O(maxBasket × baskets) at any scale. N rides
    * a broadcast cross-join (single-row build side). Ratios rounded to
    * 6 dp for cross-engine stability. */
  def associationRules(baskets: DataFrame, basket: String, item: String,
      maxBasket: Int = 1000, minCo: Long = 1L,
      minConfidence: Double = 0.0): DataFrame = {
    val ui = basketItems(baskets, basket, item)
    val deg = ui.groupBy(col("__i")).agg(count(lit(1)).as("__deg"))
    val nB = ui.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__n"))
    val members = PairGen.members(ui, "__b", col("__i"), maxBasket)
    val pairs = PairGen.pairs(members, "ms", "a", "b")
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val directed = pairs.select(col("a").as("antecedent"),
        col("b").as("consequent"), col("co"))
      .unionByName(pairs.select(col("b").as("antecedent"),
        col("a").as("consequent"), col("co")))
    directed
      .join(deg.select(col("__i").as("antecedent"), col("__deg").as("__dA")),
        "antecedent")
      .join(deg.select(col("__i").as("consequent"), col("__deg").as("__dC")),
        "consequent")
      .crossJoin(broadcast(nB))
      .where(col("co") >= col("__dA") * minConfidence)
      .select(col("antecedent"), col("consequent"), col("co"),
        round(col("co") / col("__n").cast("double"), 6).as("support"),
        round(col("co") / col("__dA").cast("double"), 6).as("confidence"),
        round(col("co") * col("__n").cast("double") /
          (col("__dA") * col("__dC")), 6).as("lift"))
  }

  /** Adamic–Adar item-item scoring (Adamic & Adar 2003) — the classic
    * link-prediction baseline on the co-interaction graph: a shared
    * user counts for `1 / ln(basket size)`, so promiscuous users
    * contribute little and selective users a lot — one step up from
    * [[cooccurrence]]'s raw counts, one step simpler than [[swing]]'s
    * user-pair damping (the three span the production item-CF ladder).
    * Same bucket-local pair generation and hyperactive-basket cap; the
    * per-basket weight rides the pair explode, so the quadratic step's
    * bound is unchanged. Output rounded to 6 dp (float sum order). */
  def adamicAdar(baskets: DataFrame, basket: String, item: String,
      maxBasket: Int = 1000, minCo: Long = 1L): DataFrame = {
    // size >= 2 before the weight: a 1-item basket's ln(1) = 0 divides
    val members = PairGen.members(basketItems(baskets, basket, item),
        "__b", col("__i"), maxBasket)
      .where(size(col("ms")) >= 2)
    PairGen.pairs(
        members.withColumn("__w",
          lit(1.0) / log(size(col("ms")).cast("double"))),
        "ms", "item_a", "item_b", "__w")
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("co"), sum(col("__w")).as("__aa"))
      .where(col("co") >= minCo)
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("__aa"), 6).as("aa"))
  }

  /** Swing similarity (Yang et al. 2020, "Large Scale Product Graph
    * Construction for Recommendation in E-commerce" — the production
    * item-cf variant at Taobao scale): a user PAIR that co-interacts
    * with many items is weak evidence for any one of them, so
    * `sim(i,j) = Σ_{(u,v) ⊇ {i,j}} 1 / (α + |I_u ∩ I_v|)` — each item
    * pair is credited by its supporting user pairs, damped by how
    * promiscuous those pairs are. Counters click-farm/bot co-occurrence
    * that plain counting ([[cooccurrence]]) over-scores.
    *
    * Fully relational lowering, no per-key state:
    *  1. (u, v, i) rows — user pairs per item's (capped) user list, the
    *     same bucket-local i<j generation as every pair op here;
    *  2. c_uv = per-user-pair shared-item count, map-side combined;
    *     pairs with c_uv < 2 support no item pair and are dropped
    *     BEFORE the quadratic step;
    *  3. item pairs per user pair via self-join on (u, v) with i < j —
    *     credit 1/(α + c_uv) each — then one rollup per (i, j).
    * Caps: `maxUsersPerItem` bounds step 1 (a viral item's user-pair
    * blow-up), c_uv is naturally ≤ maxItemsShared via step 2's filter. */
  def swingPairs(baskets: DataFrame, user: String, item: String,
      alpha: Double = 1.0, maxUsersPerItem: Int = 1000,
      maxItemsShared: Int = 1000): DataFrame = {
    // the user rides in basketItems' basket column `__b`
    val userPairs = PairGen.pairs(
        PairGen.members(basketItems(baskets, user, item), "__i",
          col("__b"), maxUsersPerItem),
        "ms", "u", "v", "__i")
      .select(col("p.u").as("__pu"), col("p.v").as("__pv"), col("__i"))
    val cuv = userPairs.groupBy(col("__pu"), col("__pv"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2 && col("__c") <= maxItemsShared)
    val supported = userPairs.join(cuv, Seq("__pu", "__pv"))
    supported.alias("a")
      .join(supported.alias("b"),
        col("a.__pu") === col("b.__pu") && col("a.__pv") === col("b.__pv")
          && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(round(sum(lit(1.0) / (lit(alpha) + col("a.__c"))), 6)
        .as("swing"), count(lit(1)).as("n_user_pairs"))
  }

  /** User-level item-CF recommendation: score each candidate item by the
    * summed cosine similarity to the user's interacted items (the
    * classic "aggregate the neighborhood" scorer from Sarwar et al.),
    * drop already-seen items (anti-join), keep top-k per user. Score
    * sums are over 6-dp-rounded cosines and re-rounded, so ranking is
    * engine-stable. `interactions` must have columns (user, item). */
  def recommend(interactions: DataFrame, co: DataFrame, k: Int)
      : DataFrame = {
    // explicit null-drop so BOTH uses of the interaction frame — the
    // scoring join and the seen-exclusion anti-join — canonicalize
    // identically and AQE serves them from one shuffle/scan. This
    // INTENTIONALLY excludes null keys from the output: a null-user
    // interaction with a non-null item would otherwise still join the
    // co-occurrence table and emit a null-user recommendation group
    // (the anti-join on user never matches NULL) — rows no recommender
    // can act on. Callers whose interactions may carry null keys get
    // the non-null groups only.
    val ia = interactions.select(col("user"), col("item"))
      .where(col("user").isNotNull && col("item").isNotNull)
    val scored = ia.join(symmetric(co), "item")
      .groupBy(col("user"), col("neighbor"))
      .agg(round(sum(col("cosine")), 6).as("score"))
    val unseen = scored.join(
      ia.select(col("user"), col("item").as("neighbor")),
      Seq("user", "neighbor"), "left_anti")
    TopK.perGroup(unseen, Seq(col("user")),
        Seq(col("score").desc, col("neighbor")), k)
      .select(col("user"), col("neighbor").as("item"), col("score"),
        col("rank"))
  }
}
