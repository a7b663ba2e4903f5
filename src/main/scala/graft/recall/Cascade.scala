package graft.recall

import graft.functions.{Features, VectorOps}
import graft.ops.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 3-stage recommendation cascade as a DataFrame pipeline
  * (reference `model_service/models.py:181-211`,
  * `eval_online/main/inference.py:78-106`): recall (embedding dot-product
  * top-N) ▷ rank (pluggable scorer, top-M) ▷ re-rank (pluggable scorer,
  * top-K). Stage boundaries are plain DataFrames so external neural scorers
  * (DIN / RankNet, kept external per charter) drop in as
  * `DataFrame => DataFrame` transforms; the built-in stub scorer is a
  * seeded deterministic hash score standing in for the reference's own
  * random-score stub (`models.py:126-130`).
  */
object Cascade {

  type Scorer = DataFrame => DataFrame // must add/replace column "score"

  /** Deterministic stub scorer (stands in for an external model service). */
  def stubScorer(scoreOf: String*): Scorer = df =>
    df.withColumn("score",
      Features.stableHash01(concat_ws("§", scoreOf.map(col): _*), 1000000))

  /** Portable stub scorer: a Knuth/LCG modular mix of two id columns,
    * bit-replicable in ANSI SQL (`(a*2654435761 + b*40503) % 1000000`) so a
    * cascade wired with it can be hash-checked end-to-end against an
    * external oracle. Same contract as [[stubScorer]]; ids must stay below
    * ~2^32 so the ANSI-mode multiply cannot overflow Long.
    */
  def mixScorer(aCol: String, bCol: String): Scorer = df =>
    df.withColumn("score",
      pmod(col(aCol) * lit(2654435761L) + col(bCol) * lit(40503L),
        lit(1000000L)))

  /** Stage 1 — recall: per-user dot-product top-N against the item
    * embedding table, excluding items already in the user's history
    * (reference `models.py:61,83`). `users`: (user_id, user_emb, history
    * array<item id>); `items`: (item_id, item_emb).
    *
    * PRECONDITION: `items` must fit in a broadcast (the reference serves
    * ~5,000 items; anything up to a few million rows × small embedding is
    * fine). For an item corpus past the broadcast threshold, recall must
    * switch to an ANN index instead of the exhaustive crossJoin — the
    * `SimSearch.lshTopK` / `ivfTopK` paths are the drop-in scale escape. */
  def recall(users: DataFrame, items: DataFrame, n: Int): DataFrame = {
    val scored = users.crossJoin(broadcast(items))
      .where(!array_contains(col("history"), col("item_id")))
      .withColumn("recall_score", graft.functions.GraftFunctions.dot(col("user_emb"), col("item_emb")))
    TopK.perGroup(scored, Seq(col("user_id")),
      Seq(col("recall_score").desc, col("item_id")), n, "recall_rank")
      .select(col("user_id"), col("item_id"), col("recall_score"))
  }

  /** Branches 1+2 of the cold-start decision: per-user query vector with
    * its branch tag — known users ride their trained embedding, unknown
    * users with mapped history ride the history mean. Returned frame:
    * (user_id, uemb, branch ∈ {1,2}); users in neither are branch 3. */
  private def branchQueries(users: DataFrame, userEmb: DataFrame,
      history: DataFrame, items: DataFrame): DataFrame = {
    val b1 = users.join(userEmb, "user_id")
      .select(col("user_id"), col("uemb"), lit(1L).as("branch"))
    val mappedHist = history
      .join(users, "user_id")
      .join(userEmb.select(col("user_id")), Seq("user_id"), "left_anti")
      .join(items, "item_id")
    val b2 = VectorOps.meanPool(mappedHist, Seq("user_id"), col("iemb"), "uemb")
      .select(col("user_id"), col("uemb"), lit(2L).as("branch"))
    b1.unionByName(b2)
  }

  /** Global popularity top-k: (item_id, score = interaction count, rank).
    * One aggregate + TakeOrderedAndProject; the final rank window runs
    * over ≤ k rows. */
  private def popularityTop(interactions: DataFrame, k: Int): DataFrame =
    interactions.groupBy(col("item_id"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("item_id")).limit(k)
      .select(col("item_id"), col("__cnt").cast("double").as("score"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__cnt").desc, col("item_id"))).as("rank")) // ≤ k rows

  /** 3-branch cold-start recall — the reference's full branch decision
    * (`model_service/models.py:42-88`), composed as ONE lazy plan over a
    * mixed user batch:
    *
    *   1. known user (has a trained embedding) → dot(user_emb, items)
    *      top-k, history excluded (`models.py:47-62`);
    *   2. unknown user with ≥1 history item that maps into the item
    *      table → dot(mean(history item embeddings), items) top-k,
    *      history excluded (`models.py:66-84`; repeats in the history
    *      weight the mean, as the reference's index-list mean does);
    *   3. otherwise → one global popularity top-k (interaction count,
    *      item-id tie-break) fanned out to every such user — the
    *      deterministic version of the reference's "first K item ids"
    *      fallback (`models.py:85-87`).
    *
    * Inputs: `users` (user_id) — the request batch; `userEmb` (user_id,
    * uemb); `history` (user_id, item_id); `items` (item_id, iemb);
    * `interactions` (item_id) — the popularity evidence. Output:
    * (user_id, branch, item_id, score, rank); branch ∈ {1,2,3}.
    *
    * Scale shape: branch selection is two anti-joins against the
    * (small) user-embedding key set; the scoring body is the same
    * broadcast crossJoin as [[recall]] (same precondition — swap in the
    * ANN paths past the broadcast threshold); popularity is one
    * aggregate + global TakeOrderedAndProject whose k-row result is
    * broadcast. The final window over the popularity list touches ≤ k
    * rows by construction. */
  def coldStartRecall(users: DataFrame, userEmb: DataFrame,
      history: DataFrame, items: DataFrame, interactions: DataFrame,
      k: Int): DataFrame = {
    val queries = branchQueries(users, userEmb, history, items)
    val scored = queries.crossJoin(broadcast(items))
      .join(history, Seq("user_id", "item_id"), "left_anti")
      .withColumn("score",
        graft.functions.GraftFunctions.dot(col("uemb"), col("iemb")))
    val emb12 = TopK.perGroup(scored, Seq(col("user_id")),
        Seq(col("score").desc, col("item_id")), k)
      .select(col("user_id"), col("branch"), col("item_id"), col("score"),
        col("rank"))
    val b3users = users
      .join(queries.select(col("user_id")), Seq("user_id"), "left_anti")
    val b3 = b3users.crossJoin(broadcast(popularityTop(interactions, k)))
      .select(col("user_id"), lit(3L).as("branch"), col("item_id"),
        col("score"), col("rank"))
    emb12.unionByName(b3)
  }

  /** The full mixed-batch pipeline a 100 TB deployment runs: the
    * 3-branch cold-start decision ([[coldStartRecall]]) supplies each
    * user's query vector, a PLUGGABLE recall scores candidates — pass
    * [[graft.llmops.SimSearch.ivfTopK]]/`lshTopK` past the broadcast
    * threshold, [[graft.llmops.SimSearch.bruteForceTopK]] under it —
    * then the rank ▷ rerank stages of [[recommend]] run over the union
    * of ANN candidates (branches 1/2) and popularity candidates
    * (branch 3).
    *
    * `recallFn(queries, items)`: queries = (user_id, uemb), must return
    * (user_id, item_id, ...); history items are excluded AFTER recall
    * (over-fetch `n1` accordingly, as the reference's `top_k*2` does —
    * `models.py:55-61`). Output: (user_id, branch, item_id,
    * final_rank). */
  def recommendColdStart(users: DataFrame, userEmb: DataFrame,
      history: DataFrame, items: DataFrame, interactions: DataFrame,
      ranker: Scorer, reranker: Scorer,
      n1: Int = 100, n2: Int = 50, n3: Int = 10)(
      recallFn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val queries = branchQueries(users, userEmb, history, items)
    val recalled = recallFn(queries.select(col("user_id"), col("uemb")), items)
      .select(col("user_id"), col("item_id"))
      .join(history, Seq("user_id", "item_id"), "left_anti")
      .join(queries.select(col("user_id"), col("branch")), "user_id")
    val b3users = users
      .join(queries.select(col("user_id")), Seq("user_id"), "left_anti")
    val b3 = b3users
      .crossJoin(broadcast(popularityTop(interactions, n1)
        .select(col("item_id"))))
      .select(col("user_id"), col("item_id"), lit(3L).as("branch"))
    val candidates = recalled.unionByName(b3)
    val ranked = rankStage(candidates, ranker, n2, "rank_stage")
    rankStage(ranked.drop("rank_stage"), reranker, n3, "final_rank")
      .select(col("user_id"), col("branch"), col("item_id"),
        col("final_rank"))
  }

  /** Stages 2/3 — score with `scorer`, keep top `k` per user. */
  def rankStage(candidates: DataFrame, scorer: Scorer, k: Int,
      rankCol: String): DataFrame =
    TopK.perGroup(scorer(candidates), Seq(col("user_id")),
      Seq(col("score").desc, col("item_id")), k, rankCol)
      .drop("score")

  /** Full cascade: recall(n1) ▷ rank(n2) ▷ rerank(n3). */
  def recommend(users: DataFrame, items: DataFrame,
      ranker: Scorer, reranker: Scorer,
      n1: Int = 100, n2: Int = 50, n3: Int = 10): DataFrame = {
    val recalled = recall(users, items, n1)
    val ranked = rankStage(recalled, ranker, n2, "rank_stage")
    rankStage(ranked.drop("rank_stage"), reranker, n3, "final_rank")
      .select(col("user_id"), col("item_id"), col("final_rank"))
  }
}
