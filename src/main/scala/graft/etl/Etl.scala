package graft.etl

import graft.functions.Features
import graft.ops.{PrefixSum, PrefixWindow, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's offline ETL chain (§3.3) as composable
  * `DataFrame => DataFrame` stages. Each stage mirrors one script:
  *
  *  - [[splitUsers]]        ← `split_users.py`
  *  - [[excludedBehaviors]] ← `generate_excluded_users_behavior.py`
  *  - [[lightGcnData]]      ← `generate_lightgcn_data.py`
  *  - [[itemFeatures]]      ← `generate_training_data.py:27-78`
  *  - [[trainingData]]      ← `generate_training_data.py:82-193`
  *
  * Because every stage is a pure DataFrame transform, the whole chain also
  * composes into ONE lazy plan (no intermediate CSV materialization — the
  * reference streams line-by-line to bound memory; Catalyst makes that
  * bounded for free). Inputs are `Schemas.reviewSchema` /
  * `itemMetaSchema`-shaped frames.
  */
object Etl {

  /** 80/20 user split, deterministic-hash form (X1). Returns
    * (included, excluded) user-id frames with column `user_id`. */
  def splitUsers(reviews: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val users = reviews.select(col("reviewerID").as("user_id")).distinct()
    Sampling.hashSplit(users, col("user_id"), 10, 8, seed)
  }

  /** Hold-out users' behavior log: semi-filter to excluded users, project,
    * order by (user, ts) — the as-of lookup table (P4 + P1 + W1). */
  def excludedBehaviors(reviews: DataFrame, excludedUsers: DataFrame): DataFrame =
    reviews
      .join(broadcast(excludedUsers),
        reviews("reviewerID") === excludedUsers("user_id"), "left_semi")
      .select(col("reviewerID").as("user_id"), col("asin").as("item_id"),
        col("unixReviewTime").as("timestamp"))
      .orderBy(col("user_id"), col("timestamp"))

  /** LightGCN interaction table: positives (rating ≥ 4), excluded users
    * dropped, (user, item) deduped (P2 + P3 + A2). */
  def lightGcnData(reviews: DataFrame, excludedUsers: DataFrame): DataFrame =
    reviews
      .where(col("overall") >= 4)
      .join(broadcast(excludedUsers),
        reviews("reviewerID") === excludedUsers("user_id"), "left_anti")
      .select(col("reviewerID").as("user_id"), col("asin").as("item_id"))
      .dropDuplicates("user_id", "item_id")

  /** Item feature table `(asin, category_hash, brand_hash, price_scaled)`
    * (`item_embeddings.csv` contract): stable hash of last category path
    * element and brand, two-pass min-max scaled price with null-safe
    * cleansing. All values in [0, 1]. */
  def itemFeatures(meta: DataFrame): DataFrame = {
    val cleansed = meta.select(
      col("asin"),
      Features.stableHash01(concat_ws("_",
        coalesce(Features.lastCategory(col("categories")), array()))).as("category_hash"),
      Features.stableHash01(coalesce(col("brand"), lit(""))).as("brand_hash"),
      Features.cleansePrice(col("price")).as("__price"))
    Features.minMaxScale(cleansed, "__price", "price_scaled")
      .withColumn("price_scaled", coalesce(col("price_scaled"), lit(0.0)))
      .drop("__price")
  }

  /** Training-sample generation (W2 + W3 + X2 + X3): per included user's
    * time-ordered positives, emit (history ≤ maxHistory, candidate, 1) at
    * `stride`, plus `negPerPos` hash-picked negatives (collision-skipped)
    * labeled 0. History is pipe-joined at this (CSV-contract) boundary
    * only. */
  def trainingData(reviews: DataFrame, excludedUsers: DataFrame,
      minHistory: Int = 10, stride: Int = 2, maxHistory: Int = 50,
      negPerPos: Int = 2, seed: Long = 42L): DataFrame = {
    val base = reviews
      .join(broadcast(excludedUsers),
        reviews("reviewerID") === excludedUsers("user_id"), "left_anti")
      .select(col("reviewerID").as("user_id"), col("asin").as("item_id"),
        col("overall"), col("unixReviewTime").as("ts"))
    val samples = PrefixWindow.samples(base, "user_id", "ts", col("item_id"),
        minHistory, stride, maxHistory, tieBreak = Seq(col("item_id")))
      .where(col("overall") >= 4 && size(col("history")) > 0)
      .select(col("user_id"), col("item_id").as("candidate_item"),
        concat_ws("|", col("history")).as("history_items"))
    // deterministic negatives over the observed item dictionary: hash-pick
    // an item index, skip collisions with the user's own positives (X2)
    val itemDict = PrefixSum.denseIds(base, "item_id", "__idx")
    val nItems = itemDict.count()
    val userItems = base.select(col("user_id"), col("item_id")).distinct()
    val negs = samples
      .withColumn("__n", explode(array((1 to negPerPos).map(i => lit(i.toLong)): _*)))
      .withColumn("__idx", pmod(
        xxhash64(col("user_id"), col("candidate_item"), col("__n"), lit(seed)),
        lit(nItems)))
      .join(broadcast(itemDict), "__idx")
      .drop("candidate_item").withColumnRenamed("item_id", "candidate_item")
      .join(userItems.withColumnRenamed("item_id", "candidate_item"),
        Seq("user_id", "candidate_item"), "left_anti")
      .select(col("user_id"), col("history_items"), col("candidate_item"),
        lit(0).as("label"))
    samples.select(col("user_id"), col("history_items"), col("candidate_item"),
        lit(1).as("label"))
      .unionByName(negs)
  }
}
