package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew mitigation for joins (SURVEY §4: "user fan-out is skewed —
  * a few users have thousands of behaviors while the median has ~5").
  *
  * AQE's runtime skew-split handles sort-merge joins; for shuffled hash
  * joins on a known-skewed key, salting is the deterministic fix: the big
  * side's key is widened with a salt in [0, salts), the small side is
  * replicated once per salt, and the join key becomes (key, salt) — the
  * hot key's rows spread over `salts` reducers.
  */
object Skew {

  /** Salted inner equi-join: `big ⋈ small` on `key`, with the big side's
    * rows deterministically salted (hash of all big-side columns mod
    * salts — stable across retries) and the small side replicated. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toSeq: _*), lit(salts.toLong)))
    val replicatedSmall = small.withColumn("__salt",
      explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

}
