package graft

import graft.functions.{CmsEstimate, CosineSim, DotProduct, KmvSmallest, MinHashSig, MinHashSigMix, TopKLargest}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

/** Spark-native integration point for the engine's SQL surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * registers the native codegen expressions as SQL functions in EVERY
  * session of the application, so plain-SQL / JDBC / thrift users get
  * them too. This is the one place that names a `graft_*` SQL function:
  *
  *  - `graft_dot(x, y)`        — Σ xᵢ·yᵢ over array<float|double>
  *  - `graft_cosine(x, y)`     — fused single-pass cosine, NaN→0
  *  - `graft_minhash(sh, k)`   — k-seed xxhash64 MinHash signature
  *  - `graft_minhash_mix(sh, k)` — engine-portable md5-mix MinHash signature
  *  - `graft_topk(e, k)`       — aggregate: the k largest values of e
  *  - `graft_kmv(h, k)`        — aggregate: the k smallest distinct hashes
  *  - `graft_cms_estimate(sk, x)` — count of x in a count-min sketch
  *  - `graft_quality(text)`    — hashed n-gram quality score
  *
  * This is the conventional extension mechanism (same hook Delta/Iceberg
  * use); the expressions themselves stay plain Catalyst nodes so Catalyst
  * optimizes through them and whole-stage codegen inlines them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def binary(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case other => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${other.size}")
  }

  /** (expr, k-literal) forms: the hash count or k shapes the output
    * schema or the aggregation buffer, so it must be a literal int —
    * reject non-literals at analysis time rather than failing opaquely
    * in codegen. */
  private def withK(name: String, mk: (Expression, Int) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, IntegerLiteral(k)) => mk(a, k)
    case other => throw new IllegalArgumentException(
      s"$name expects (expr, int literal), got ${other.size} args")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(x, y) - dot product of two float/double arrays"),
      binary("graft_dot", DotProduct)))
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(x, y) - cosine similarity, NaN normalized to 0"),
      binary("graft_cosine", CosineSim)))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles, k) - k-seed xxhash64 MinHash signature"),
      withK("graft_minhash", MinHashSig)))
    ext.injectFunction((FunctionIdentifier("graft_minhash_mix"),
      info("graft_minhash_mix", "graft_minhash_mix(shingles, k) - md5-mix MinHash signature (engine-portable)"),
      withK("graft_minhash_mix", MinHashSigMix)))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      info("graft_topk",
        "graft_topk(expr, k) - aggregate: k largest values of expr (struct for multi-key), sorted descending"),
      withK("graft_topk", TopKLargest(_, _))))
    ext.injectFunction((FunctionIdentifier("graft_kmv"),
      info("graft_kmv",
        "graft_kmv(hash, k) - aggregate: k smallest distinct BIGINT hashes, ascending (KMV distinct/overlap sketch)"),
      withK("graft_kmv", KmvSmallest(_, _))))
    ext.injectFunction((FunctionIdentifier("graft_cms_estimate"),
      info("graft_cms_estimate",
        "graft_cms_estimate(sketch, item) - estimated count of item in a count_min_sketch binary"),
      binary("graft_cms_estimate", CmsEstimate)))
    // composed-expression function (a Column tree, not a single native
    // node): wrap the argument as a Column, build the tree, unwrap — the
    // result is still plain Catalyst, so codegen inlines it like the rest
    ext.injectFunction((FunctionIdentifier("graft_quality"),
      info("graft_quality",
        "graft_quality(text) - fastText-style hashed n-gram quality score in (0,1)"),
      {
        case Seq(t) =>
          org.apache.spark.sql.graftshim.GraftSqlShim.eagerExpression(
            graft.functions.TextFunctions.hashedClassifierScore(
              org.apache.spark.sql.graftshim.GraftSqlShim.column(t)))
        case other => throw new IllegalArgumentException(
          s"graft_quality expects 1 argument, got ${other.size}")
      }))
  }
}
