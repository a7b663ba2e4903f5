package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The input check shared by the `array<string>` kernels: the MinHash
  * signatures below and the SimHash signatures ([[SimHashMd5]],
  * [[SimHash64Xx]]).
  *
  * MinHash: the composed HOF forms (`transform(seeds, seed => aggregate(shingles,
  * MaxValue, least(acc, xxhash64(s, seed))))`) are interpreted per element
  * per seed — numHashes full passes over the shingle array, re-hashing the
  * whole string each time. These expressions make one pass: the string is
  * xxhash'd ONCE per shingle and the per-seed values derive from cheap
  * integer mixes (exactly how Spark's own `xxhash64(s, seed)` folds a
  * trailing int column into an accumulated hash); the engine-portable
  * md5-mix variant has the same shape, with the one hash per shingle a
  * reused-state MessageDigest md5.
  *
  * Values are BIT-IDENTICAL to the composed forms (pinned by
  * LlmOpsSpec): `MinHashSig(k)` = `xxhash64(shingle, k)` =
  * `XXH64.hashInt(k, XXH64.hashUTF8String(shingle, 42))`, and
  * `MinHashSigMix` reproduces the conv/md5 HOF spec in
  * `minHashSigPortableHof` including null/empty
  * edges — the same formula the DuckDB oracles replay.
  *
  * CodegenFallback is deliberate: per-row work is O(shingles × seeds)
  * hashes, so the fallback's row-boxing overhead is noise (unlike
  * [[DotProduct]], whose per-row work is a single short loop).
  */
private[graft] trait StringArrayKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }
}

/** xxhash64-seeded MinHash signature: `sig[k] = min over shingles of
  * xxhash64(shingle, k)`; empty input folds to Long.MaxValue per position
  * (callers use `sig[0] == Long.MaxValue` as the degenerate-doc filter). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends StringArrayKernel with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // null shingle: Spark's hash expressions skip null children, leaving
      // the accumulated seed (42) — mirror that so values stay identical
      val base = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashInt(k, base)
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-portable MinHash signature, md5-MIX family: each shingle is
  * md5'd ONCE; a 48-bit value from the digest's first 12 hex digits is
  * reduced to 30 bits and the per-seed values derive from an ANSI-safe
  * 2-universal mix `sig[k] = min over shingles of
  * ((v48 % 2^30) · (2654435761 + 80906·k) + k) % 2^30` — every
  * intermediate ≤ 2^62 while numHashes ≤ 20278 (the constructor
  * enforces the bound; past it the multiplier crosses 2^32), so the
  * identical arithmetic runs under Spark's ANSI overflow checks AND in
  * DuckDB BIGINTs (the oracle recomputes it from
  * `CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)`). This is
  * the same one-hash-plus-cheap-mixes shape as the xxhash64 production
  * kernel ([[MinHashSig]]) — the previous portable family re-ran md5
  * once PER SEED (16 digest block transforms per shingle), which the
  * round-8 cost-share table measured at ~40% of every portable-minhash
  * bench query for zero statistical benefit.
  *
  * Null shingles are skipped (`md5(null)` is null and `array_min`
  * ignores nulls); an empty/all-null input yields all-null signature
  * positions, matching the composed form's `array_min(empty) = null`. */
case class MinHashSigMix(child: Expression, numHashes: Int)
    extends StringArrayKernel with CodegenFallback {

  // the ≤2^62 ANSI-safety claim above needs the multiplier
  // 2654435761 + 80906·k to stay below 2^32 for every seed k <
  // numHashes: (2^32 − 2654435761) / 80906 = 20277.9…, so seed 20277 is
  // the largest safe one. Beyond it the native kernel would silently
  // wrap Long while the HOF/DuckDB forms error under ANSI/BIGINT
  // checks, breaking the bit-identical pin — fail fast instead.
  require(numHashes <= 20278,
    s"numHashes must be <= 20278 (multiplier 2654435761 + 80906*k must " +
      s"stay below 2^32 for ANSI-safe arithmetic), got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        // first 12 hex digits == first 6 digest bytes, big-endian
        var v48 = 0L
        var b = 0
        while (b < 6) { v48 = (v48 << 8) | (d(b) & 0xffL); b += 1 }
        val v30 = v48 % 1073741824L
        var k = 0
        while (k < numHashes) {
          val h = (v30 * (2654435761L + 80906L * k) + k) % 1073741824L
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    if (any) {
      var k = 0
      while (k < numHashes) { out(k) = mins(k); k += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFunctions {
  def minHash(shingles: Column, numHashes: Int): Column =
    GraftSqlShim.column(
      MinHashSig(GraftSqlShim.expression(shingles), numHashes))

  def minHashMix(shingles: Column, numHashes: Int): Column =
    GraftSqlShim.column(
      MinHashSigMix(GraftSqlShim.expression(shingles), numHashes))
}
