package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._

/** Native portable md5 SimHash kernel: `parts` 32-bit signatures from
  * ONE md5 per token. Part k's bit b votes on bit (8 >> k) of hex digit
  * b+1 of `md5(token)`: part 0 on the top bit (digit ≥ '8'), part 1 on
  * nibble & 4, part 2 on nibble & 2, part 3 on nibble & 1. Counting
  * from 0, hex digit 2i is byte i's high nibble and 2i+1 its low one,
  * so the votes read straight off the raw digest bytes, with no
  * per-token allocations. Each prefix of parts IS the narrower family, at the
  * same one digest per token (pinned by LlmOpsSpec).
  *
  * `parts` = 1 is the portable 32-bit signature as a bare `bigint`;
  * 2 and 4 return `array<bigint>` (the 64- and 128-bit fingerprints).
  * Every part is non-negative (bits 0..31 only), so band keys taken by
  * shift-and-mask never sign-extend in any engine, and the DuckDB
  * oracles replay each bit rule as a hex-digit test on `md5(token)`.
  *
  * The composed HOF form (`simHash32PortableHof`) materializes, per
  * TOKEN, a 32-element when-array plus two zip_with allocations just
  * to turn each hex digit into a ±1 vote — measured ~80% of the d3
  * bench query (PLANS.md round-8 signature cost-share table).
  * BIT-IDENTICAL to the HOF forms including edge cases: a null token
  * votes −1 at every position (the composed `when(null ≥ '8')` is
  * false), and an empty token array yields 0 in every part.
  *
  * CodegenFallback is deliberate, same rationale as
  * [[StringArrayKernel]]: the per-row md5 loop dwarfs row-boxing
  * overhead. */
case class SimHashMd5(child: Expression, parts: Int)
    extends StringArrayKernel with CodegenFallback {

  require(parts >= 1 && parts <= 4, s"parts must be in 1..4, got $parts")

  override def dataType: DataType =
    if (parts == 1) LongType else ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // count SET bits only: every token votes ±1 at every position (a
    // null token votes −1 everywhere — md5(null) = null, when(null ≥
    // '8') = false — i.e. sets nothing), so votes(b) = 2·cnt(b) − n and
    // the sign test is exactly 2·cnt(b) > n (doubled in Long so a
    // >2^30-token doc can't overflow it). cnt(32·k + b) is part k's
    // count at position b.
    val cnt = new Array[Int](32 * parts)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var by = 0
        while (by < 16) {
          // part k: bit 7 − k of the byte is its high nibble's (hex
          // digit 2*by), bit 3 − k its low nibble's (digit 2*by+1).
          // The bit is added, not branched on: the bits are random, so
          // a branch per bit mispredicts half the time (measured 2-4×
          // slower over 200k tokens on one core)
          val v = d(by)
          var e = 2 * by
          var k = 0
          while (k < parts) {
            cnt(e) += (v >> (7 - k)) & 1
            cnt(e + 1) += (v >> (3 - k)) & 1
            e += 32
            k += 1
          }
          by += 1
        }
      }
      i += 1
    }
    val sigs = new Array[Any](parts)
    var k = 0
    while (k < parts) {
      var sig = 0L
      var b = 0
      while (b < 32) {
        if (2L * cnt(32 * k + b) > n) sig |= 1L << b
        b += 1
      }
      sigs(k) = sig
      k += 1
    }
    if (parts == 1) sigs(0) else new GenericArrayData(sigs)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native xxhash64 SimHash kernel — the PRODUCTION 64-bit signature
  * ([[graft.llmops.Dedup.simHash64]]'s fast path). The composed HOF
  * form pays a 64-element when-array plus two zip_with allocations per
  * TOKEN just to turn hash bits into ±1 votes (the same shape the r8
  * cost-share table measured at ~80% of d3); this kernel hashes each
  * token once (`xxhash64(t)` ≡ `XXH64.hashUTF8String(t, 42)`) and
  * votes straight off the hash bits. BIT-IDENTICAL to the HOF spec
  * (pinned by LlmOpsSpec) including edges: a null token hashes to the
  * accumulated seed 42 (Spark's hash expressions skip null children),
  * and an empty token array yields signature 0. CodegenFallback, same
  * rationale as [[SimHashMd5]]. */
case class SimHash64Xx(child: Expression)
    extends StringArrayKernel with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // set-bit counting: every token votes ±1 at all 64 positions (here
    // a null token votes by the bits of the seed 42, not −1), so
    // votes(b) = 2·cnt(b) − n and the sign test is 2·cnt(b) > n.
    // Iterate only the SET bits of each hash (clear-lowest-bit walk) —
    // ~32 iterations/token instead of 64 fixed.
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      var m =
        if (arr.isNullAt(i)) 42L // xxhash64(null) = the seed
        else org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(arr.getUTF8String(i), 42L)
      while (m != 0L) {
        cnt(java.lang.Long.numberOfTrailingZeros(m)) += 1
        m &= m - 1L
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2L * cnt(b) > n) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFunctions {
  def simHashMd5(tokens: Column, parts: Int): Column =
    GraftSqlShim.column(SimHashMd5(GraftSqlShim.expression(tokens), parts))

  def simHash64Xx(tokens: Column): Column =
    GraftSqlShim.column(SimHash64Xx(GraftSqlShim.expression(tokens)))
}
