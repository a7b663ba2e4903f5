package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._

/** Native portable-SimHash kernel.
  *
  * The composed HOF form of the portable 32-bit SimHash
  * (`simHash32PortableHof`, pinned by LlmOpsSpec) materializes, per
  * TOKEN, a 32-element when-array plus two zip_with allocations just to
  * turn each md5 hex digit into a ±1 vote — measured ~80% of the d3
  * bench query (PLANS.md round-8 signature cost-share table). This
  * kernel computes the identical value in one pass: one MessageDigest
  * md5 per token on reused state, votes read straight off the digest
  * bytes (hex digit b+1 ≥ '8' ⟺ the high bit of nibble b of the raw
  * digest — digit 2i is byte i's high nibble, digit 2i+1 its low
  * nibble), no per-token allocations.
  *
  * BIT-IDENTICAL to the HOF form including edge cases (pinned by
  * LlmOpsSpec): a null token votes −1 at every position (the composed
  * `when(null ≥ '8')` is false), and an empty token array yields
  * signature 0 (all votes 0, `when(v > 0)` false everywhere).
  *
  * CodegenFallback is deliberate, same rationale as
  * [[MinHashKernel]]: the per-row md5 loop dwarfs row-boxing overhead.
  */
case class SimHash32Md5(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // count SET bits only: every token votes ±1 at every position (a
    // null token votes −1 everywhere — md5(null) = null, when(null ≥
    // '8') = false — i.e. sets nothing), so votes(b) = 2·cnt(b) − n and
    // the sign test is exactly 2·cnt(b) > n (doubled in Long so a
    // >2^30-token doc can't overflow it). Halves the loop body vs
    // the ±1 form, bit-identically.
    val cnt = new Array[Int](32)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var by = 0
        while (by < 16) {
          // hex digit 2*by   = high nibble of byte by → top bit = bit 7
          // hex digit 2*by+1 = low  nibble of byte by → top bit = bit 3
          val v = d(by)
          if ((v & 0x80) != 0) cnt(2 * by) += 1
          if ((v & 0x08) != 0) cnt(2 * by + 1) += 1
          by += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (2L * cnt(b) > n) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native portable 64-bit SimHash kernel: TWO 32-bit signatures from ONE
  * md5 per token, returned as `array<bigint> [lo, hi]` (each half
  * non-negative, bits 0..31 only — so band keys extracted by
  * shift-and-mask never sign-extend in any engine).
  *
  *  - `lo` bit b votes on the TOP bit of hex digit b+1 (digit ≥ '8') —
  *    exactly [[SimHash32Md5]]'s rule, so `result[0]` is bit-identical
  *    to the 32-bit kernel over the same tokens;
  *  - `hi` bit b votes on the SECOND bit of hex digit b+1 (digit in
  *    '4'-'7' or 'c'-'f', i.e. nibble & 4) — an independent md5 bit, so
  *    the pair forms a 64-projection fingerprint at one digest per
  *    token (a second md5 stream would double the dominant cost).
  *
  * The composed-HOF spec this is pinned against (LlmOpsSpec) is
  * `simHash64PortableHof`; the DuckDB oracles
  * replay the same two bit rules with `substring(h, b+1, 1) >= '8'`
  * and `substring(h, b+1, 1) IN ('4','5','6','7','c','d','e','f')`.
  * Null tokens vote −1 at every position of both halves; an empty
  * token array yields [0, 0] — same edge contract as the 32-bit
  * kernel. CodegenFallback for the same reason as [[SimHash32Md5]]. */
case class SimHash64Md5(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // set-bit counting (votes(b) = 2·cnt(b) − n; see SimHash32Md5 —
    // null tokens vote −1 everywhere, i.e. set nothing)
    val cntLo = new Array[Int](32)
    val cntHi = new Array[Int](32)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var by = 0
        while (by < 16) {
          // hex digit 2*by = high nibble (top bit 0x80, second 0x40);
          // hex digit 2*by+1 = low nibble (top bit 0x08, second 0x04)
          val v = d(by)
          val e = 2 * by
          if ((v & 0x80) != 0) cntLo(e) += 1
          if ((v & 0x08) != 0) cntLo(e + 1) += 1
          if ((v & 0x40) != 0) cntHi(e) += 1
          if ((v & 0x04) != 0) cntHi(e + 1) += 1
          by += 1
        }
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 32) {
      if (2L * cntLo(b) > n) lo |= 1L << b
      if (2L * cntHi(b) > n) hi |= 1L << b
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](lo, hi))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native portable 128-bit SimHash kernel: FOUR 32-bit signatures from
  * ONE md5 per token, returned as `array<bigint> [p0, p1, p2, p3]`
  * (each part non-negative, bits 0..31 only). Part k's bit b votes on
  * bit (8 >> k) of hex digit b+1 — p0 = the top bit (≡ [[SimHash32Md5]]
  * and `simHash64Portable`'s lo), p1 = nibble & 4 (≡ its hi), p2 =
  * nibble & 2, p3 = nibble & 1 — so the 128-projection fingerprint
  * costs the same one digest per token as the 32/64-bit forms and each
  * prefix of parts IS the narrower family (pinned by LlmOpsSpec).
  * Banding takes each part as its own band, so no shifting is ever
  * needed and band keys mask directly off a part. DuckDB replays the
  * four bit rules as hex-digit membership tests. Null tokens vote −1
  * everywhere; empty token array → [0,0,0,0]. */
case class SimHash128Md5(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // set-bit counting (votes(b) = 2·cnt(b) − n; see SimHash32Md5),
    // flat per-part arrays and a hoisted byte with straight-line bit
    // tests — the vote loop dominates this kernel (4×64 positions/token)
    val c0 = new Array[Int](32)
    val c1 = new Array[Int](32)
    val c2 = new Array[Int](32)
    val c3 = new Array[Int](32)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var by = 0
        while (by < 16) {
          // high nibble = hex digit 2*by (bits 0x80..0x10),
          // low nibble = hex digit 2*by+1 (bits 0x08..0x01)
          val v = d(by)
          val e = 2 * by
          if ((v & 0x80) != 0) c0(e) += 1
          if ((v & 0x08) != 0) c0(e + 1) += 1
          if ((v & 0x40) != 0) c1(e) += 1
          if ((v & 0x04) != 0) c1(e + 1) += 1
          if ((v & 0x20) != 0) c2(e) += 1
          if ((v & 0x02) != 0) c2(e + 1) += 1
          if ((v & 0x10) != 0) c3(e) += 1
          if ((v & 0x01) != 0) c3(e + 1) += 1
          by += 1
        }
      }
      i += 1
    }
    def fold(c: Array[Int]): Long = {
      var sig = 0L
      var b = 0
      while (b < 32) {
        if (2L * c(b) > n) sig |= 1L << b
        b += 1
      }
      sig
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](fold(c0), fold(c1), fold(c2), fold(c3)))
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
  * rationale as [[SimHash32Md5]]. */
case class SimHash64Xx(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<string> tokens, got ${t.catalogString}")
  }

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
  def simHash32Md5(tokens: Column): Column =
    GraftSqlShim.column(SimHash32Md5(GraftSqlShim.expression(tokens)))

  def simHash64Md5(tokens: Column): Column =
    GraftSqlShim.column(SimHash64Md5(GraftSqlShim.expression(tokens)))

  def simHash128Md5(tokens: Column): Column =
    GraftSqlShim.column(SimHash128Md5(GraftSqlShim.expression(tokens)))

  def simHash64Xx(tokens: Column): Column =
    GraftSqlShim.column(SimHash64Xx(GraftSqlShim.expression(tokens)))
}
