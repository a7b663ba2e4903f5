package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed-HOF reference forms of the native SimHash and MinHash
  * kernels behind [[graft.llmops.Dedup]] — the specs LlmOpsSpec pins the
  * kernels against bit for bit, in the shape the DuckDB oracles replay.
  * They measured far slower than the kernels (the r8 cost-share table:
  * ~2.2-2.7 s of md5 votes over the sf0.1 documents for the 32-bit
  * SimHash, ~80% of d3's runtime), so no engine path calls them. */
object DedupHof {

  /** SimHash votes and sign bits: each hash votes ±1 on `width`
    * positions by `bitOf(hash, b)`; bit b of the signature is set when
    * position b's vote is positive. The literal per-position bit values
    * zip'd against the vote array keep `votes` evaluated once (no
    * width× tree duplication) and avoid any runtime shift-by-column /
    * overflow under ANSI mode. */
  private def signBits(hashes: Column, width: Int)(
      bitOf: (Column, Int) => Column): Column = {
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), width),
      (acc, h) => zip_with(
        acc,
        array((0 until width).map(b =>
          when(bitOf(h, b), lit(1L)).otherwise(lit(-1L))): _*),
        (a, v) => a + v))
    val bitValues = array((0 until width).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(votes, bitValues, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  private def md5Tokens(text: Column): Column =
    transform(TextFunctions.tokens(text), t => md5(t))

  /** Part k of the md5 SimHash family votes on bit (8 >> k) of hex
    * digit b+1; part 0 is the digit's top bit. */
  private def digitIn(members: String*)(h: Column, b: Int): Column =
    substring(h, b + 1, 1).isin(members: _*)
  private def topBit(h: Column, b: Int): Column = substring(h, b + 1, 1) >= "8"
  private def secondBit(h: Column, b: Int): Column =
    digitIn("4", "5", "6", "7", "c", "d", "e", "f")(h, b)

  /** Reference form of `Dedup.simHash64`: per-token xxhash64, 64 votes. */
  def simHash64Hof(text: Column): Column =
    signBits(transform(TextFunctions.tokens(text), t => xxhash64(t)), 64)(
      (h, b) => shiftright(h, b).bitwiseAND(1L) === 1L)

  /** Reference form of `Dedup.simHash32Portable`. */
  def simHash32PortableHof(text: Column): Column =
    signBits(md5Tokens(text), 32)(topBit)

  /** Reference form of `Dedup.simHash64Portable`: `[lo, hi]`. */
  def simHash64PortableHof(text: Column): Column = {
    val hashes = md5Tokens(text)
    array(signBits(hashes, 32)(topBit), signBits(hashes, 32)(secondBit))
  }

  /** Reference form of `Dedup.simHash128Portable`: `[p0..p3]`. */
  def simHash128PortableHof(text: Column): Column = {
    val hashes = md5Tokens(text)
    array(
      signBits(hashes, 32)(topBit),
      signBits(hashes, 32)(secondBit),
      signBits(hashes, 32)(digitIn("2", "3", "6", "7", "a", "b", "e", "f")),
      signBits(hashes, 32)(digitIn("1", "3", "5", "7", "9", "b", "d", "f")))
  }

  /** Reference form of `Dedup.minHashSig` (numHashes interpreted passes
    * over the shingle array). */
  def minHashSigHof(text: Column, shingleN: Int, numHashes: Int): Column =
    TextFunctions.bind(array_distinct(TextFunctions.shingles(text, shingleN))) { sh =>
      transform(sequence(lit(0), lit(numHashes - 1)),
        seed => aggregate(sh, lit(Long.MaxValue),
          (acc, s) => least(acc, xxhash64(s, seed))))
    }

  /** Reference form of `Dedup.minHashSigPortable`. */
  def minHashSigPortableHof(text: Column, shingleN: Int, numHashes: Int): Column =
    TextFunctions.bind(array_distinct(TextFunctions.shingles(text, shingleN))) { sh =>
      transform(sequence(lit(0), lit(numHashes - 1)), seed =>
        array_min(transform(sh, s =>
          ((conv(substring(md5(s), 1, 12), 16, 10).cast("long")
              % 1073741824L)
            * (lit(2654435761L) + seed.cast("long") * 80906L)
            + seed.cast("long")) % 1073741824L)))
    }
}
