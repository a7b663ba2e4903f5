package graft.llmops

import graft.functions.{MinHashFunctions, TextFunctions}
import graft.ops.PairGen
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (charter
  * extension). Four tiers, cheapest first:
  *
  *  1. exact       — hash-groupBy on content digest (one shuffle on digest)
  *  2. simhash     — 64-bit near-dup signature, Hamming-bucket join
  *  3. minhash+LSH — shingle → minhash → band → bucket join (Jaccard)
  *  4. n-gram Jaccard — exact pairwise Jaccard via inverted shingle index
  *
  * Scale notes: every variant shuffles on a *signature*, never on raw text;
  * pairwise comparisons only happen inside candidate buckets, so cost is
  * O(candidates), not O(n²). At 100 TB the band/bucket keys are the natural
  * partition keys, and hot buckets (boilerplate shingles) are capped with
  * `maxBucket` to bound skew — the standard trick from the dedup literature.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id doc per identical text; also reports
    * group size. One shuffle on the 128-bit digest, never on the text. */
  def exact(docs: DataFrame, id: String, text: String): DataFrame = {
    val h = md5(col(text))
    docs.withColumn("__h", h)
      .groupBy(col("__h").as("digest"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Exact dedup, returning the deduplicated rows themselves. */
  def exactRows(docs: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(md5(col(text))).orderBy(col(id))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** 64-bit SimHash of a document's token stream: per-token xxhash64 →
    * per-bit ±1 votes → sign bits. Lowered to the native one-pass
    * kernel ([[graft.functions.SimHash64Xx]]) since round 9 — the
    * composed HOF form paid a 64-element when-array per token,
    * measured as d27's 4.5 s bench wall (the same 80%-of-runtime shape
    * the r8 cost-share table found for d3). Bit-identical to
    * `simHash64Hof` (pinned by LlmOpsSpec). */
  def simHash64(text: Column): Column =
    graft.functions.SimHashFunctions.simHash64Xx(TextFunctions.tokens(text))

  /** C4/RefinedWeb-style corpus-level repeated-span scrub (Raffel et al.
    * 2020 §2.2 removes lines recurring ≥3× in the corpus; with
    * newline-free fixtures the unit here is the aligned `n`-token chunk):
    * every chunk whose exact text occurs at least `maxOccurs` times across
    * the WHOLE corpus is dropped from every document, and the survivors are
    * reassembled in order.
    *
    * Plan: chunk explode → global chunk-occurrence count (map-side
    * combined; the count table holds only chunks at/over threshold) →
    * anti-join → per-doc ordered reassembly. Three shuffles, all on
    * bounded keys (chunk hash, doc id); no driver-side state. At 100 TB
    * the hot-chunk table is boilerplate-sized (small) — Spark broadcasts
    * the anti-join side automatically under AQE when it fits. */
  def scrubRepeatedChunks(docs: DataFrame, id: String, text: String,
      n: Int, maxOccurs: Int): DataFrame = {
    val chunks = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id),
        TextFunctions.bind(TextFunctions.tokens(col(text))) { tk =>
          // ceil(|tokens|/n) aligned chunks; sequence() descends when the
          // stop is below the start, so the empty doc needs its own branch
          val nChunks = floor((size(tk) + (n - 1)) / lit(n.toDouble)).cast("long")
          when(size(tk) === 0, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0L), nChunks - 1),
              p => concat_ws(" ", slice(tk, (p * n + 1).cast("int"), lit(n)))))
        }.as("__cs"))
      .select(col(id), posexplode(col("__cs")).as(Seq("__p", "__c")))
    val hot = chunks.groupBy(col("__c")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= maxOccurs).select(col("__c"))
    val kept = chunks.join(hot, Seq("__c"), "left_anti")
    val rebuilt = kept.groupBy(col(id)).agg(
      count(lit(1)).as("__kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__p"), col("__c")))),
        s => s.getField("__c"))).as("clean_text"))
    val totals = chunks.groupBy(col(id)).agg(count(lit(1)).as("__total"))
    docs.select(col(id)).distinct()
      .join(totals, Seq(id), "left")
      .join(rebuilt, Seq(id), "left")
      .select(col(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("__total"), lit(0L))
          - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Cross-document duplicated-span detection — the relational lowering
    * of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": their suffix array finds
    * verbatim runs shared between documents; a single-node suffix array
    * over 100 TB doesn't distribute, but every shared run of ≥ k tokens
    * is a chain of shared k-shingles, so shingle-hash grouping + island
    * merge recovers the same spans).
    *
    * Stages, one shuffle each: (1) positional k-shingles, hashed — the
    * shuffle key is a digest, never text; (2) shingles seen in ≥ 2
    * DISTINCT docs (partial aggs combine map-side); (3) semi-join back;
    * (4) per-doc gaps-and-islands merge of adjacent duplicated positions
    * (window bounded by doc length). Boilerplate mega-shingles only
    * widen the group count, not any single partition.
    *
    * Output: (id, span_start, span_end, n_shingles) — token positions,
    * end inclusive; spans are maximal runs whose every k-window also
    * appears in some other document. */
  def duplicateSpans(docs: DataFrame, id: String, text: String,
      k: Int): DataFrame = {
    val toks = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id).as("__id"),
        TextFunctions.tokens(col(text)).as("__t"))
    // Explode POSITIONS and hash the k-token slice afterwards. The obvious
    // form — build the shingle array with `transform` and posexplode it —
    // is quadratic per doc: projection collapse makes the `transform` the
    // Generate's child, and Generate re-evaluates its child per emitted
    // element (measured 27× slower at sf0.1). A position generator's child
    // is a cheap int sequence, and the slice hash then runs once per row.
    // xxhash64 over the slice array: the hash is engine-internal (output
    // columns are positions only), so no portable-md5 string building.
    val sh = toks
      .select(col("__id"), col("__t"),
        explode(when(size(col("__t")) >= k,
            sequence(lit(0), size(col("__t")) - k))
          .otherwise(array().cast("array<int>"))).as("__pos"))
      .select(col("__id"), col("__pos"),
        xxhash64(slice(col("__t"), col("__pos") + 1, lit(k))).as("__h"))
    val dup = sh.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .where(col("__nd") >= 2).select(col("__h"))
    val hits = sh.join(dup, Seq("__h"), "left_semi")
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    hits
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("__id").as(id), col("span_start"), col("span_end"),
        col("n_shingles"))
  }

  /** Portable 32-bit SimHash: bit b of each token's hash is the top bit of
    * hex digit b+1 of `md5(token)` (digit ≥ '8'), so the whole signature —
    * tokenize → per-token hash → ±1 votes → sign bits — is replicable in
    * ANSI SQL by any engine with an md5 function (the oracle twin of
    * [[simHash64]], same relationship as `minHashSigPortable` to
    * `minHashSig`). 32 positions because md5 yields 32 hex digits; use
    * [[simHash64]] as the fast path where cross-engine parity is not
    * needed. Empty token streams yield signature 0.
    *
    * Lowered to the native one-pass kernel
    * ([[graft.functions.SimHash32Md5]]), bit-identical to the composed
    * `simHash32PortableHof` spec form (pinned by LlmOpsSpec; the HOF
    * form measured ~80% of d3's runtime — PLANS.md round 8). */
  def simHash32Portable(text: Column): Column =
    graft.functions.SimHashFunctions.simHash32Md5(TextFunctions.tokens(text))

  /** Engine-portable 64-bit SimHash fingerprint as `array<bigint>
    * [lo, hi]` — two 32-bit halves from ONE md5 per token (`lo` votes on
    * each hex digit's top bit, exactly [[simHash32Portable]]'s rule;
    * `hi` on its second bit), so `result[0]` is bit-identical to the
    * 32-bit signature and the whole fingerprint replicates in ANSI SQL
    * at no extra digest cost. Halves are non-negative (bits 0..31), so
    * band keys extracted by shift-and-mask never sign-extend — the
    * reason for two BIGINT halves instead of one 64-bit value whose top
    * bit would flip it negative under two engines' arithmetic shifts.
    * Lowered to the native one-pass kernel
    * ([[graft.functions.SimHash64Md5]]), bit-pinned to
    * `simHash64PortableHof` by LlmOpsSpec. Empty token streams yield
    * [0, 0]. */
  def simHash64Portable(text: Column): Column =
    graft.functions.SimHashFunctions.simHash64Md5(TextFunctions.tokens(text))

  /** SimHash near-dup candidate pairs: the 64-bit signature is cut into
    * `bands` equal bit-bands; docs sharing any full band become candidates
    * and are verified by exact Hamming distance ≤ `maxHamming`.
    *
    * Pigeonhole guarantee: a pair with Hamming distance < `bands` always
    * shares at least one clean band, so detection is EXACT below `bands`
    * differing bits and probabilistic above — pick `bands` > the
    * `maxHamming` you care about (default 8 bands ⇒ exact through 7).
    * Degenerate buckets (boilerplate clusters) are capped like the other
    * dedup variants; pairs are generated bucket-locally
    * ([[bucketLocalPairStructs]] — one shuffle, no self-join plan
    * duplication, same rationale as [[simHashPairsPortable]]). */
  def simHashPairs(docs: DataFrame, id: String, text: String,
      maxHamming: Int, bands: Int = 8, maxBucket: Int = 1000): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = bandStage(docs, id, text, 1, simHash64, sig =>
      (0 until bands).map(b => shiftright(sig, b * width).bitwiseAND(mask)))
    bucketLocalPairStructs(banded, maxBucket)
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Engine-portable SimHash near-dup pairs: [[simHash32Portable]]
    * signatures cut into `bands` equal bit-bands (band key = that band's
    * bits), docs sharing any full band verified by exact Hamming distance
    * ≤ `maxHamming` — the same pigeonhole mechanics as [[simHashPairs]]
    * (exact detection below `bands` differing bits) but on the md5-derived
    * 32-bit signature, so the whole pipeline — tokenize → vote → sign bits
    * → band → pair → popcount — is replicable in ANSI SQL by the DuckDB
    * oracle. Docs with no tokens are excluded (their signature would be
    * the degenerate all-zero value, pairing every empty doc with every
    * other). Hot (boilerplate) buckets are capped like every other dedup
    * variant; the cap runs before the pair stage so no unbounded bucket
    * ever reaches it.
    *
    * Pairs are generated bucket-locally ([[bucketLocalPairStructs]]), NOT
    * by a bucket-key self-join. The argument is structural, not speed:
    * at fixture scale the two forms measure at parity (PLANS.md round-8
    * banding A/B — ReusedExchange evaluates the signature pipeline once
    * for both join sides, so the feared re-evaluation never happens),
    * but the bucket-local form bounds the pair stage's memory at
    * maxBucket·|sig| per group and never pushes an O(bucket²) join
    * output through a shuffle — the property that matters when one hot
    * boilerplate bucket meets a 100 TB corpus.
    *
    * Capacity at scale: a 32-bit signature over 2 bands has 2^16 keys
    * per band, so expected bucket size grows as n/65536 — past ~100M
    * docs buckets cross any sane hot-bucket cap and the cap starts
    * silently excluding REAL near-dup mass (the exact failure the
    * 1000× d6 embedding run measured; PLANS.md round-8 capacity wall).
    * The scale form is [[simHashPairsAuto]] — a 64-bit fingerprint over
    * 4 auto-width bands (pigeonhole-exact through Hamming 3), with
    * [[simHashBucketHistogramAuto]] as the capacity monitor; this
    * 32-bit form is kept at the reference-scale operating point the d3
    * oracle replays bit-exactly. */
  def simHashPairsPortable(docs: DataFrame, id: String, text: String,
      maxHamming: Int, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    require(32 % bands == 0, s"bands must divide 32, got $bands")
    val width = 32 / bands
    val mask = (1L << width) - 1
    val banded = bandStage(docs, id, text, 1, simHash32Portable, sig =>
      (0 until bands).map(b => shiftright(sig, b * width).bitwiseAND(mask)))
    bucketLocalPairStructs(banded, maxBucket)
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Engine-portable 128-bit SimHash fingerprint as `array<bigint>
    * [p0..p3]` — FOUR 32-bit parts from ONE md5 per token, part k
    * voting on bit (8 >> k) of each hex digit, so p0 ≡
    * [[simHash32Portable]] and (p0, p1) ≡ [[simHash64Portable]]: each
    * narrower family is a prefix of this one at the same digest cost.
    * Native kernel [[graft.functions.SimHash128Md5]], bit-pinned to
    * LlmOpsSpec's `simHash128PortableHof`. This is the fingerprint the d24
    * residual-wall note names: four DISJOINT 32-bit lanes support
    * band widths up to [[SimSearch.autoWidth]]'s 24-bit cap, moving
    * the capacity wall from ~65k·target docs (64-bit, 16-bit lanes)
    * to ~16M·target. */
  def simHash128Portable(text: Column): Column =
    graft.functions.SimHashFunctions.simHash128Md5(TextFunctions.tokens(text))

  /** The 128-bit extension of [[simHashPairsAuto]] — same auto-width
    * contract, four DISJOINT bands that are simply the four fingerprint
    * parts masked to `autoWidth(n, target)` bits (≤ 24, no shifting):
    * pigeonhole-exact through Hamming 3 over the 128-bit distance, with
    * expected bucket size ≈ target up to ~16M·target docs — the family
    * the d24 residual-wall note prescribes past ~65k·target. Verification
    * Hamming is over all 128 projections, so the same `maxHamming`
    * is a STRICTER near-dup bar than d24's (more projections must
    * agree); pick thresholds per family, not across them. */
  def simHashPairsAuto128(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3, targetBucketSize: Long = 50L,
      maxBucket: Int = 1000, precountedN: Option[Long] = None): DataFrame =
    bucketLocalPairStructs(simHash128BandedAuto(docs, id, text,
        targetBucketSize, precountedN), maxBucket)
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        (0 until 4).map(k =>
          bit_count(element_at(col("p.a.sig"), k + 1)
            .bitwiseXOR(element_at(col("p.b.sig"), k + 1))))
          .reduce(_ + _).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** Capacity audit for [[simHashPairsAuto128]] — d25's histogram at
    * the 128-bit family's width. */
  def simHashBucketHistogramAuto128(docs: DataFrame, id: String,
      text: String, targetBucketSize: Long = 50L,
      precountedN: Option[Long] = None): DataFrame =
    simHash128BandedAuto(docs, id, text, targetBucketSize, precountedN)
      .groupBy(col("bk")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bk.band").cast("long").as("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))

  /** Shared signature+banding stage of the 128-bit family: band k =
    * part k & (2^w − 1), w = autoWidth (≤ 24 — beyond that buckets are
    * singletons at any achievable n). Empty-token docs excluded.
    *
    * Width basis: n = count over ALL docs (pre empty-token filter) —
    * deliberately, because the DuckDB oracle replays `count(*)` over the
    * whole table and the two engines must derive the same width. The
    * banded population is slightly smaller; the only effect is a
    * marginally wider band than the post-filter count would give (i.e.
    * slightly SMALLER buckets — conservative). Callers that already know
    * the corpus size pass `precountedN` to skip the count job. */
  private def simHash128BandedAuto(docs: DataFrame, id: String,
      text: String, targetBucketSize: Long,
      precountedN: Option[Long] = None): DataFrame = {
    val width = SimSearch.autoWidth(corpusSize(docs, precountedN),
      targetBucketSize)
    val mask = (1L << width) - 1
    bandStage(docs, id, text, 1, simHash128Portable, sig =>
      (0 until 4).map(k => element_at(sig, k + 1).bitwiseAND(mask)))
  }

  /** n for the auto-width families: `precountedN`, else a count of ALL
    * docs (the oracles' `count(*)` basis). A non-positive precount is a
    * caller bug that would silently diverge the width — fail loudly. */
  private def corpusSize(docs: DataFrame, precountedN: Option[Long]): Long = {
    require(precountedN.forall(_ > 0),
      s"precountedN must be positive when supplied, got $precountedN")
    math.max(1L, precountedN.getOrElse(docs.count()))
  }

  /** The scale re-family of [[simHashPairsPortable]] — the d22/d23
    * treatment applied to simhash's fixed-width banding wall: a 64-bit
    * fingerprint ([[simHash64Portable]]) over 4 disjoint bands whose
    * WIDTH is auto-sized from the corpus count
    * ([[SimSearch.autoWidth]], pure integer math the DuckDB oracle
    * replays via `length(bin(m-1))`), clamped to the 16 bits a quarter
    * of the fingerprint holds.
    *
    * Why: with any FIXED band width w, expected bucket size grows as
    * n/2^w until every bucket trips the hot-bucket cap and the pair
    * stage silently emits nothing — runtime defended, recall zero (the
    * exact failure the 1000× embedding run measured for d6, PLANS.md
    * "Round 8: the fixed-signature capacity wall, measured", and the
    * documented wall of [[simHashPairsPortable]]'s 2×16-bit form at
    * ~100M docs). Auto width keeps expected bucket size ≈
    * `targetBucketSize` at any corpus size up to the 16-bit clamp.
    *
    * Pigeonhole guarantee: the 4 bands are DISJOINT bit sets, so a pair
    * differing in ≤ 3 fingerprint bits always agrees on at least one
    * full band — detection is EXACT through Hamming 3 (the default
    * `maxHamming`) and probabilistic above, modulo the hot-bucket cap
    * (which [[simHashBucketHistogramAuto]] audits). Band b reads bits
    * [16b, 16b+w) of the fingerprint: bands 0-1 from the lo half at
    * shifts 0/16, bands 2-3 from the hi half — unused high bits of each
    * 16-bit lane still count toward verification Hamming, they just
    * don't key buckets.
    *
    * Residual wall, stated honestly: the clamp means expected bucket
    * size resumes growing as n/65536 past ~65k·targetBucketSize docs —
    * a 64-bit fingerprint cannot yield more than 4 disjoint 16-bit
    * bands. Past that point use [[simHashPairsAuto128]] (4 bits per md5
    * hex digit → four 32-bit lanes, widths to 24 bits, wall at
    * ~16M·target); [[simHashBucketHistogramAuto]] is the monitor that
    * says when. Costs one count job at plan time — at 100 TB a
    * metadata read on parquet sources. */
  def simHashPairsAuto(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3, targetBucketSize: Long = 50L,
      maxBucket: Int = 1000, precountedN: Option[Long] = None): DataFrame =
    bucketLocalPairStructs(simHashBandedAuto(docs, id, text,
        targetBucketSize, precountedN), maxBucket)
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        hamming64(col("p.a.sig"), col("p.b.sig")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** Capacity audit for [[simHashPairsAuto]]'s banding — the simhash
    * twin of [[SimSearch.lshBucketHistogramAuto]]: per-band bucket-size
    * histogram `(band, bucket_size, n_buckets)` at the exact width the
    * pair stage runs, so "rows silently lost to the hot-bucket cap" is
    * a monitoring query (bucket_size > cap rows never reach pair
    * generation), not a post-mortem. No pair stage — runs at any corpus
    * size; output is ≤ |distinct bucket sizes| × 4 rows. */
  def simHashBucketHistogramAuto(docs: DataFrame, id: String, text: String,
      targetBucketSize: Long = 50L,
      precountedN: Option[Long] = None): DataFrame =
    simHashBandedAuto(docs, id, text, targetBucketSize, precountedN)
      .groupBy(col("bk")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bk.band").cast("long").as("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))

  /** Shared signature+banding stage of [[simHashPairsAuto]] /
    * [[simHashBucketHistogramAuto]] — audit and pair stage must see the
    * SAME buckets. One row per (doc, band): doc, sig = [lo, hi], bk =
    * struct(band, key). Empty-token docs are excluded (their
    * fingerprint would be the degenerate [0, 0], pairing every empty
    * doc with every other).
    *
    * Width basis: n = count over ALL docs (pre empty-token filter), the
    * same `count(*)` the DuckDB oracle replays — see
    * [[simHash128BandedAuto]] for why that basis is the contract.
    * `precountedN` skips the count job when the caller already knows n
    * (e.g. chaining the pair stage with its histogram audit). */
  private def simHashBandedAuto(docs: DataFrame, id: String, text: String,
      targetBucketSize: Long, precountedN: Option[Long] = None): DataFrame = {
    val width = math.min(16,
      SimSearch.autoWidth(corpusSize(docs, precountedN), targetBucketSize))
    val mask = (1L << width) - 1
    bandStage(docs, id, text, 1, simHash64Portable, sig => Seq(
      element_at(sig, 1).bitwiseAND(mask),
      shiftright(element_at(sig, 1), 16).bitwiseAND(mask),
      element_at(sig, 2).bitwiseAND(mask),
      shiftright(element_at(sig, 2), 16).bitwiseAND(mask)))
  }

  /** Hamming distance between two [[simHash64Portable]] fingerprints
    * (popcount of both halves' XOR), as a long. */
  private def hamming64(a: Column, b: Column): Column =
    (bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1)))
      + bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2))))
      .cast("long")

  /** (n, detection frame) of [[simHashPlanAudit]] and
    * [[simHashWidenIfUndershot]]: exact pairs within `maxHamming`
    * (brute self-join BY DESIGN, the d37 sample contract) as (doc_a,
    * doc_b, __h), `__det` = 1 iff [[simHashBandedAuto]]'s capped
    * buckets caught the pair. */
  private def simHashDetection(docs: DataFrame, id: String, text: String,
      maxHamming: Int, targetBucketSize: Long, maxBucket: Int,
      precountedN: Option[Long]): (Long, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming must be in [0, 64], got $maxHamming")
    val n = corpusSize(docs, precountedN)
    val sig = signatures(docs, id, text, 1, simHash64Portable)
    val exact = sig.select(col("doc").as("doc_a"), col("sig").as("__sa"))
      .join(sig.select(col("doc").as("doc_b"), col("sig").as("__sb")),
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming64(col("__sa"), col("__sb")).as("__h"))
      .where(col("__h") <= maxHamming)
    val cand = bucketLocalPairStructs(
        simHashBandedAuto(docs, id, text, targetBucketSize, Some(n)),
        maxBucket)
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"))
      .distinct()
    (n, IndexMaintenance.detected(exact, cand, Seq("doc_a", "doc_b")))
  }

  /** Analytic detection probability of a pair at Hamming distance `h`
    * under `bands` DISJOINT `keyWidth`-bit band-key regions of a
    * `totalBits` signature — the SimHash family's reference curve,
    * playing the role MinHash's S-curve plays in [[bandPlanAudit]]:
    * with the h differing bits uniformly placed over the signature,
    * the pair is caught iff at least one band's key region holds none
    * of them, so by inclusion–exclusion over clean bands
    *
    * {{{
    *   P(h) = Σ_{m=1..bands} (−1)^{m+1} C(bands,m)
    *          · C(totalBits − m·keyWidth, h) / C(totalBits, h)
    * }}}
    *
    * `keyWidth` may be smaller than `totalBits / bands` — the auto
    * family keys only the low `autoWidth` bits of each 16-bit lane,
    * and un-keyed bits still count toward verification Hamming. P(h)
    * = 1 exactly for h < bands (the pigeonhole guarantee), decaying
    * hypergeometrically above. All binomials are EXACT BigInt
    * integers; in the audited near-dup range (h ≤ ~14 at 64 bits)
    * every one is < 2^53, so the terminal IEEE quotient is
    * reproducible in any engine — a DuckDB oracle recovers the same
    * integers via `round(exp(lgamma(·)))` and replays the same
    * division. */
  def simHashDetectionProb(totalBits: Int, bands: Int, keyWidth: Int,
      h: Int): Double = {
    require(totalBits >= 1 && bands >= 1 && keyWidth >= 1 &&
      bands * keyWidth <= totalBits,
      s"need bands·keyWidth ≤ totalBits, got ($totalBits, $bands, $keyWidth)")
    require(h >= 0 && h <= totalBits,
      s"h must be in [0, $totalBits], got $h")
    def c(n: Int, k: Int): BigInt =
      if (k < 0 || k > n) BigInt(0)
      // exact at every step: the running product after i factors IS
      // C(n-k+i, i) (an integer), so the division never truncates
      else (1 to k).foldLeft(BigInt(1))((a, i) => a * (n - k + i) / i)
    val num = (1 to bands).map { m =>
      val t = c(bands, m) * c(totalBits - m * keyWidth, h)
      if (m % 2 == 1) t else -t
    }.sum
    // both operands are < 2^53 (exact doubles), so this single IEEE
    // division is the same one the oracle's `num * 1.0 / den` performs
    num.toDouble / c(totalBits, h).toDouble
  }

  /** Empirical recall audit of the SimHash banding — the [[bandPlanAudit]]
    * / [[SimSearch.signBandPlanAudit]] discipline applied to the THIRD
    * banded family (which until now had only the d25/d30 CAPACITY
    * audits; detection itself went unmeasured, and the hot-bucket cap
    * means a boilerplate-heavy corpus can legitimately miss pairs the
    * pigeonhole bound promises): ground truth is the exact pairwise
    * 64-bit Hamming distance over [[simHash64Portable]] fingerprints,
    * audited through `maxHamming` (the near-dup region the layout
    * exists for); the banding stage under [[simHashPairsAuto]]'s
    * serving layout — 4 disjoint auto-width lanes
    * ([[simHashBandedAuto]], the SAME buckets the pair stage and the
    * d25 capacity audit see) — emits its candidate set (sharing ≥ 1
    * full band key, post hot-bucket cap); per exact Hamming distance
    * the audit reports measured detection beside
    * [[simHashDetectionProb]]'s analytic curve at (64, 4, width).
    * Buckets below 4 must read 1.0 unless the cap dropped rows —
    * exactly the silent-loss state this audit exists to surface.
    *
    * Scale contract: the exact side is brute O(n²/2) BY DESIGN — recall
    * is a per-pair property, so at 100 TB the caller audits a
    * deterministic md5 SAMPLE (the d37 contract, as the registered
    * query does) and the estimate is unbiased. The banded side is the
    * capped bucket join its own queries defend. Width basis n = count
    * over ALL docs (the oracle's `count(*)` basis); `precountedN`
    * skips the count job. Output: (h_bucket, n_pairs, n_detected,
    * detect_rate, predicted_prob, bands, width). */
  def simHashPlanAudit(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 12, targetBucketSize: Long = 50L,
      maxBucket: Int = 1000, precountedN: Option[Long] = None): DataFrame = {
    val (n, detected) = simHashDetection(docs, id, text, maxHamming,
      targetBucketSize, maxBucket, precountedN)
    val width = math.min(16, SimSearch.autoWidth(n, targetBucketSize))
    // analytic curve per Hamming value as a literal lookup: the layout
    // is a plan-time constant, so the BigInt combinatorics run on the
    // driver and only the final quotients enter the plan
    val pred = array((0 to maxHamming).map(h =>
      lit(simHashDetectionProb(64, 4, width, h))): _*)
    IndexMaintenance.bucketAudit(detected, col("__h"), "h_bucket",
      element_at(pred, col("h_bucket").cast("int") + 1),
      "bands" -> 4L, "width" -> width.toLong)
  }

  /** The SimHash family's ACT stage — [[bandReplanIfUndershot]]'s
    * fingerprint-width twin, completing the plan → audit → act matrix
    * for the third banded family (MinHash bands act via the d34/35/36
    * ladder, sign-LSH via [[SimSearch.signReplanIfUndershot]]; SimHash
    * acts HERE, and its only remedy dimension is fingerprint width —
    * the 4 disjoint lanes are fixed by construction, so the ladder is
    * the single 64 → 128 rung [[simHashPairsAuto128]] provides):
    * measure the CURRENT 64-bit auto-width layout's detection per
    * exact Hamming distance ≤ `maxHamming` (where the pigeonhole bound
    * promises 1.0 — any loss is the hot-bucket cap silently eating
    * near-dup mass, the d24 residual wall), trigger on the ANY-BUCKET
    * integer undershoot test (`n_detected·100 < targetDetectPct·n`,
    * exact counts), and on undershoot mandate the 128-bit family at
    * [[SimSearch.autoWidth]]'s un-16-clamped width. A corpus with no
    * qualifying pairs is a KEEP (no evidence — the quiet-interval
    * gate). Width basis n = count over ALL docs (the oracle's
    * `count(*)` basis, [[simHashBandedAuto]]'s contract);
    * `precountedN` skips the count job.
    *
    * Scale shape: brute exact side BY DESIGN (the d37 sample
    * contract); capped banded side; one ≤-(maxHamming+1)-row bucket
    * aggregate + a 1-row decision collect. Output: ONE all-integer row
    * — (widen, n_pairs, n_detected, n_buckets_below, sig_bits, bands,
    * band_width, new_sig_bits, new_bands, new_band_width) — pure
    * count/divide math a SQL oracle replays end to end; on KEEP the
    * new_* columns re-state the current layout. */
  def simHashWidenIfUndershot(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3, targetDetectPct: Int = 99,
      targetBucketSize: Long = 50L, maxBucket: Int = 1000,
      precountedN: Option[Long] = None): DataFrame = {
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    val (n, detected) = simHashDetection(docs, id, text, maxHamming,
      targetBucketSize, maxBucket, precountedN)
    val width = math.min(16, SimSearch.autoWidth(n, targetBucketSize))
    val (nPairs, nDet, nBelow, widen) =
      IndexMaintenance.undershoot(detected, col("__h"), targetDetectPct)
    val newWidth =
      if (widen) SimSearch.autoWidth(n, targetBucketSize) else width
    IndexMaintenance.decisionRow(docs.sparkSession,
      "widen" -> (if (widen) 1L else 0L), "n_pairs" -> nPairs,
      "n_detected" -> nDet, "n_buckets_below" -> nBelow,
      "sig_bits" -> 64L, "bands" -> 4L, "band_width" -> width.toLong,
      "new_sig_bits" -> (if (widen) 128L else 64L), "new_bands" -> 4L,
      "new_band_width" -> newWidth.toLong)
  }

  /** Detection probability of a pair with true Jaccard `j` under
    * (bands, rows) MinHash banding: `1 − (1 − j^rows)^bands` — the
    * standard LSH S-curve (a pair is caught iff at least one band's
    * `rows` signature positions all agree; positions agree
    * independently with probability j). Public so monitoring can plot
    * the curve an index was planned against. */
  def detectionProb(j: Double, bands: Int, rows: Int): Double = {
    require(j >= 0 && j <= 1 && bands >= 1 && rows >= 1)
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)
  }

  /** Analytic banding planner — the design-time companion of the d21
    * threshold sweep and the sim17 probe policy: given the signature
    * length, pick `(bands, rows = numHashes / bands)` meeting
    * `targetDetectPct` recall at the `minJaccard` operating point with
    * the FEWEST bands. Fewer bands = fewer bucket rows per doc (the
    * banding stage's shuffle volume and the streaming claim state both
    * scale with bands), so the cheapest qualifying pair is the right
    * one; when no divisor pair reaches the target the most-detecting
    * pair (max bands, rows = 1... i.e. bands = numHashes) is returned —
    * the caller's signal to lengthen the signature. Pure math, no data
    * pass: the S-curve is exact for MinHash position agreement, so
    * unlike sim17's measured calibration nothing here needs an oracle.
    */
  def bandPlan(numHashes: Int, minJaccard: Double,
      targetDetectPct: Int): (Int, Int) = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    // first qualifying in ascending band order IS the minimum because
    // P(b) is monotone increasing in b for fixed numHashes (splitting
    // bands grows the OR-power faster than shorter rows lose per-band
    // match probability) — pinned over generated (n, j) by
    // PropertiesSpec, not assumed
    IndexMaintenance.firstQualifying(
        (1 to numHashes).filter(numHashes % _ == 0),
        b => detectionProb(minJaccard, b, numHashes / b), targetDetectPct)
      .map(b => (b, numHashes / b))
      .getOrElse((numHashes, 1))
  }

  /** [[bandPlan]] as a relational query — the registry face of the
    * planner (same divisor scan, S-curve and fewest-qualifying-bands
    * choice, expressed in plain SQL arithmetic a DuckDB oracle replays
    * term for term, upgrading the PropertiesSpec brute-force pin to a
    * cross-engine row). Input: a grid frame with integer columns
    * `num_hashes`, `min_jaccard_pct`, `target_pct` (percents, so the
    * grid itself stays integer-exact across engines). Output per grid
    * row: the chosen (bands, rows_per_band) and the 6-dp detection
    * probability at the operating point — `detect_prob < target/100`
    * on an output row IS the honest ladder-max fallback (bands =
    * num_hashes, the caller's lengthen-the-signature signal).
    *
    * Grid rows are independent and the divisor explode is ≤ num_hashes
    * wide — the plan is one explode + one ≤-grid-sized aggregate + one
    * small join; the planner is design-time math, never data-sized.
    *
    * Input contract (where the driver-side [[bandPlan]] `require`s,
    * a relational plan cannot throw per-row): a grid row with
    * `num_hashes < 1` VANISHES from the output — its divisor sequence
    * is empty, so the explode eliminates it (callers validating a
    * user-supplied grid should count output vs input rows); an
    * out-of-range `target_pct` is accepted and behaves as the clamped
    * comparison implies — > 100 can never qualify so the row takes the
    * honest ladder-max fallback (bands = num_hashes), ≤ 0 qualifies at
    * the first divisor (bands = 1). Both behaviors are pinned by
    * LlmOpsSpec, not incidental.
    * `PlanPinSpec`-style parity with the driver-side [[bandPlan]] is
    * pinned by LlmOpsSpec over the full registered grid. */
  def bandPlanDf(grid: DataFrame): DataFrame = {
    val j = col("min_jaccard_pct").cast("double") / 100.0
    val cand = grid.select(
        col("num_hashes").cast("long").as("num_hashes"),
        col("min_jaccard_pct").cast("long").as("min_jaccard_pct"),
        col("target_pct").cast("long").as("target_pct"))
      // the num_hashes >= 1 guard makes the documented contract real:
      // sequence() under ANSI DESCENDS for nh < 1 (1, 0, …, nh), so an
      // unguarded divisor filter would hit remainder-by-zero instead of
      // dropping the row
      .withColumn("bands", explode(filter(
        when(col("num_hashes") >= 1L,
          sequence(lit(1L), col("num_hashes")))
          .otherwise(array().cast("array<long>")),
        b => col("num_hashes") % b === 0)))
      .withColumn("rows_per_band",
        (col("num_hashes") / col("bands")).cast("long"))
      .withColumn("__detect", lit(1.0) -
        pow(lit(1.0) - pow(j, col("rows_per_band").cast("double")),
          col("bands").cast("double")))
    val keys = Seq("num_hashes", "min_jaccard_pct", "target_pct")
    val chosen = cand
      .groupBy(keys.map(col): _*)
      .agg(coalesce(
        // EXACTLY bandPlan's comparison (detect >= target/100, not the
        // algebraically-equal detect*100 >= target) so the driver-side
        // planner and this plan can never split on a float ulp
        min(when(col("__detect")
          >= col("target_pct").cast("double") / 100.0, col("bands"))),
        first(col("num_hashes"))).as("bands"))
    chosen.join(cand, keys :+ "bands")
      .select(col("num_hashes"), col("min_jaccard_pct"),
        col("target_pct"), col("bands"), col("rows_per_band"),
        round(col("__detect"), 6).as("detect_prob"))
  }

  /** Empirical audit of the [[bandPlan]] S-curve — theory vs practice
    * on the actual corpus, closing the plan → operate → audit loop for
    * the banding family (the d23/d25 capacity-audit discipline applied
    * to the PLANNER): ground truth is the exact n-gram Jaccard of every
    * candidate pair ≥ `jaccardFloor` ([[ngramJaccardPairs]]); the
    * banding stage under the PLANNED (bands, rows) emits its candidate
    * set (threshold 0 — detection is sharing ≥ 1 band, before any
    * estimate filter); per 0.1-wide Jaccard bucket the audit reports
    * how many true pairs the banding caught against what the S-curve
    * predicted at the bucket midpoint. Buckets at/above the operating
    * point should meet the detection target; the sub-threshold buckets
    * show the filter-out rate the plan paid for its shuffle budget.
    *
    * All rates are IEEE quotients of exact integer counts (no terminal
    * rounding — bit-identical in any engine); the predicted curve is
    * the same pow() arithmetic d31 replays. Scale: the exact side is
    * the inverted-index join (hot shingles capped), the banded side the
    * capped bucket join — both the shapes their own queries defend.
    * Output: (j_bucket = min(floor(10·jaccard), 9) — bucket 9 is
    * closed-top so exact duplicates land in [0.9, 1.0] —, n_pairs,
    * n_detected, detect_rate, predicted_prob, bands, rows_per_band). */
  def bandPlanAudit(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, minJaccardPct: Int,
      targetDetectPct: Int, jaccardFloor: Double = 0.05,
      maxBucket: Int = 1000): DataFrame = {
    val (bands, rows) = plannedBands(numHashes, minJaccardPct,
      targetDetectPct)
    val mid = (col("j_bucket").cast("double") + 0.5) / 10.0
    IndexMaintenance.bucketAudit(
      minHashDetection(docs, id, text, shingleN, numHashes, bands,
        jaccardFloor, maxBucket),
      IndexMaintenance.closedDecile(col("jaccard")), "j_bucket",
      lit(1.0) - pow(lit(1.0) - pow(mid, lit(rows.toDouble)),
        lit(bands.toDouble)),
      "bands" -> bands.toLong, "rows_per_band" -> rows.toLong)
  }

  /** Detection frame of [[bandPlanAudit]] and [[bandReplanIfUndershot]]:
    * exact n-gram Jaccard pairs ≥ `jFloor` ([[ngramJaccardPairs]]),
    * flagged `__det` when the banding stage at (numHashes, bands) emits
    * them (threshold 0 — detection is sharing ≥ 1 band, before any
    * estimate filter). */
  private def minHashDetection(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, bands: Int, jFloor: Double,
      maxBucket: Int): DataFrame =
    IndexMaintenance.detected(
      ngramJaccardPairs(docs, id, text, shingleN, jFloor, maxBucket),
      minHashPairsPortable(docs, id, text, shingleN, numHashes, bands,
        minJaccard = 0.0, maxBucket),
      Seq("doc_a", "doc_b"))

  /** The remedy ladder behind [[bandReplanIfUndershot]], exposed as
    * pure math (the [[bandPlan]] discipline — PropertiesSpec pins it
    * over generated inputs, not just the registered points): the first
    * `curNumHashes · 2^k` (k = 0..maxDoublings) whose [[bandPlan]]
    * layout qualifies ANALYTICALLY at the operating point AND differs
    * from the failing `(curNumHashes, curBands)` layout; ladder-max
    * honest fallback `(nh_max, nh_max, 1)` when nothing qualifies.
    * Returns (numHashes, bands, rowsPerBand). */
  def bandReplanLadder(curNumHashes: Int, curBands: Int,
      minJaccard: Double, targetDetectPct: Int,
      maxDoublings: Int): (Int, Int, Int) =
    IndexMaintenance.doublingLadder(curNumHashes, curBands,
      bandPlan(_, minJaccard, targetDetectPct),
      detectionProb(minJaccard, _, _), targetDetectPct, maxDoublings)

  /** The banding lifecycle's ACT stage — the [[bandPlanAudit]] twin of
    * [[SimSearch.refitIfDrifted]]: measure the CURRENT (numHashes,
    * bands) layout's detection per exact-Jaccard bucket at/above the
    * declared operating point, decide replan by an integer-replayable
    * trigger, and when triggered choose the remedial layout from a
    * signature-doubling ladder — re-band at the same signature length
    * when a divisor layout qualifies analytically, lengthen the
    * signature otherwise (the two remedies the planner's own fallback
    * semantics name). Both the decision and the chosen plan are
    * deterministic count/divisor/S-curve math a SQL oracle replays end
    * to end (the sim22/sim23 policy discipline applied to banding
    * maintenance).
    *
    * Trigger (ANY-BUCKET, mirroring refitIfDrifted's any-cell drift
    * test): REPLAN when any 0.1-wide Jaccard bucket of qualifying pairs
    * (exact j ≥ minJaccardPct/100) has `n_detected·100 <
    * targetDetectPct·n_pairs` — integer math on exact counts, no float
    * knife edge. The test is per-bucket, NOT aggregate, because dup
    * mass dominates real corpora: a layout missing everything at
    * j ≈ 0.5 still aggregates > 80% when most qualifying pairs are
    * exact duplicates, exactly the miss the policy exists to catch.
    * Detection is the BANDING stage's candidate set (threshold 0,
    * [[bandPlanAudit]]'s definition) — the estimate filter is a
    * separate precision knob the S-curve does not model. A corpus with
    * NO qualifying pairs is a KEEP (no evidence — the quiet-interval
    * gate, same as refitIfDrifted's sum(n_new) > 0).
    *
    * Remedy ladder: the first `numHashes · 2^k` (k = 0..maxDoublings)
    * whose [[bandPlan]] layout qualifies ANALYTICALLY at the operating
    * point AND differs from the failing layout — k = 0 with a different
    * band count is action REBAND (1, same shuffle-volume class), a
    * longer signature is action LENGTHEN (2, more hashing but
    * rows-per-band kept high); when nothing on the ladder qualifies the
    * ladder-max honest fallback (bands = numHashes·2^maxDoublings,
    * rows = 1) ships, exactly [[bandPlan]]'s own signal. The
    * ≠-current filter matters for the theory–practice gap: a layout
    * that IS the planned one but empirically undershoots (capped
    * buckets, skewed shingles) must lengthen, not "re-band" to itself.
    *
    * Scale shape: one exact-pair inverted-index join + one banded
    * candidate join (both the capped shapes their own queries defend),
    * a ≤-10-row bucket aggregate, and a 1-row decision collect; the
    * ladder is pure driver math. Output: ONE row — (replan, action
    * 0 keep / 1 reband / 2 lengthen, n_pairs, n_detected,
    * n_buckets_below, num_hashes, bands, rows_per_band,
    * new_num_hashes, new_bands, new_rows_per_band, new_detect_prob
    * 6-dp) — the decision ships with the layout it mandates; on KEEP
    * the new_* columns re-state the current layout and its analytic
    * detection at the operating point. */
  def bandReplanIfUndershot(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, bands: Int, minJaccardPct: Int,
      targetDetectPct: Int, maxBucket: Int = 1000,
      maxDoublings: Int = 6): DataFrame = {
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes, got ($numHashes, $bands)")
    IndexMaintenance.requirePercent("minJaccardPct", minJaccardPct)
    IndexMaintenance.requirePercent("targetDetectPct", targetDetectPct)
    require(maxDoublings >= 0 && (numHashes.toLong << maxDoublings)
      <= Int.MaxValue, s"maxDoublings out of range: $maxDoublings")
    val j = minJaccardPct / 100.0
    // the operating-point filter IS the exact-pair floor: pairs below
    // the declared threshold carry no evidence about the target
    IndexMaintenance.replanIfUndershot(
      minHashDetection(docs, id, text, shingleN, numHashes, bands, j,
        maxBucket),
      IndexMaintenance.closedDecile(col("jaccard")), targetDetectPct,
      ("num_hashes", "bands", "rows_per_band"), numHashes, bands,
      bandReplanLadder(numHashes, bands, j, targetDetectPct, maxDoublings),
      detectionProb(j, _, _))
  }

  /** [[minHashPairsPortable]] with the band count chosen by [[bandPlan]]
    * instead of a caller constant — the planner wired as the banded
    * family's default chooser: bands = fewest divisors of `numHashes`
    * whose S-curve detection at the `minJaccardPct` operating point
    * meets `targetDetectPct`. The chosen plan ships as output columns
    * (`bands`, `rows_per_band`) so the decision is auditable and the
    * DuckDB twin replays the identical divisor scan before re-running
    * the banding it implies.
    *
    * The operating point is an integer PERCENT so the planner input is
    * engine-exact; the pair filter uses the same minJaccardPct/100
    * threshold. Capacity note: shuffle volume of the banding stage is
    * `bands` bucket rows per doc, so the fewest-qualifying-bands choice
    * is also the cheapest qualifying shuffle — at 100 TB, lengthening
    * the signature (more hashes) and re-planning beats manually raising
    * bands, because the planner keeps rows-per-band (the precision
    * knob) as high as the recall target allows. */
  def minHashPairsPortableAuto(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, minJaccardPct: Int,
      targetDetectPct: Int, maxBucket: Int = 200): DataFrame = {
    val (bands, rows) = plannedBands(numHashes, minJaccardPct,
      targetDetectPct)
    minHashPairsPortable(docs, id, text, shingleN, numHashes, bands,
        minJaccardPct / 100.0, maxBucket)
      .withColumn("bands", lit(bands.toLong))
      .withColumn("rows_per_band", lit(rows.toLong))
  }

  /** [[minHashPairs]] (the xxhash64 PRODUCTION kernel) with the band
    * count chosen by [[bandPlan]] — the fast path's default chooser,
    * mirroring [[minHashPairsPortableAuto]] so production and portable
    * twins always run the SAME planned layout (a twin relationship is
    * only meaningful at one operating point). Integer-percent operating
    * point in, fewest qualifying bands out; no plan columns here — the
    * fast path is rows-only by construction (xxhash64 has no SQL
    * replay), its oracle-exact twin carries the cross-engine proof. */
  def minHashPairsAuto(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, minJaccardPct: Int,
      targetDetectPct: Int, maxBucket: Int = 200): DataFrame = {
    val (bands, _) = plannedBands(numHashes, minJaccardPct, targetDetectPct)
    minHashPairs(docs, id, text, shingleN, numHashes, bands,
      minJaccardPct / 100.0, maxBucket)
  }

  /** [[minHashMatchesAgainst]] with the band count chosen by
    * [[bandPlan]] — the planner as the incremental/cross-set family's
    * default chooser (ingestion-time dedup and split-leakage audits
    * declare an operating point exactly like the self-pair family; a
    * caller-constant layout silently missing most true matches at its
    * own declared threshold is the round-11 verdict finding). */
  def minHashMatchesAgainstAuto(incoming: DataFrame, base: DataFrame,
      id: String, text: String, shingleN: Int, numHashes: Int,
      minJaccardPct: Int, targetDetectPct: Int,
      maxBucket: Int = 200): DataFrame = {
    val (bands, _) = plannedBands(numHashes, minJaccardPct, targetDetectPct)
    minHashMatchesAgainst(incoming, base, id, text, shingleN, numHashes,
      bands, minJaccardPct / 100.0, maxBucket)
  }

  /** [[bandPlan]] at an integer-PERCENT operating point — the chooser
    * behind every `*Auto` MinHash entry point. */
  private def plannedBands(numHashes: Int, minJaccardPct: Int,
      targetDetectPct: Int): (Int, Int) = {
    IndexMaintenance.requirePercent("minJaccardPct", minJaccardPct)
    bandPlan(numHashes, minJaccardPct / 100.0, targetDetectPct)
  }

  /** Band count for the SimHash Hamming-banded family — the planner's
    * answer is PIGEONHOLE, not an S-curve: `maxHamming` differing bits
    * can corrupt at most `maxHamming` of the disjoint bands, so
    * `maxHamming + 1` bands guarantee every qualifying pair shares at
    * least one clean band (recall exactly 1.0), and fewer bands cannot
    * (all differing bits could land in distinct bands). It is also the
    * fewest-bucket-rows choice — the shuffle-volume optimum — so unlike
    * MinHash there is no recall/shuffle trade to scan: the simhash
    * family's registered `bands = 4` at Hamming ≤ 3 IS the planned
    * layout. Width (bucket capacity) stays the separate
    * [[simHashPairsAuto]] corpus-count dimension. */
  def simHashBandPlan(maxHamming: Int): Int = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    maxHamming + 1
  }

  /** MinHash signature: `numHashes` independent permutations via seeded
    * xxhash64 over the shingle set — the native one-pass kernel
    * ([[graft.functions.MinHashSig]]; one string hash per shingle, cheap
    * per-seed int mixes). Bit-identical to LlmOpsSpec's `minHashSigHof`. */
  def minHashSig(text: Column, shingleN: Int, numHashes: Int): Column =
    MinHashFunctions.minHash(
      array_distinct(TextFunctions.shingles(text, shingleN)), numHashes)

  /** Engine-portable MinHash signature, md5-MIX family: ONE md5 per
    * shingle, per-seed values from an ANSI-safe 2-universal integer mix
    * of the digest's first 48 bits (see [[graft.functions.MinHashSigMix]]
    * for the formula) — reproducible in any engine with md5 and 64-bit
    * ints; the DuckDB oracles recompute it from
    * `CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)`. Replaced the
    * md5-per-seed family in round 8: that one paid `numHashes` digest
    * block transforms per shingle (~40% of every portable-minhash bench
    * query, PLANS.md cost-share table) for zero statistical benefit.
    * Native kernel bit-identical to LlmOpsSpec's `minHashSigPortableHof`; the
    * xxhash64 variant stays the production path. */
  def minHashSigPortable(text: Column, shingleN: Int, numHashes: Int): Column =
    MinHashFunctions.minHashMix(
      array_distinct(TextFunctions.shingles(text, shingleN)), numHashes)

  /** Portable near-dup pairs on the md5 signature: estimated Jaccard =
    * fraction of agreeing signature positions, pairs pre-filtered by
    * sharing at least one full band of `numHashes/bands` positions.
    * `bands` is a caller constant here; prefer
    * [[minHashPairsPortableAuto]], which derives it from [[bandPlan]]'s
    * S-curve at the operating point (and ships the choice as columns). */
  def minHashPairsPortable(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, bands: Int,
      minJaccard: Double, maxBucket: Int = 200): DataFrame =
    bucketLocalPairs(minHashBands(docs, id, text, shingleN, numHashes,
        bands, minHashSigPortable(_, shingleN, numHashes), bandKeyPortable),
        numHashes, maxBucket)
      .where(col("est_jaccard") >= minJaccard)
      .distinct()

  /** MinHash [[bandStage]]: `numHashes / bands` signature positions
    * per band, band b keyed by `bandKey(sig, b, rows)`. */
  private def minHashBands(docs: DataFrame, id: String, text: String,
      shingleN: Int, numHashes: Int, bands: Int, sig: Column => Column,
      bandKey: (Column, Int, Int) => Column): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently exclude trailing signature positions from every band")
    val rows = numHashes / bands
    bandStage(docs, id, text, shingleN, sig,
      s => (0 until bands).map(b => bandKey(s, b, rows)))
  }

  /** Portable band-bucket key for signature positions
    * [band·rows, (band+1)·rows): the one expression the batch cross-set
    * join and the streaming claim processor
    * ([[graft.streaming.StreamingDedup]]) must share — equal keys are
    * what makes a stream's match set line up with the batch twin's. */
  def bandKeyPortable(sig: Column, band: Int, rows: Int): Column =
    md5(concat_ws("|", transform(slice(sig, band * rows + 1, rows),
      v => v.cast("string"))))

  /** Incremental (new-vs-base) near-dup matches on the md5-portable
    * signature: each INCOMING doc is tested against the BASE corpus only —
    * the ingestion-time dedup shape (a new crawl snapshot against the
    * already-curated corpus, where re-pairing the base against itself
    * would be wasted work). Both sides band signatures exactly as
    * [[minHashPairsPortable]]; candidates come from an equi-join on the
    * (band, key) bucket — a shuffle on the bucket key, no self-pairing,
    * no broadcast, so both sides scale freely — with hot boilerplate
    * buckets capped per side by the same spillable window count.
    * Returns distinct (doc_new, doc_base, est_jaccard) ≥ `minJaccard`. */
  def minHashMatchesAgainst(incoming: DataFrame, base: DataFrame,
      id: String, text: String, shingleN: Int, numHashes: Int, bands: Int,
      minJaccard: Double, maxBucket: Int = 200): DataFrame = {
    def banded(docs: DataFrame, docCol: String, sigCol: String): DataFrame =
      PairGen.capped(minHashBands(docs, id, text, shingleN, numHashes,
          bands, minHashSigPortable(_, shingleN, numHashes),
          bandKeyPortable), "bk", maxBucket)
        .select(col("doc").as(docCol), col("sig").as(sigCol), col("bk"))
    banded(incoming, "doc_new", "__sn")
      .join(banded(base, "doc_base", "__sb"), "bk")
      .select(col("doc_new"), col("doc_base"),
        (size(filter(zip_with(col("__sn"), col("__sb"), (x, y) => x === y),
          v => v)).cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= minJaccard)
      .distinct()
  }

  /** The signature stage of every signature family: one (doc, sig) row
    * per doc with at least `minTokens` tokens — fewer would all share
    * one degenerate signature and pair at distance 0. The guard is the
    * token count, not the signature: a signature predicate is pushed
    * into the scan filter as extra full kernel evaluations per row. */
  private def signatures(docs: DataFrame, id: String, text: String,
      minTokens: Int, sig: Column => Column): DataFrame =
    graft.ops.Par.spread(docs.select(col(id), col(text)))
      .where(size(TextFunctions.tokens(col(text))) >= minTokens)
      .select(col(id).as("doc"), sig(col(text)).as("sig"))

  /** [[signatures]] banded: one (doc, sig, bk) row per (doc, band),
    * `bk = struct(band, key)` with band b keyed by `bandKeys(sig)(b)`. */
  private def bandStage(docs: DataFrame, id: String, text: String,
      minTokens: Int, sig: Column => Column,
      bandKeys: Column => Seq[Column]): DataFrame =
    signatures(docs, id, text, minTokens, sig)
      .select(col("doc"), col("sig"),
        explode(array(bandKeys(col("sig")).zipWithIndex.map { case (k, b) =>
          struct(lit(b).as("band"), k.as("key")) }: _*)).as("bk"))

  /** [[bucketLocalPairStructs]] scored by the signature-estimated
    * Jaccard (fraction of agreeing minhash positions). */
  private def bucketLocalPairs(banded: DataFrame, numHashes: Int,
      maxBucket: Int): DataFrame =
    bucketLocalPairStructs(banded, maxBucket).select(
      col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
      (size(filter(zip_with(col("p.a.sig"), col("p.b.sig"), (x, y) => x === y),
        v => v)).cast("double") / numHashes).as("est_jaccard"))

  /** Signature-agnostic core of [[bucketLocalPairs]]: cap, collect each
    * bucket's (doc, sig) members sorted by doc, and explode every i<j
    * member pair as one `p` struct column (`p.a` / `p.b`). The sort
    * guarantees a.doc <= b.doc; the trailing filter restores the STRICT
    * a.doc < b.doc contract the callers' DuckDB oracles use even when a
    * caller feeds duplicate doc ids. Works for any sig type — minhash
    * arrays and simhash longs share it. */
  private def bucketLocalPairStructs(banded: DataFrame,
      maxBucket: Int): DataFrame =
    PairGen.pairs(PairGen.members(banded, "bk",
        struct(col("doc"), col("sig")), maxBucket), "ms", "a", "b")
      .where(col("p.a.doc") =!= col("p.b.doc"))

  /** MinHash LSH near-dup pairs: signature → `bands` bands of
    * `numHashes/bands` rows → bucket join on (band, bandHash) → verify with
    * the signature-estimated Jaccard ≥ `minJaccard`. Choose `bands` with
    * [[bandPlan]] (fewest bands meeting the detection target = least
    * banding shuffle volume); the defaults here are bandPlan(16, 0.5, ~23%)
    * territory — fine for the production xxhash64 path's callers, who
    * historically set their own operating point. */
  def minHashPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    val banded = minHashBands(docs, id, text, shingleN, numHashes, bands,
      minHashSig(_, shingleN, numHashes), (sig, b, rows) =>
        xxhash64(concat_ws(",",
          transform(slice(sig, b * rows + 1, rows), _.cast("string")))))
    bucketLocalPairs(banded, numHashes, maxBucket)
      .where(col("est_jaccard") >= minJaccard)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs sharing ≥ 1
    * shingle, via an inverted index (explode → self-join on shingle →
    * group). `maxBucket` drops ultra-common shingles (boilerplate) to bound
    * join skew — they contribute no discriminative signal.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, minJaccard: Double,
      maxBucket: Int = 1000): DataFrame =
    shinglePairCounts(docs, id, text, shingleN, maxBucket)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Shingle-containment near-dup pairs: score = |A∩B| / min(|A|, |B|) —
    * the asymmetric companion to [[ngramJaccardPairs]]. Jaccard punishes
    * size mismatch (an excerpt inside a 3×-longer parent caps at ~1/3),
    * so quotation/excerpt/expanded-rewrite relations need containment:
    * a subset scores ~1.0 regardless of the size ratio. Same inverted
    * index, hot-shingle cap and bucket-local pair generation as d4 —
    * only the final normalization differs. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, minContainment: Double,
      maxBucket: Int = 1000): DataFrame =
    shinglePairCounts(docs, id, text, shingleN, maxBucket)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))

  /** Shared exact shingle-set intersection counting behind
    * [[ngramJaccardPairs]] / [[containmentPairs]]:
    * (doc_a, doc_b, na, nb, inter) for every pair sharing ≥ 1 surviving
    * shingle. */
  private def shinglePairCounts(docs: DataFrame, id: String, text: String,
      shingleN: Int, maxBucket: Int): DataFrame = {
    val sets = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id).as("doc"),
        array_distinct(TextFunctions.shingles(col(text), shingleN)).as("sh"))
    // set size rides along each inverted-index row so the final score
    // needs no extra join back to a sizes table (each join-back would
    // recompute the whole tokenize+shingle pipeline); the shingle string
    // is hashed to 64 bits BEFORE the shuffle — the window/groupBy keys
    // carry 8-byte longs instead of ~30-byte strings, and a 64-bit
    // collision (≈ n²/2⁶⁵) is negligible against the estimate itself
    val inv = sets.select(col("doc"), size(col("sh")).as("n"),
      explode(col("sh")).as("__s"))
      .select(col("doc"), col("n"), xxhash64(col("__s")).as("shingle"))
    // members sorted so doc_a < doc_b
    PairGen.pairs(PairGen.members(inv, "shingle",
        struct(col("doc"), col("n")), maxBucket), "ms", "a", "b")
      .groupBy(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Embedding-cosine near-dup pairs, banded ([[SimSearch.lshPairs]]),
    * with the band count chosen by
    * [[SimSearch.signBandPlan]] — the MinHash planner discipline
    * (declare an operating point, derive the fewest-qualifying-bands
    * layout, let the oracle replay the scan) applied to the sign-LSH
    * family's fixed-width form; growing corpora use
    * [[embeddingPairsBandedAutoPlanned]]. */
  def embeddingPairsBandedPlanned(embs: DataFrame, id: String,
      vec: String, dim: Int, minCosinePct: Int, nBits: Int,
      targetDetectPct: Int, maxBucket: Int = 2000): DataFrame = {
    val (bands, _) = SimSearch.signBandPlan(nBits, minCosinePct,
      targetDetectPct)
    SimSearch.lshPairs(embs, id, vec, dim, minCosinePct / 100.0, nBits,
      bands, maxBucket)
  }

  /** [[SimSearch.lshPairsAuto]] pairs with the band count planned from the
    * operating point ([[SimSearch.lshPairsAutoPlanned]]): width from
    * the corpus count, bands from the recall target — both sizing
    * dimensions closed. */
  def embeddingPairsBandedAutoPlanned(embs: DataFrame, id: String,
      vec: String, dim: Int, minCosinePct: Int, targetBucketSize: Long,
      targetDetectPct: Int, maxBucket: Int = 2000): DataFrame =
    SimSearch.lshPairsAutoPlanned(embs, id, vec, dim, minCosinePct,
      targetBucketSize, targetDetectPct, maxBucket)

  /** [[semDedup]] with the cell count auto-sized from the corpus count
    * ([[SimSearch.autoCells]]): expected cell size stays ≈
    * `targetCellSize` as the corpus grows, so the per-cell pair stage's
    * quadratic stays bounded by the TARGET, not by n/nCells — with a
    * fixed nCells, cells grow linearly with the corpus until they cross
    * `maxCell` and their rows silently stop being deduped (the same
    * wall shape as fixed-width LSH banding, in cap clothing). Pure
    * integer sizing the DuckDB twin replays. */
  def semDedupAuto(embs: DataFrame, id: String, vec: String,
      targetCellSize: Long, minCosine: Double,
      maxCell: Int = 100000): DataFrame =
    semDedup(embs, id, vec, SimSearch.autoCellsOf(embs, targetCellSize),
      minCosine, maxCell)

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup by
    * k-clustering the embedding space and dropping all but one member of
    * every near-duplicate pair WITHIN a cluster — the pruning recipe
    * behind several published LLM data curations. A row is dropped iff
    * some same-cell row with a smaller id has cosine ≥ `minCosine` to it
    * (the paper keeps one representative per semantic-dup group;
    * lowest-id is the deterministic choice).
    *
    * Centroids are the `nCells` rows with the lexicographically smallest
    * `md5(id)` — the same deterministic stand-in for fitted k-means
    * centers as [[SimSearch.ivfTopKPortable]], so assignment, pairing
    * and the keep decision all replicate in ANSI SQL; the production
    * path fits real centers once ([[SimSearch.ivfIndex]]) and keeps the
    * identical shape. Assignment ranks raw centroid cosine (ties →
    * lower cell id) — the exact cross-engine contract sim5's oracle
    * already proves out.
    *
    * Scale shape: assignment is a per-row expression over literal
    * centroids — the corpus is never shuffled to build the index; the
    * candidate quadratic is bounded by the CLUSTER (cells ≈ n/k — that
    * bound is SemDeDup's whole point), generated by a cell-keyed
    * self-equi-join (spillable sort-merge, no broadcast, no
    * collect_list). Because the dedup workload is exactly the one that
    * concentrates near-identical vectors into ONE cell, a degenerate
    * cell would make one task emit O(|cell|²) pairs — so cells larger
    * than `maxCell` are excluded from pair generation entirely (their
    * rows all come back `keep = true`), the same spillable
    * window-count posture as [[ngramJaccardPairs]]' hot-shingle cap
    * and [[SimSearch.lshPairs]]' bucket cap; an oversized cell is a
    * centroid-fit problem to solve upstream (more cells), not a
    * license for a quadratic task. Output: every input row as
    * (id, cell, keep). */
  def semDedup(embs: DataFrame, id: String, vec: String,
      nCells: Int, minCosine: Double, maxCell: Int = 100000): DataFrame = {
    import graft.functions.GraftFunctions
    val v = graft.ops.Par.spread(embs.select(col(id), col(vec)))
      .select(col(id).as("__id"),
        col(vec).cast("array<double>").as("__v"))
    val cents = SimSearch.mdPull(v, "__id", "__v", nCells)
    // cast back to long to keep the public `cell` type
    val assigned = v.withColumn("__cell",
      SimSearch.assignCell(col("__v"), cents).cast("long"))
    val inPlay = assigned
      .withColumn("__cn",
        count(lit(1)).over(Window.partitionBy(col("__cell"))))
      .where(col("__cn") <= maxCell)
    val dropped = inPlay
      .select(col("__cell"), col("__id").as("__lo"), col("__v").as("__vl"))
      .join(inPlay.select(col("__cell"), col("__id").as("__hi"),
        col("__v").as("__vr")), "__cell")
      .where(col("__lo") < col("__hi"))
      .where(GraftFunctions.cosine(col("__vl"), col("__vr")) >= minCosine)
      .select(col("__hi").as("__id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("__id"), "left")
      .select(col("__id").as(id), col("__cell").as("cell"),
        col("__dup").isNull.as("keep"))
  }

  /** Duplicate clusters: exact n-gram-Jaccard near-dup pairs grouped into
    * connected components (transitive closure — A≈B, B≈C ⇒ {A,B,C} even
    * when A,C aren't directly similar, the usual fuzzy-dedup contract).
    * Output: (id, cluster_id = min doc id of the component), one row per
    * doc that has ≥ 1 near-dup. Keep-one dedup = keep rows where
    * id == cluster_id (or join quality and keep the best per cluster). */
  def dupClusters(docs: DataFrame, id: String, text: String,
      shingleN: Int, minJaccard: Double,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = ngramJaccardPairs(docs, id, text, shingleN, minJaccard,
      maxBucket)
    graft.ops.Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc_a").as(id), col("component").as("cluster_id"))
  }

  /** Bloom-prefiltered exact dedup of an incoming batch against a huge
    * base corpus. At 100 TB the base's digest set doesn't fit a broadcast
    * and a full shuffle anti-join re-shuffles the BASE for every snapshot;
    * a Bloom filter over the base digests is megabytes, so:
    *
    *  1. build the sketch DISTRIBUTED (Catalyst `bloom_filter_agg` —
    *     partial sketches merge map-side; only the final ~MB bitmap
    *     reaches the driver, the same lifecycle Spark's own runtime
    *     row-level filters use for their scalar subquery);
    *  2. `might_contain` — codegen'd, no UDF — splits incoming into
    *     definitely-new (bloom negative: provably not in the base, kept
    *     with NO join at all) and suspects (bloom positive);
    *  3. only the suspects — |true dups| + fpp·|incoming| rows — pay the
    *     exact anti-join that clears false positives.
    *
    * The result is EXACT (bloom errors only route rows to the confirm
    * join), so the oracle is the plain anti-join. Sketch build cost is
    * one pass over the base, amortizable across snapshots by persisting
    * the sketch bytes.
    */
  def bloomNewDocs(incoming: DataFrame, base: DataFrame, text: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.GraftSqlShim.{column, expression}
    import org.apache.spark.sql.types.BinaryType

    val digest = xxhash64(col(text))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val sketchCol = column(new BloomFilterAggregate(expression(digest),
      expression(lit(expectedItems)), expression(lit(numBits)))
      .toAggregateExpression())
    // one auxiliary job: the ~MB sketch is the only thing collected
    val sketch = base.select(sketchCol).head.get(0)
    if (sketch == null) incoming // empty base: everything is new
    else {
      val might = column(BloomFilterMightContain(
        Literal(sketch, BinaryType), expression(digest)))
      val clear = incoming.where(!might)
      val suspects = incoming.where(might)
      val confirmedNew = suspects.join(
        base.select(md5(col(text)).as("__basedigest")).distinct(),
        md5(col(text)) === col("__basedigest"), "left_anti")
      clear.unionByName(confirmedNew.select(clear.columns.map(col): _*))
    }
  }
}
