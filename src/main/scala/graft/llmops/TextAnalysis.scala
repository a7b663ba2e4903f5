package graft.llmops

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis for corpus curation (charter extension):
  * language ID, quality scoring, token statistics, fingerprinting.
  * Single narrow projection over the corpus — no shuffle; every metric is a
  * codegen'd expression from [[graft.functions.TextFunctions]].
  */
object TextAnalysis {

  /** Stopword profiles for the 5 fixture languages. Tiny on purpose: the
    * operator contract is the voting mechanism, not lexicon quality. */
  val defaultProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "en"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人"))

  /** Train→test n-gram contamination check (the standard eval-set leak
    * scan in LLM data pipelines): for each test doc, the fraction of its
    * distinct word `shingleN`-grams that occur ANYWHERE in the train
    * corpus. One shuffle on the shingle string (inverted-vocabulary
    * semi-join) + one per-doc aggregation; the train vocabulary is
    * distinct-deduped before the join so hot boilerplate shingles don't
    * skew it. Docs with fewer than `shingleN` tokens have no shingles and
    * report containment 0. */
  def contamination(test: DataFrame, train: DataFrame, id: String,
      text: String, shingleN: Int): DataFrame = {
    // shingles are hashed to 64 bits before the shuffle (8-byte join keys;
    // collision odds ≈ |vocab|²/2⁶⁵ — noise against the containment ratio)
    val testSh = graft.ops.Par.spread(test.select(col(id), col(text)))
      .select(col(id),
        array_distinct(TextFunctions.shingles(col(text), shingleN)).as("__sh"))
      .select(col(id), size(col("__sh")).as("n_shingles"),
        explode_outer(col("__sh")).as("__s"))
      .select(col(id), col("n_shingles"),
        // xxhash64(null) yields the seed, not null — keep the no-shingle
        // placeholder row null so it can't spuriously match the vocab
        when(col("__s").isNotNull, xxhash64(col("__s"))).as("__shingle"))
    val vocab = graft.ops.Par.spread(train.select(col(text)))
      .select(
        explode(TextFunctions.shingles(col(text), shingleN)).as("__s"))
      .select(xxhash64(col("__s")).as("__shingle"))
      .distinct()
    val hits = testSh.join(vocab, Seq("__shingle"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("__hit"))
    testSh.select(col(id), col("n_shingles")).distinct()
      .join(hits, Seq(id), "left")
      .select(col(id), col("n_shingles").cast("long").as("n_shingles"),
        coalesce(col("__hit"), lit(0L)).as("n_contaminated"),
        round(when(col("n_shingles") > 0,
            coalesce(col("__hit"), lit(0L)).cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)), 6).as("containment"))
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models", §A1.1 repetition filters): documents
    * dominated by a few words or by duplicated n-grams are boilerplate/spam
    * candidates. Per doc:
    *  - `distinct_word_frac` — |distinct words| / |words|;
    *  - `top_word_frac` — occurrences of the most frequent word / |words|;
    *  - `dup_3gram_frac` — fraction of 3-gram occurrences whose 3-gram
    *    appears more than once in the doc.
    *
    * Lowered relationally (explode → two-level aggregate), not as per-row
    * array expressions: the per-(doc, word) partial aggregation map-side
    * combines, so the shuffle carries one row per distinct word per doc —
    * scale-safe for arbitrarily long documents where an O(|doc|²) HOF
    * nested loop is not. */
  def repetitionSignals(docs: DataFrame, id: String, text: String): DataFrame = {
    val d = graft.ops.Par.spread(docs.select(col(id), col(text)))
    val words = d
      .select(col(id), explode(TextFunctions.tokens(col(text))).as("__w"))
      .groupBy(col(id), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id)).agg(
        sum(col("__c")).as("__n"),
        count(lit(1)).as("__d"),
        max(col("__c")).as("__top"))
    val grams = d
      .select(col(id),
        explode(TextFunctions.shingles(col(text), 3)).as("__g"))
      .groupBy(col(id), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id)).agg(
        sum(col("__c")).as("__gn"),
        sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L))).as("__gdup"))
    docs.select(col(id)).distinct()
      .join(words, Seq(id), "left")
      .join(grams, Seq(id), "left")
      .select(col(id),
        coalesce(col("__n"), lit(0L)).as("n_words"),
        round(when(col("__n") > 0,
            col("__d").cast("double") / col("__n")).otherwise(lit(0.0)), 6)
          .as("distinct_word_frac"),
        round(when(col("__n") > 0,
            col("__top").cast("double") / col("__n")).otherwise(lit(0.0)), 6)
          .as("top_word_frac"),
        round(when(col("__gn") > 0,
            col("__gdup").cast("double") / col("__gn")).otherwise(lit(0.0)), 6)
          .as("dup_3gram_frac"))
  }

  /** TF-IDF keyword extraction: the `topK` most characteristic tokens per
    * document. The classic corpus-curation signal (topic tagging, near-dup
    * triage, quality heuristics all consume it).
    *
    * Lowered as: explode → per-(doc, token) count (map-side combined, one
    * shuffle on the doc id) → token document-frequency (second aggregate on
    * the token — the tf rows are already distinct (doc, token) pairs, so no
    * extra dedup pass) → broadcast 1-row corpus size → per-doc top-K rank
    * window. Shuffles carry (id, token) scalars only; no step is
    * corpus-quadratic, and the rank window partitions on the doc id so the
    * topmost frame is per-document, never global.
    *
    * Ranking uses the ROUNDED score (6 dp) with the token as tie-break, so
    * the ordering is reproducible bit-exactly in any engine (`ln` may
    * differ in the last ulp across libms; 6 dp absorbs it).
    */
  def tfidfKeywords(docs: DataFrame, id: String, text: String,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(TextFunctions.tokens(col(text))).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(id)).as("__n"))
    val scored = tf
      .join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(id))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col(id), col("token"), col("tf"), col("df"), col("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** CCNet-style unigram language-model scoring: token probabilities are
    * estimated from the corpus itself, then each document is scored by its
    * mean negative log-probability — high = rare/gibberish phrasing, the
    * standard cheap perplexity proxy for corpus quality filtering (CCNet,
    * Wenzek et al. 2020 trains a small LM on a reference corpus; the
    * relational lowering is identical with a second `train` frame).
    *
    * One shuffle on (doc, token) with map-side combine, a vocabulary-sized
    * aggregate, a 1-row total broadcast, then a shuffle join back on the
    * token. Per-doc duplicates ride the `tf` weight (the score join
    * carries distinct (doc, token) rows only, so a long repetitive doc
    * doesn't inflate the join). Token-less docs keep a row with score 0.
    */
  def unigramLogProb(docs: DataFrame, id: String, text: String): DataFrame = {
    val tf = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(TextFunctions.tokens(col(text))).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val total = counts.agg(sum(col("c")).as("__t"))
    val scored = tf
      .join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col(id))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * -log(col("c").cast("double") / col("__t"))) /
          sum(col("tf")), 6).as("avg_neg_logp"))
    docs.select(col(id)).distinct()
      .join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("avg_neg_logp"), lit(0.0)).as("avg_neg_logp"))
  }

  /** Okapi BM25 retrieval scoring — the lexical counterpart of the ANN
    * family ([[SimSearch]]): score every document against a query term
    * set with the standard `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * weighting (Robertson & Zaragoza 2009; idf in the Lucene form
    * `ln(1 + (N−df+0.5)/(df+0.5))`, which never goes negative). The
    * hybrid-retrieval pattern every RAG pipeline runs is exactly
    * BM25 ∪ ANN → rerank.
    *
    * Lowering: one explode, filtered to query-term MATCHES before the
    * aggregate — the shuffled (doc, term, tf) stream is bounded by
    * query hits, not corpus tokens; the doc length rides the explode
    * row (a per-row expression) so no second corpus scan or dl-join is
    * needed. df per term and the (N, avgdl) pair are tiny aggregates
    * (≤ |terms| + 1 rows) broadcast back; the top-k cut is
    * `TakeOrderedAndProject` (per-partition heap, k·P driver merge),
    * never a global sort. No step is corpus-quadratic and nothing
    * data-sized funnels to one partition (the rank window runs over
    * the ≤ k surviving rows).
    *
    * Scores are ROUNDED (6 dp) before ranking with the doc id as
    * tie-break, so ordering is bit-reproducible across engines (same
    * contract as [[tfidfKeywords]]). Docs with no query hit never
    * surface (score 0 — retrieval drops them).
    * Output: (id, n_hits, score, rank), the top `k` docs. */
  def bm25(docs: DataFrame, id: String, text: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = docs
      .select(TextFunctions.tokenCount(col(text)).cast("double").as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("__dl")).as("__avgdl"))
    val tf = docs
      .select(col(id),
        TextFunctions.tokenCount(col(text)).cast("double").as("__dl"),
        explode(TextFunctions.tokens(col(text))).as("__t"))
      .where(col("__t").isin(terms: _*))
      .groupBy(col(id), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"), max(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).cast("double").as("__df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("__t"))
      .crossJoin(broadcast(stats))
      .select(col(id),
        (log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          col("__tf") * (k1 + 1) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) *
            col("__dl") / col("__avgdl")))).as("__c"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"), round(sum(col("__c")), 6).as("score"))
    val top = graft.ops.TopK.global(scored,
      Seq(col("score").desc, col(id)), k)
    top.withColumn("rank", // global window: ≤ k rows
      row_number().over(Window.orderBy(col("score").desc, col(id))).cast("long"))
  }

  /** BPE merge training (Sennrich et al. 2016) — learn the first
    * `rounds` byte-pair merges from the corpus. Each round counts
    * adjacent symbol pairs over the VOCABULARY (distinct words × word
    * count — the aggregation that makes corpus size irrelevant: a
    * 100 TB crawl and its word-count table train identically), picks
    * the most frequent pair (count desc, then lexicographic — fully
    * deterministic), and merges its occurrences left-to-right greedily
    * ("aaaa" + merge (a,a) → [aa][aa], not three overlapping merges).
    *
    * Relational lowering, no joins in the loop: pair alignment is a
    * `lead` window per word; greedy overlap resolution is
    * gaps-and-islands — candidate runs group by `pos − running
    * candidate count`, and a candidate merges iff its offset from the
    * island's first candidate is even; absorbed rows are `lag(keep)`.
    * All windows partition by word (bounded by word length); the only
    * driver fetch is the per-round 1-row argmax (same bounded
    * plan-time-fetch class as the IVF centroid pull). The evolving
    * segmentation is persisted per round so round r+1 reads the
    * cached round-r frame instead of replaying the whole chain.
    *
    * Stops early when no adjacent pair remains. Output: one row per
    * learned merge, (merge_round, lhs, rhs, pair_count). */
  def bpeTrain(docs: DataFrame, text: String, rounds: Int): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(explode(TextFunctions.tokens(col(text))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
    val syms = words
      .select(col("__w"), col("__n"),
        explode(sequence(lit(1), length(col("__w")))).as("__pos"))
      .select(col("__w"), col("__n"), col("__pos"),
        col("__w").substr(col("__pos"), lit(1)).as("__sym"))
    val merges = scala.collection.mutable.Buffer.empty[(Long, String, String, Long)]
    val byPos = Window.partitionBy(col("__w")).orderBy(col("__pos"))
    val (fin, _) = graft.ops.Iterate.rounds(syms, rounds,
        snapInit = true) { (syms, round) =>
      val paired = syms.withColumn("__nxt", lead(col("__sym"), 1).over(byPos))
      val best = paired.where(col("__nxt").isNotNull)
        .groupBy(col("__sym"), col("__nxt")).agg(sum(col("__n")).as("__c"))
        .orderBy(col("__c").desc, col("__sym"), col("__nxt"))
        .limit(1).collect()
      if (best.isEmpty) None
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((round.toLong, l, r, c))
        Some(applyMerge(paired, l, r))
      }
    }
    // `out` is a local relation (the merges were already fetched), so the
    // final round's blocks can be released before returning it.
    graft.ops.Iterate.release(fin)
    val out = merges.toSeq.toDF("merge_round", "lhs", "rhs", "pair_count")
    out
  }

  /** One greedy left-to-right application of merge (l, r) over a paired
    * symbol frame (__w, __n, __pos, __sym, __nxt): gaps-and-islands over
    * candidate positions, even island offsets merge, the following row is
    * absorbed, positions re-densified. All windows partition by word. */
  private def applyMerge(paired: DataFrame, l: String, r: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("__w")).orderBy(col("__pos"))
    paired
      .withColumn("__isc",
        coalesce(col("__sym") === l && col("__nxt") === r, lit(false)))
      .withColumn("__grp", col("__pos") -
        sum(when(col("__isc"), 1L).otherwise(0L)).over(byPos))
      .withColumn("__keep", col("__isc") &&
        (col("__pos") - min(when(col("__isc"), col("__pos")))
          .over(Window.partitionBy(col("__w"), col("__grp")))) % 2 === 0)
      .withColumn("__abs",
        coalesce(lag(col("__keep"), 1).over(byPos), lit(false)))
      .where(!col("__abs"))
      .select(col("__w"), col("__n"),
        row_number().over(byPos).as("__pos"),
        when(col("__keep"), concat(col("__sym"), col("__nxt")))
          .otherwise(col("__sym")).as("__sym"))
  }

  /** BPE segmentation with a LEARNED merge table — the inference half of
    * [[bpeTrain]]: re-derive the vocabulary segmentation by applying the
    * merges in priority order, then count BPE tokens per document (the
    * number every token-budget / packing / billing pipeline consumes;
    * whitespace token count rides along for the compression ratio).
    * The merge list is plan-side data (a handful of rows), so the chain
    * is |merges| window stages over the vocabulary — corpus cost is one
    * tokenize + one word join, independent of merge count. */
  def bpeSegment(docs: DataFrame, id: String, text: String,
      merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("__w")).orderBy(col("__pos"))
    val docWords = docs
      .select(col(id), explode(TextFunctions.tokens(col(text))).as("__w"))
    val words = docWords.groupBy(col("__w")).agg(count(lit(1)).as("__n"))
    var syms = words
      .select(col("__w"), col("__n"),
        explode(sequence(lit(1), length(col("__w")))).as("__pos"))
      .select(col("__w"), col("__n"), col("__pos"),
        col("__w").substr(col("__pos"), lit(1)).as("__sym"))
    merges.foreach { case (l, r) =>
      syms = applyMerge(
        syms.withColumn("__nxt", lead(col("__sym"), 1).over(byPos)), l, r)
    }
    val wordLens = syms.groupBy(col("__w")).agg(count(lit(1)).as("__bpe"))
    docWords.join(wordLens, Seq("__w"))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__bpe")).cast("long").as("n_bpe_tokens"))
  }

  /** Overlapping token-window chunking — the standard prep step between
    * a raw corpus and an embedding/RAG index (every retrieval pipeline
    * slices documents into fixed windows with stride overlap so
    * retrieval granularity stays bounded and boundary sentences appear
    * in two chunks). Windows start at 0, `stride`, 2·stride, …; the
    * last window is the first one that reaches the end of the doc (it
    * may be shorter than `window`). Tokens are [[TextFunctions.tokens]]
    * (lowercased, whitespace-split), chunk text re-joined with single
    * spaces — a normalization, documented as part of the contract.
    *
    * Pure per-row expression fan-out (transform + explode — no shuffle,
    * no UDF); output rows ≈ input tokens / stride regardless of doc
    * skew, so one giant doc cannot hot-spot a partition the way
    * doc-keyed chunk aggregation would.
    * Output: (id, chunk_id, n_tokens, chunk_text); token-less docs
    * yield no rows. */
  def chunkDocs(docs: DataFrame, id: String, text: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= stride && stride > 0,
      s"need window ($window) >= stride ($stride) > 0 — a stride past " +
        "the window would silently skip tokens between chunks")
    val chunks = TextFunctions.bind(TextFunctions.tokens(col(text))) { ws =>
      when(size(ws) > 0,
        transform(
          sequence(lit(0),
            ceil(greatest(size(ws) - window, lit(0)).cast("double") / stride)
              .cast("int")),
          k => struct(k.cast("long").as("chunk_id"),
            slice(ws, k * stride + 1, lit(window)).as("toks"))))
        .otherwise(array().cast("array<struct<chunk_id:bigint,toks:array<string>>>"))
    }
    graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(chunks).as("__c"))
      .select(col(id), col("__c.chunk_id").as("chunk_id"),
        size(col("__c.toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__c.toks")).as("chunk_text"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data Selection
    * for Language Models via Importance Resampling"): each document is
    * scored by how much likelier its hashed-bigram bag is under a TARGET
    * distribution than under the RAW corpus distribution —
    * `log_w(x) = Σ_f log p_t(f) − log p_r(f)` over the doc's bigram
    * occurrences. Importance resampling keeps high-weight docs when
    * curating raw web data toward a target domain; this emits the
    * per-doc weight the sampler consumes (feed `exp(log_w)` to
    * [[graft.ops.Sampling.mixtureSample]]-style pickers or threshold
    * with [[quantileFilter]]).
    *
    * Features are word bigrams hashed into `nBuckets` buckets with the
    * portable md5 hash ([[graft.ops.Sampling.weightedNegatives]]'
    * recipe), so the whole pipeline replicates in ANSI SQL. Bucket
    * distributions are Laplace-smoothed by +0.5 per bucket (the
    * [[graft.evalx.Metrics.psi]] convention) so empty buckets stay
    * finite. `targetFilter` selects the in-corpus target sample; a
    * separate seed corpus would be a second input at scale — same plan.
    *
    * Scale shape: two bounded aggregations (≤ nBuckets rows each,
    * broadcast back), per-doc sums ride `tf` weights over DISTINCT
    * (doc, bucket) rows like [[unigramLogProb]] — map-side combinable,
    * shuffle keys are scalars. Output: (id, n_grams, log_w); docs with
    * < 2 tokens have no bigrams and report (0, 0.0). */
  def dsirWeights(docs: DataFrame, id: String, text: String,
      targetFilter: Column, nBuckets: Int): DataFrame = {
    val grams = TextFunctions.bind(TextFunctions.tokens(col(text))) { ws =>
      // sequence() descends when stop < start — guard the 0/1-token case
      when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1), i =>
          concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
    }
    // targetFilter may reference ANY input column — evaluate it into the
    // spread projection (a boolean) rather than projecting it away
    val exploded = graft.ops.Par.spread(
        docs.select(col(id), targetFilter.as("__t"), col(text)))
      .select(col(id), col("__t"), explode(grams).as("__g"))
      .select(col(id), col("__t"),
        (conv(substring(md5(col("__g")), 1, 12), 16, 10).cast("long")
          % nBuckets).as("__b"))
    val raw = exploded.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val tgt = exploded.where(col("__t"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val buckets = raw.join(tgt, Seq("__b"), "left")
      .select(col("__b"), col("__cr"),
        coalesce(col("__ct"), lit(0L)).as("__ct"))
    val totals = buckets.agg(sum(col("__cr")).as("__tr"),
      sum(col("__ct")).as("__tt"))
    val table = buckets.crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((col("__ct") + 0.5) / (col("__tt") + 0.5 * nBuckets)) -
          log((col("__cr") + 0.5) / (col("__tr") + 0.5 * nBuckets)))
          .as("__lw"))
    val scored = exploded.groupBy(col(id), col("__b"))
      .agg(count(lit(1)).as("__tf"))
      .join(broadcast(table), Seq("__b"))
      .groupBy(col(id))
      .agg(sum(col("__tf")).as("n_grams"),
        round(sum(col("__tf") * col("__lw")), 6).as("log_w"))
    docs.select(col(id)).distinct()
      .join(scored, Seq(id), "left")
      .select(col(id), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  /** BPE merge-pair counting — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count adjacent symbol
    * pairs across the corpus and rank candidates for the next merge.
    * This computes the FIRST merge iteration over characters, the
    * map-reduce-heavy step a 100 TB corpus actually distributes (later
    * iterations work on the tiny merged vocabulary driver-side in every
    * practical trainer).
    *
    * Lowering: word-frequency table first (groupBy word — BPE's standard
    * dictionary compression: each distinct word is processed once and
    * carries its count), then per-word adjacent character pairs weighted
    * by the word count. Shuffle keys are (word) then (pair) scalars.
    */
  def bpePairCounts(docs: DataFrame, id: String, text: String,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = graft.ops.Par.spread(docs.select(col(text)))
      .select(explode(TextFunctions.tokens(col(text))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val pairs = words
      .where(length(col("word")) >= 2)
      .select(col("wc"), explode(TextFunctions.bind(col("word")) { w =>
        transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2)))
      }).as("pair"))
    // global top-K via TakeOrderedAndProject (per-partition heaps — never
    // a full sort); the rank window then runs over the K surviving rows
    // only, so its single partition is constant-bounded, not data-sized
    val top = pairs.groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topK)
    top.withColumn("rank", // global window: ≤ topK rows
      row_number().over(Window.orderBy(col("n").desc, col("pair"))).cast("long"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every k-token shingle, slide a window of
    * `w` consecutive hashes, keep each window's minimum. Guarantee: any
    * shared run of ≥ w+k-1 tokens between two documents yields at least
    * one shared fingerprint, while only ~2/(w+1) of all shingle hashes
    * are kept — position-robust LOCAL overlap detection (quotes, licence
    * boilerplate, copied paragraphs) where MinHash measures global
    * set resemblance. Pure codegen HOFs (transform/slice/array_min), no
    * shuffle, no UDF; md5 shingle hashes keep the column
    * oracle-portable. Docs shorter than one window keep the single
    * global minimum; docs with < k tokens have no fingerprints. */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    TextFunctions.bind(
        transform(TextFunctions.shingles(text, k), s => md5(s))) { hs =>
      when(size(hs) === 0, array().cast("array<string>"))
        .when(size(hs) < w, array(array_min(hs)))
        .otherwise(array_distinct(
          transform(sequence(lit(1), size(hs) - w + 1),
            i => array_min(slice(hs, i, lit(w))))))
    }

  /** Fingerprint-overlap pairs: docs sharing ≥ `minShared` winnowed
    * fingerprints, by the same inverted-index shape as
    * [[Dedup.ngramJaccardPairs]] — explode (doc, fp), then the capped
    * bucket-pair step ([[graft.ops.PairGen]]) over fingerprints, count
    * per pair. Shuffle keys are 32-char md5 strings; candidate cost is
    * O(cap × rows), not O(n²). */
  def winnowOverlapPairs(docs: DataFrame, id: String, text: String,
      k: Int, w: Int, minShared: Long, maxBucket: Int = 1000): DataFrame = {
    val fps = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id).as("doc"),
        explode(winnowFingerprints(col(text), k, w)).as("fp"))
    val members = graft.ops.PairGen.members(fps, "fp", col("doc"), maxBucket)
    graft.ops.PairGen.pairs(members, "ms", "doc_a", "doc_b")
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Document-level PMI co-occurrence (Church & Hanks, CL 1990) over a
    * bounded vocabulary: restrict to the `vocabSize` highest-document-
    * frequency tokens (ties broken by token — deterministic), take each
    * doc's DISTINCT vocab tokens, and for every co-occurring pair count
    * docs and score `pmi = ln(n_ab · N / (n_a · n_b))` — the
    * collocation / related-terms table a curation pipeline uses for
    * query expansion and topic auditing. The vocabulary cap is the
    * scale bound: pair space is ≤ |V|² regardless of corpus size, the
    * per-doc pair explode is ≤ min(|doc∩V|, |V|)² per row, and the
    * vocab itself broadcasts (vocabSize ≪ memory). Pairs are kept
    * ordered (a < b); PMI is symmetric so one row serves both
    * directions. 6-dp rounding for cross-engine log stability. */
  def pmiPairs(docs: DataFrame, id: String, text: String,
      vocabSize: Int, minCo: Long = 2L): DataFrame = {
    val dt = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id).as("__d"),
        explode(TextFunctions.tokens(col(text))).as("__t"))
      .distinct()
    // distributed global top-k (TakeOrderedAndProject) — a row_number
    // window here would funnel the ENTIRE vocabulary through one
    // partition, the exact single-partition hazard the W-family avoids
    val vocab = dt.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__t"))
      .limit(vocabSize)
    val nDocs = docs.select(col(id)).distinct()
      .agg(count(lit(1)).as("__nd"))
    val members = graft.ops.Par.byKey(
        dt.join(broadcast(vocab.select(col("__t"))), Seq("__t")), col("__d"))
      .groupBy(col("__d"))
      .agg(sort_array(collect_list(col("__t"))).as("ms"))
      .where(size(col("ms")) >= 2)
    graft.ops.PairGen.pairs(members, "ms", "a", "b")
      .groupBy(col("p.a").as("token_a"), col("p.b").as("token_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCo)
      .join(broadcast(vocab.select(col("__t").as("token_a"),
        col("__df").as("__na"))), "token_a")
      .join(broadcast(vocab.select(col("__t").as("token_b"),
        col("__df").as("__nb"))), "token_b")
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("__nd") /
          (col("__na") * col("__nb"))), 6).as("pmi"))
  }

  /** Interpolated bigram language-model scoring (Jelinek & Mercer 1980
    * smoothing, the classic λ-interpolation) — one step up from the
    * unigram LM quality signal: train bigram and unigram counts on the
    * corpus itself, then score each doc's average negative log
    * probability `-mean(ln(λ·P(w|prev) + (1-λ)·P(w)))` over positions
    * 2..n (P(w) add-1 smoothed over the vocab so unseen rows stay
    * finite). High avg_nll = surprising word order — boilerplate and
    * shuffled/garbled text separate from fluent prose even when their
    * unigram profiles match.
    *
    * Lowering: adjacent (prev, w) pairs come from zipping the token
    * array with its own 1-shifted slice — array-local, no window, no
    * self-join, no per-doc sort. The pair frame shuffle-joins against
    * the bigram/unigram count tables on their keys (distributed,
    * linear; the count tables are corpus-sized and NEVER collected or
    * broadcast), then one per-doc aggregate. 6-dp rounding. */
  def bigramLmScore(docs: DataFrame, id: String, text: String,
      lambda: Double = 0.7): DataFrame = {
    val tk = graft.ops.Par.spread(docs.select(col(id), col(text)))
      .select(col(id).as("__d"),
        TextFunctions.tokens(col(text)).as("__tk"))
    val toks = tk.select(col("__d"), explode(col("__tk")).as("__w"))
    val uni = toks.groupBy(col("__w")).agg(count(lit(1)).as("__cw"))
    val tot = toks.agg(count(lit(1)).as("__n"),
      countDistinct(col("__w")).as("__v"))
    val pairs = tk.where(size(col("__tk")) >= 2)
      .select(col("__d"), explode(zip_with(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1),
        (a, b) => struct(a.as("__prev"), b.as("__w")))).as("p"))
      .select(col("__d"), col("p.__prev").as("__prev"), col("p.__w").as("__w"))
    val bi = pairs.groupBy(col("__prev"), col("__w"))
      .agg(count(lit(1)).as("__cb"))
    // inner joins: every scored pair exists in `bi` (trained on the same
    // corpus) and both endpoints in `uni` by construction
    pairs
      .join(bi, Seq("__prev", "__w"))
      .join(uni.select(col("__w").as("__prev"), col("__cw").as("__cprev")),
        Seq("__prev"))
      .join(uni, Seq("__w"))
      .crossJoin(broadcast(tot))
      .select(col("__d"),
        (-log(lit(lambda) * col("__cb").cast("double") / col("__cprev") +
          lit(1.0 - lambda) * (col("__cw") + 1).cast("double") /
            (col("__n") + col("__v")))).as("__nll"))
      .groupBy(col("__d").as(id))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(col("__nll")), 6).as("avg_nll"))
  }

  /** Per-doc analysis record: token counts, quality, lang guess,
    * fingerprint. */
  def analyze(docs: DataFrame, id: String, text: String): DataFrame =
    graft.ops.Par.spread(docs.select(col(id), col(text))).select(
      col(id),
      TextFunctions.tokenCount(col(text)).as("n_tokens"),
      length(col(text)).as("n_chars"),
      round(TextFunctions.punctRatio(col(text)), 6).as("punct_ratio"),
      round(TextFunctions.stopwordRatio(col(text), defaultProfiles("en")), 6)
        .as("stopword_ratio"),
      TextFunctions.qualityScore(col(text)).as("quality"),
      TextFunctions.langIdHeuristic(col(text), defaultProfiles).as("lang_guess"),
      TextFunctions.fingerprint(col(text)).as("fingerprint"))
}
