package graft

import graft.llmops.{Dedup, SimSearch, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("simhash: identical text → identical signature; perturbation → small hamming") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox leaps over the lazy dog again and again today"),
      (4L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val sig = docs.select($"doc_id", Dedup.simHash64($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("portable 32-bit simhash: determinism, near-dup ordering, md5 bit recipe") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox leaps over the lazy dog again and again today"),
      (4L, "completely different content about spark query engines and shuffles"),
      (5L, "")
    ).toDF("doc_id", "text")
    val sig = docs.select($"doc_id", Dedup.simHash32Portable($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert((sig(1L) & ~0xffffffffL) == 0L, "signature must fit in 32 bits")
    assert(sig(5L) == 0L, "empty token stream → signature 0")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
    // single-token doc: signature = top bit of each md5 hex digit, directly
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("fox".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0 until 32).map { b =>
      if (Character.digit(md5hex(b), 16) >= 8) 1L << b else 0L
    }.reduce(_ | _)
    val one = Seq((9L, "fox")).toDF("doc_id", "text")
      .select(Dedup.simHash32Portable($"text")).as[Long].head()
    assert(one == expected)
  }

  test("exact dedup keeps lowest id and counts copies") {
    val docs = Seq((5L, "aaa"), (3L, "aaa"), (9L, "bbb")).toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text")
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2L), (9L, 1L)))
    assert(Dedup.exactRows(docs, "doc_id", "text").count() == 2)
  }

  test("native minhash kernels are bit-identical to the composed HOF forms") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .unionByName(Seq((900001L, ""), (900002L, "one two")) // empty / < n tokens
        .toDF("doc_id", "text"), allowMissingColumns = true)
    val xx = docs.select(
        Dedup.minHashSig($"text", 3, 16).as("native"),
        DedupHof.minHashSigHof($"text", 3, 16).as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(xx == 0, s"$xx xxhash signature mismatches")
    val md = docs.select(
        Dedup.minHashSigPortable($"text", 3, 8).as("native"),
        DedupHof.minHashSigPortableHof($"text", 3, 8).as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(md == 0, s"$md md5 signature mismatches")
    val sh = docs.select(
        Dedup.simHash32Portable($"text").as("native"),
        DedupHof.simHash32PortableHof($"text").as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(sh == 0, s"$sh simhash32 signature mismatches")
    val sx = docs.select(
        Dedup.simHash64($"text").as("native"),
        DedupHof.simHash64Hof($"text").as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(sx == 0, s"$sx xxhash64 simhash mismatches")
  }

  test("minHashSigPortable enforces the ANSI-safe numHashes bound") {
    // seed 20278's multiplier crosses 2^32: the native kernel would wrap
    // silently while the HOF/DuckDB forms error — construction must fail
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashSigPortable(lit("x"), 3, 20279)
    }
    assert(e.getMessage.contains("20278"))
    Dedup.minHashSigPortable(lit("x"), 3, 20278) // boundary constructs
  }

  test("minhash estimated jaccard correlates with exact jaccard") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val est = Dedup.minHashPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, minJaccard = 0.0)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.0)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val common = est.keySet.intersect(exact.keySet)
    assert(common.nonEmpty)
    val mae = common.toSeq.map(k => math.abs(est(k) - exact(k))).sum / common.size
    assert(mae < 0.3, s"minhash MAE $mae")
  }

  test("LSH top-k finds most of brute-force top-1") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 20)
    val c = emb.where($"vec_id" >= 20)
    val brute = SimSearch.bruteForceTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", 1)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().toMap
    val lsh = SimSearch.lshTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", 5, dim = 64, nBits = 4)
      .select($"query_id", $"item_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the fixture embeddings are iid-random (no cluster structure), the
    // worst case for LSH — a third of exact top-1 recalled while probing
    // only ~5/16 of the corpus is the expected operating point here
    val recalled = brute.count { case (qid, top1) =>
      lsh.getOrElse(qid, Set.empty).contains(top1) }
    assert(recalled >= brute.size / 3, s"top-1 recall $recalled/${brute.size}")
  }

  test("portable ANN twins: ranked within-bucket/cell results are exact cosines") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 20)
    val c = emb.where($"vec_id" >= 20)
    val brute = SimSearch.bruteForceTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", 1)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().toMap
    // every (query, item, cosine) an ANN variant reports must agree with
    // the exact cosine — ANN prunes candidates, it must not perturb scores
    val exact = SimSearch.bruteForceTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", Int.MaxValue)
      .select($"query_id", $"item_id", $"cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, cos) => (a, b) -> cos }.toMap
    for ((name, df) <- Seq(
        "lshPortable" -> SimSearch.lshTopKPortable(q, c, "vec_id", "embedding",
          "vec_id", "embedding", 5, dim = 64, nBits = 4),
        "ivfPortable" -> SimSearch.ivfTopKPortable(q, c, "vec_id", "embedding",
          "vec_id", "embedding", 5, nCells = 8, nProbe = 4))) {
      val rows = df.select($"query_id", $"item_id", $"cosine")
        .as[(Long, Long, Double)].collect()
      assert(rows.nonEmpty, name)
      rows.foreach { case (a, b, cos) =>
        assert(math.abs(exact((a, b)) - cos) < 1e-12, s"$name ($a,$b)") }
      val byQ = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      // iid-random fixture embeddings are LSH's worst case; the ±1
      // Rademacher planes sit a notch below the graded [-1,1] planes, so
      // the sanity floor here is a quarter rather than a third
      val recalled = brute.count { case (qid, top1) =>
        byQ.getOrElse(qid, Set.empty).contains(top1) }
      assert(recalled >= brute.size / 4, s"$name top-1 recall $recalled/${brute.size}")
    }
  }

  test("IVF-PQ: probing every cell equals the full ADC scan (sim7)") {
    import graft.functions.VectorOps
    import graft.ops.TopK
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 10)
    val c = emb.where($"vec_id" >= 10)
    val full: Seq[Seq[Double]] = c
      .select($"vec_id", $"embedding".cast("array<double>"))
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(4).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val cb = (0 until 4).map(s => full.map(_.slice(s * 16, s * 16 + 16)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"item_id", $"adc_dist", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // cell pruning disabled (probe all 8 cells) → must be bit-identical
    // to an unpruned ADC scan of the whole corpus
    val pruned = rows(SimSearch.ivfPqTopKPortable(q, c, "vec_id",
      "embedding", "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8,
      codebooks = cb))
    val codes = c.select($"vec_id".as("item_id"),
      VectorOps.pqCodes(VectorOps.pqAssign($"embedding", cb)).as("__codes"))
    val luts = q.select($"vec_id".as("query_id"),
      VectorOps.pqAdcLut($"embedding", cb).as("__lut"))
    val fullScan = rows(TopK.perGroup(
      codes.crossJoin(broadcast(luts))
        .select($"query_id", $"item_id",
          VectorOps.pqAdcDist($"__lut", $"__codes").as("adc_dist")),
      Seq($"query_id"), Seq($"adc_dist".asc, $"item_id"), 5))
    assert(pruned == fullScan)
  }

  test("residual IVF-PQ: codebook-source vectors score themselves at ADC 0") {
    import graft.functions.GraftFunctions.rankCells
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val c = emb.where($"vec_id" >= 10)
      .select($"vec_id", $"embedding".cast("array<double>").as("__cv"))
    val cents = c.orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val centArr = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    // sim33's codebook source: md5 ranks 9–12, the rows after the centroids
    val ids4 = c.orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(12)
      .select($"vec_id").as[Long].collect().drop(8)
    val res4 = c.where($"vec_id".isin(ids4: _*))
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .select(zip_with($"__cv",
        element_at(centArr,
          element_at(rankCells($"__cv", cents, 1), 1) + 1),
        (a, b) => a - b).as("__r"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cb = (0 until 4).map(s => res4.map(_.slice(s * 16, s * 16 + 16)))
    assert(cb.flatten.flatten.exists(_ != 0.0), "degenerate all-zero codebooks")
    // query the codebook-source vectors against the corpus, probing every
    // cell: each one's residual IS a codebook entry, so its own LUT rows
    // are 0 at exactly its codes → ADC distance to itself must be 0.0
    val q = emb.where($"vec_id" >= 10).where($"vec_id".isin(ids4: _*))
    val hits = SimSearch.ivfPqResidualTopK(q, emb.where($"vec_id" >= 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 1, nCells = 8, nProbe = 8, codebooks = cb)
      .select($"query_id", $"adc_dist")
      .as[(Long, Double)].collect().toMap
    assert(hits.keySet == ids4.toSet)
    ids4.foreach(id => assert(hits(id) == 0.0, s"self ADC for $id"))
    // serving-face delegation: the md5-pulled form ≡ WithCents against
    // the same pulled centroids (sim33's plan is the WithCents plan)
    val q10 = emb.where($"vec_id" < 10)
    val corpus = emb.where($"vec_id" >= 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"item_id", $"adc_dist", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val full = rows(SimSearch.ivfPqResidualTopK(q10, corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4, codebooks = cb))
    val served = rows(SimSearch.ivfPqResidualTopKWithCents(q10, corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 4, cents = cents, codebooks = cb))
    assert(full == served, "WithCents must replay the md5-pulled index")
  }

  test("residual IVF-PQ beats raw-vector IVF-PQ on a clustered corpus") {
    import graft.functions.VectorOps
    import graft.functions.GraftFunctions.rankCells
    // the regime IVF assumes AND the one where codes are scarcer than
    // structure: more clusters than codebook entries. A 4-entry raw
    // codebook cannot span 12 distinct centers, so most items quantize
    // to a wrong-cluster entry (center-scale error); after the cell
    // assignment removes the coarse position, every residual is
    // noise-scale and even a 4-entry codebook covers it — residual
    // coding's entire argument (Jégou et al. 2011 §III.C). iid-random
    // fixtures (where y − c(y) is no smaller than y) blur the
    // comparison, which is itself the documented sim30-class caveat.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian()))
    val data = (0 until 210).map { i =>
      val ctr = centers(i % 12)
      (i.toLong, ctr.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    val corpus = data.where($"vec_id" >= 10)
    val queries = data.where($"vec_id" < 10)
    val c = corpus.select($"vec_id", $"embedding".cast("array<double>").as("__cv"))
    val cents = c.orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(16).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val centArr = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val first4 = c.orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(4)
    val rawCbFull = first4.select($"__cv").collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val resCbFull = first4.select(zip_with($"__cv",
        element_at(centArr,
          element_at(rankCells($"__cv", cents, 1), 1) + 1),
        (a, b) => a - b).as("__r"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val rawCb = (0 until 4).map(s => rawCbFull.map(_.slice(s * 16, s * 16 + 16)))
    val resCb = (0 until 4).map(s => resCbFull.map(_.slice(s * 16, s * 16 + 16)))
    // probe all cells, rank the whole corpus: ADC approximates the true
    // squared L2 distance, so mean |adc − true| is reconstruction error
    val truth = queries.select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("__qv"))
      .crossJoin(broadcast(c))
      .select($"query_id", $"vec_id".as("item_id"),
        aggregate(zip_with($"__qv", $"__cv", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, e) => acc + e).as("true_d2"))
    def mae(adc: org.apache.spark.sql.DataFrame): Double =
      adc.join(truth, Seq("query_id", "item_id"))
        .agg(avg(abs($"adc_dist" - $"true_d2"))).as[Double].head()
    val rawMae = mae(SimSearch.ivfPqTopKPortable(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 200, nCells = 16, nProbe = 16, codebooks = rawCb))
    val resMae = mae(SimSearch.ivfPqResidualTopK(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 200, nCells = 16, nProbe = 16, codebooks = resCb))
    assert(resMae < rawMae,
      s"residual ADC MAE $resMae should beat raw $rawMae on clustered data")
  }

  test("IVF top-k recall beats its probe fraction and is exact within probed cells") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 20)
    val c = emb.where($"vec_id" >= 20)
    val brute = SimSearch.bruteForceTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", 1)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().toMap
    val ivf = SimSearch.ivfTopK(q, c, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 4)
      .select($"query_id", $"item_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivf.size == 20)
    val recalled = brute.count { case (qid, top1) =>
      ivf.getOrElse(qid, Set.empty).contains(top1) }
    // probing half the cells: expect clearly better than random half
    assert(recalled >= brute.size / 2, s"IVF top-1 recall $recalled/${brute.size}")
    // index/probe split: a prebuilt (persisted) index probed by two
    // disjoint query batches gives exactly the one-shot answers — the
    // fit-once / probe-many lifecycle
    val (assigned, cents) = SimSearch.ivfIndex(c, "vec_id", "embedding",
      nCells = 8)
    assigned.persist(); assigned.count()
    try {
      val split = (SimSearch.ivfProbe(q.where($"vec_id" < 10), assigned,
          cents, "vec_id", "embedding", k = 5, nProbe = 4)
        .select($"query_id", $"item_id").as[(Long, Long)].collect().toSet
        ++ SimSearch.ivfProbe(q.where($"vec_id" >= 10), assigned, cents,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .select($"query_id", $"item_id").as[(Long, Long)].collect().toSet)
      val oneShot = SimSearch.ivfTopK(q, c, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, nCells = 8, nProbe = 4)
        .select($"query_id", $"item_id").as[(Long, Long)].collect().toSet
      assert(split == oneShot)
    } finally assigned.unpersist(): Unit
  }

  test("lshPairsAuto: width grows log2 with corpus size, matches the manual signature") {
    val emb = Tables.embeddings(spark, TestSpark.sf).limit(200)
    // n=200, target=50 → ratio 4 → width 2 → nBits 8 over 4 bands
    val auto = SimSearch.lshPairsAuto(emb, "vec_id", "embedding", 64,
        minCosine = 0.5, bands = 4, targetBucketSize = 50L)
      .as[(Long, Long, Double)].collect().toSet
    val manual = SimSearch.lshPairs(emb, "vec_id", "embedding", 64,
        minCosine = 0.5, nBits = 8, bands = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto == manual)
    // n=200, target=1000 → ratio clamps to 1 → width 1 → nBits 4
    val wide = SimSearch.lshPairsAuto(emb, "vec_id", "embedding", 64,
        minCosine = 0.5, bands = 4, targetBucketSize = 1000L)
      .as[(Long, Long, Double)].collect().toSet
    val wideManual = SimSearch.lshPairs(emb, "vec_id", "embedding", 64,
        minCosine = 0.5, nBits = 4, bands = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(wide == wideManual)
    // coarser signature → same-or-more candidate coverage
    assert(auto.subsetOf(wide))
  }

  test("lshBucketHistogram: each band partitions the corpus exactly") {
    val emb = Tables.embeddings(spark, TestSpark.sf).limit(300)
    val hist = SimSearch.lshBucketHistogram(emb, "vec_id", "embedding",
        64, nBits = 8, bands = 4)
      .as[(Long, Long, Long)].collect()
    assert(hist.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // Σ bucket_size × n_buckets per band = corpus size (no row lost or
    // double-counted by the audit)
    hist.groupBy(_._1).foreach { case (band, rows) =>
      assert(rows.map(r => r._2 * r._3).sum == 300L, s"band $band")
    }
  }

  test("simHash64Portable: kernel ≡ HOF spec; lo half ≡ 32-bit signature") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .unionByName(Seq((900001L, ""), (900002L, "one")) // empty / 1 token
        .toDF("doc_id", "text"), allowMissingColumns = true)
    val mism = docs.select(
        Dedup.simHash64Portable($"text").as("native"),
        DedupHof.simHash64PortableHof($"text").as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(mism == 0, s"$mism simhash64 signature mismatches")
    // lo uses exactly the 32-bit rule (top bit of each hex digit)
    val loMism = docs.select(
        element_at(Dedup.simHash64Portable($"text"), 1).as("lo"),
        Dedup.simHash32Portable($"text").as("s32"))
      .where(not($"lo" <=> $"s32")).count()
    assert(loMism == 0, "lo half must equal the 32-bit signature")
    // halves are non-negative 32-bit values (band shift-and-mask relies
    // on it), empty doc → [0, 0]
    val bad = docs.select(Dedup.simHash64Portable($"text").as("s"))
      .where(element_at($"s", 1) < 0 || element_at($"s", 1) > 0xffffffffL
        || element_at($"s", 2) < 0 || element_at($"s", 2) > 0xffffffffL)
      .count()
    assert(bad == 0)
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(Dedup.simHash64Portable($"text")).as[Seq[Long]].head()
    assert(empty == Seq(0L, 0L))
  }

  test("simHash128Portable: kernel ≡ HOF; parts prefix the narrower families") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .unionByName(Seq((900001L, ""), (900002L, "one"))
        .toDF("doc_id", "text"), allowMissingColumns = true)
    val mism = docs.select(
        Dedup.simHash128Portable($"text").as("native"),
        DedupHof.simHash128PortableHof($"text").as("hof"))
      .where(not($"native" <=> $"hof")).count()
    assert(mism == 0, s"$mism simhash128 signature mismatches")
    // p0 ≡ the 32-bit signature, (p0, p1) ≡ the 64-bit halves — the
    // families are prefixes of one another at the same digest cost
    val pfx = docs.select(
        Dedup.simHash128Portable($"text").as("s128"),
        Dedup.simHash64Portable($"text").as("s64"),
        Dedup.simHash32Portable($"text").as("s32"))
      .where(not(element_at($"s128", 1) <=> $"s32") ||
        not(element_at($"s128", 1) <=> element_at($"s64", 1)) ||
        not(element_at($"s128", 2) <=> element_at($"s64", 2)))
      .count()
    assert(pfx == 0, "prefix property violated")
  }

  test("simHashPairsAuto128: pigeonhole-exact through hamming 3 vs brute force") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val got = Dedup.simHashPairsAuto128(docs, "doc_id", "text",
        maxHamming = 3, targetBucketSize = 50L)
      .select($"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val sigs = docs
      .where(size(graft.functions.TextFunctions.tokens($"text")) > 0)
      .select($"doc_id", Dedup.simHash128Portable($"text").as("s"))
      .as[(Long, Seq[Long])].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = (0 until 4).map(k => java.lang.Long.bitCount(sa(k) ^ sb(k))).sum
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute,
      s"banded=${got.size} brute=${brute.size} missing=${(brute -- got).take(3)}")
  }

  test("simHashPairsAuto: pigeonhole-exact through hamming 3 vs brute force") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val got = Dedup.simHashPairsAuto(docs, "doc_id", "text",
        maxHamming = 3, targetBucketSize = 50L)
      .select($"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    // brute force over the full 64-bit fingerprints: with no bucket over
    // the cap at fixture scale, 4 disjoint bands MUST catch every pair
    // within 3 differing bits (≤3 dirty bands → ≥1 clean band)
    val sigs = docs
      .where(size(graft.functions.TextFunctions.tokens($"text")) > 0)
      .select($"doc_id", Dedup.simHash64Portable($"text").as("s"))
      .as[(Long, Seq[Long])].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa.head ^ sb.head) +
        java.lang.Long.bitCount(sa(1) ^ sb(1))
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute,
      s"banded=${got.size} brute=${brute.size} missing=${(brute -- got).take(3)}")
  }

  test("simHashPairsAuto plan shape: one scan, window cap and collect share the band-key exchange") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val df = Dedup.simHashPairsAuto(docs, "doc_id", "text",
      maxHamming = 3, targetBucketSize = 50L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"expected exactly one documents scan:\n$plan")
    // exactly two hash exchanges: the band-key shuffle (the spillable
    // window cap AND the member collect both cluster on bk — a third
    // exchange here means the groupBy stopped riding the window's
    // partitioning) and the final pair distinct
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"quadratic join crept in:\n$plan")
  }

  test("simHashBucketHistogramAuto: each band partitions the tokenful docs") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs
      .where(size(graft.functions.TextFunctions.tokens($"text")) > 0).count()
    val hist = Dedup.simHashBucketHistogramAuto(docs, "doc_id", "text",
        targetBucketSize = 50L)
      .as[(Long, Long, Long)].collect()
    assert(hist.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    hist.groupBy(_._1).foreach { case (band, rows) =>
      assert(rows.map(r => r._2 * r._3).sum == n, s"band $band")
    }
  }

  test("autoCells: ceil division, clamped to [1, 4096]") {
    val cases = Seq(
      (1L, 50L, 1), (50L, 50L, 1), (51L, 50L, 2), (500L, 128L, 4),
      (500L, 64L, 8), (2000000L, 128L, 4096), (1L << 40, 1L, 4096))
    cases.foreach { case (n, t, want) =>
      assert(SimSearch.autoCells(n, t) == want, s"autoCells($n, $t)")
    }
  }

  test("auto-sized IVF/SemDeDup equal their manual twins at the derived count") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.where($"vec_id" >= 10)
    val q = emb.where($"vec_id" < 10)
    val nCells = SimSearch.autoCells(corpus.count(), 8L)
    assert(nCells > 1, "fixture must yield a multi-cell index")
    val auto = SimSearch.ivfTopKPortableAuto(q, corpus, "vec_id",
      "embedding", "vec_id", "embedding", 5, 8L, 2)
    val manual = SimSearch.ivfTopKPortable(q, corpus, "vec_id",
      "embedding", "vec_id", "embedding", 5, nCells, 2)
    assert(auto.except(manual).count() == 0 &&
      manual.except(auto).count() == 0)
    val nAll = emb.count()
    val sAuto = Dedup.semDedupAuto(emb, "vec_id", "embedding", 16L, 0.2)
    val sManual = Dedup.semDedup(emb, "vec_id", "embedding",
      SimSearch.autoCells(nAll, 16L), 0.2)
    assert(sAuto.except(sManual).count() == 0 &&
      sManual.except(sAuto).count() == 0)
    // the production k-means path sizes identically
    val (_, cents) = SimSearch.ivfIndexAuto(corpus, "vec_id", "embedding", 8L)
    assert(cents.count() == nCells)
  }

  test("autoNProbe policy: smallest qualifying depth, exhaustive fallback, held-out integer audit") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.where($"vec_id" >= 10)
    val calib = emb.where($"vec_id" < 5)
    // target 0% qualifies at the FIRST ladder depth (any hits ≥ 0)
    assert(SimSearch.autoNProbePortable(calib, corpus, "vec_id",
      "embedding", "vec_id", "embedding", 5, 64L,
      recallPctTarget = 0) == 1)
    // target 100% on the tiny auto index (nc = 8) needs exhaustive
    // probing — sim14's curve reaches 1.00 only at depth 8
    val p100 = SimSearch.autoNProbePortable(calib, corpus, "vec_id",
      "embedding", "vec_id", "embedding", 5, 64L,
      recallPctTarget = 100)
    assert(p100 == 8)
    // chosen depth is monotone in the target
    val p80 = SimSearch.autoNProbePortable(calib, corpus, "vec_id",
      "embedding", "vec_id", "embedding", 5, 64L, recallPctTarget = 80)
    assert(p80 <= p100)
    // serving at the chosen depth equals the plain auto query at that
    // depth (the policy only PICKS; it must not change the plan)
    val served = SimSearch.ivfTopKAutoProbePortable(
      emb.where($"vec_id" < 10), calib, corpus,
      "vec_id", "embedding", "vec_id", "embedding", 5, 64L, 80)
    val plain = SimSearch.ivfTopKPortableAuto(emb.where($"vec_id" < 10),
      corpus, "vec_id", "embedding", "vec_id", "embedding", 5, 64L, p80)
    assert(served.drop("n_probe").except(plain).count() == 0 &&
      plain.except(served.drop("n_probe")).count() == 0)
    assert(served.select("n_probe").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(p80.toLong))
    // held-out audit: pure integer row, exhaustive probe = exact = 100%
    val audit = SimSearch.autoNProbeHoldoutAudit(calib,
      emb.where($"vec_id" >= 5 && $"vec_id" < 10), corpus,
      "vec_id", "embedding", "vec_id", "embedding", 5, 64L, 100).head()
    assert(audit.getLong(0) == 8L)               // n_probe
    assert(audit.getLong(1) == audit.getLong(2)) // hits == truth
    assert(audit.getLong(3) == 100L)             // recall_pct_floor
    assert(audit.getLong(4) == 1L)               // meets_target
  }

  test("autoNProbeIndexed: k-means-index policy serves exactly ivfProbe at the chosen depth") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.where($"vec_id" >= 10)
    val calib = emb.where($"vec_id" < 5)
    val (assigned, centDf) = SimSearch.ivfIndexAuto(corpus, "vec_id",
      "embedding", targetCellSize = 64L)
    // exhaustive fallback: 100% target needs every cell probed
    val nc = centDf.count().toInt
    val ladder = Seq(1, 2, 4, math.max(8, nc))
    assert(SimSearch.autoNProbeIndexed(calib, assigned, centDf,
      "vec_id", "embedding", 5, 100, ladder) == ladder.max)
    // policy only PICKS: the one-shot form equals ivfProbe at its depth
    val served = SimSearch.ivfTopKAutoProbe(emb.where($"vec_id" < 10),
      calib, corpus, "vec_id", "embedding", "vec_id", "embedding",
      5, 64L, 80)
    val p = served.select("n_probe").head().getLong(0).toInt
    val plain = SimSearch.ivfProbe(emb.where($"vec_id" < 10), assigned,
      centDf, "vec_id", "embedding", 5, p)
    assert(served.drop("n_probe").except(plain).count() == 0 &&
      plain.except(served.drop("n_probe")).count() == 0)
  }

  test("simHash banded-auto precountedN: identical results, same width basis") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs.count() // the documented basis: ALL docs, pre-filter
    for ((dfl, pre) <- Seq(
        Dedup.simHashPairsAuto(docs, "doc_id", "text") ->
          Dedup.simHashPairsAuto(docs, "doc_id", "text",
            precountedN = Some(n)),
        Dedup.simHashBucketHistogramAuto(docs, "doc_id", "text") ->
          Dedup.simHashBucketHistogramAuto(docs, "doc_id", "text",
            precountedN = Some(n)))) {
      assert(dfl.except(pre).count() == 0 && pre.except(dfl).count() == 0)
    }
    // a precount from a different basis CHANGES the width — the param
    // is a scan-skip for callers that know n, not a tuning knob
    assert(graft.llmops.SimSearch.autoWidth(n, 50L) !=
      graft.llmops.SimSearch.autoWidth(n * 1000, 50L))
    // an obviously-wrong precount fails loudly instead of being clamped
    // (a silent clamp would diverge the width from the oracle's count(*)
    // basis with no error)
    for (bad <- Seq(0L, -5L)) {
      intercept[IllegalArgumentException] {
        Dedup.simHashPairsAuto(docs, "doc_id", "text",
          precountedN = Some(bad))
      }
      intercept[IllegalArgumentException] {
        Dedup.simHashPairsAuto128(docs, "doc_id", "text",
          precountedN = Some(bad))
      }
    }
  }

  test("bandPlan: S-curve hand-check, fewest qualifying bands, honest fallback") {
    // hand-computed curve at numHashes = 16, j = 0.5:
    //   b=1,r=16: 1-(1-2^-16)    ≈ 1.5e-5   b=2,r=8: ≈ 0.0078
    //   b=4,r=4 : 1-(1-0.0625)^4 ≈ 0.2275   b=8,r=2: 1-0.75^8 ≈ 0.8999
    //   b=16,r=1: 1-0.5^16       ≈ 0.99998
    assert(math.abs(Dedup.detectionProb(0.5, 4, 4) - 0.22752) < 1e-4)
    assert(math.abs(Dedup.detectionProb(0.5, 8, 2) - 0.89989) < 1e-4)
    // target 80% at j=0.5 → the cheapest qualifying pair is (8, 2)
    assert(Dedup.bandPlan(16, 0.5, 80) == ((8, 2)))
    // 95% needs every position as its own band
    assert(Dedup.bandPlan(16, 0.5, 95) == ((16, 1)))
    // an unreachable target falls back to the most-detecting pair —
    // the signal to lengthen the signature, never a silent under-plan
    assert(Dedup.bandPlan(16, 0.1, 99) == ((16, 1)))
    // trivial targets take the cheapest banding there is
    assert(Dedup.bandPlan(16, 0.5, 0) == ((1, 16)))
    // the default d2/d5 shape (16 hashes, 4 bands) is the 20%-at-0.5
    // operating point — bandPlan reproduces it for that target
    assert(Dedup.bandPlan(16, 0.5, 20) == ((4, 4)))
  }

  test("autoNProbe policy refuses an empty calibration sample") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.where($"vec_id" >= 10)
    val empty = emb.where($"vec_id" < 0)
    // an empty sample satisfies any target vacuously (100*0 >= pct*0)
    // and would silently ship the cheapest depth — must throw instead
    val e = intercept[IllegalArgumentException] {
      SimSearch.autoNProbePortable(empty, corpus, "vec_id", "embedding",
        "vec_id", "embedding", 5, 64L, 80)
    }
    assert(e.getMessage.contains("empty calibration"))
  }

  test("ivfDriftAudit: populations conserved, skewed batch collapses to one cell") {
    val emb = Tables.embeddings(spark, TestSpark.sf).where($"vec_id" >= 10)
    val fit = emb.where($"vec_id" % 5 =!= 0)
    val inc = emb.where($"vec_id" % 5 === 0)
    val audit = SimSearch.ivfDriftAudit(fit, inc, "vec_id", "embedding", 64L)
      .collect()
    // every fit and incoming row lands in exactly one cell
    assert(audit.map(_.getLong(1)).sum == fit.count())
    assert(audit.map(_.getLong(2)).sum == inc.count())
    assert(audit.length <= SimSearch.autoCells(fit.count(), 64L))
    // exchangeable split (same distribution both sides): no strong
    // uniform degradation — mean drift over populated cells near zero
    val drifts = audit.filter(r => !r.isNullAt(5)).map(_.getDouble(5))
    assert(drifts.nonEmpty && math.abs(drifts.sum / drifts.length) < 0.2)
    // the load-skew trigger: a degenerate incoming batch (every row the
    // same vector) must collapse into exactly ONE cell — the audit row
    // that says the fit-time partitioning no longer spreads the data.
    // (A negated batch does NOT read negative cos_drift here: in a
    // symmetric iid cloud the best-of-nc cosine of -v matches that of
    // v in distribution — cosine degradation needs a fit corpus with
    // cluster structure, which the load-skew signal does not.)
    val one = inc.select($"embedding").head().getSeq[Float](0)
    val skewed = inc.withColumn("embedding",
      array(one.map(x => lit(x)): _*))
    val a2 = SimSearch.ivfDriftAudit(fit, skewed, "vec_id", "embedding", 64L)
      .collect()
    assert(a2.count(_.getLong(2) > 0) == 1, "all skewed mass in one cell")
    assert(a2.map(_.getLong(2)).sum == inc.count())
  }

  test("autoWidth: integer bit-length math, clamped to [1, 24]") {
    // (n, target) -> width; width = ceil(log2(ceil(n/target))) clamped
    val cases = Seq(
      (1L, 50L, 1), (50L, 50L, 1), (51L, 50L, 1), (100L, 50L, 1),
      (101L, 50L, 2), (200L, 50L, 2), (201L, 50L, 3), (500L, 50L, 4),
      (2000L, 50L, 6), (2000000L, 50L, 16),
      // exact powers of two — the ulp-sensitive cases the integer
      // form exists for (ceil(ln(x)/ln(2)) can land either side)
      (4096L, 1L, 12), (4097L, 1L, 13),
      // cap: any n beyond 2^24*target clamps to 24 bits
      (1L << 40, 1L, 24))
    cases.foreach { case (n, t, want) =>
      assert(SimSearch.autoWidth(n, t) == want, s"autoWidth($n, $t)")
    }
  }

  test("embedding cosine pairs are symmetric-free and above threshold") {
    val emb = Tables.embeddings(spark, TestSpark.sf).limit(100)
    val pairs = SimSearch.cosinePairs(emb, "vec_id", "embedding", -1.0)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) =>
      assert(a < b); assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("t21 curation: kept docs are d10 survivors, budget binds per source") {
    val kept = SparkEntry.queries("t21_curation_pipeline")(spark, TestSpark.sf)
      .select($"source", $"doc_id", $"n_tokens", $"log_w", $"cum_tokens")
      .as[(String, Long, Long, Double, Long)].collect()
    val survivors = SparkEntry.queries("d10_dedup_pipeline")(spark, TestSpark.sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.map(_._2).forall(survivors))
    assert(kept.length < survivors.size) // the budget genuinely selects
    kept.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._5).max <= 300)
      // cum_tokens is the running sum in descending-weight order
      val ordered = rows.sortBy(r => (-r._4, r._2))
      assert(ordered.map(_._3).scanLeft(0L)(_ + _).drop(1).toSeq ==
        ordered.map(_._5).toSeq)
    }
  }

  test("chunkDocs: window/stride math, trailing partial, empty doc") {
    val docs = Seq(
      (1L, "A b c d e"),   // 5 tokens, W=4 S=2 → [a b c d], [c d e]
      (2L, "x y"),         // fits one window
      (3L, ""))            // no tokens → no rows
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "doc_id", "text",
        window = 4, stride = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 3L, "c d e"),
      (2L, 0L, 2L, "x y")))
  }

  test("dsirWeights: target-like docs outscore junk; edge cases zeroed") {
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the cat sat on a mat", true),
      (3L, "the cat sat on the mat", false),  // clone of target phrasing
      (4L, "zzz qqq www vvv kkk jjj", false), // vocab never in target
      (5L, "single", false),                  // < 2 tokens → no bigrams
      (6L, "", false))
      .toDF("doc_id", "text", "is_t")
    val got = TextAnalysis.dsirWeights(docs, "doc_id", "text",
        col("is_t"), nBuckets = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(3L)._1 == 5L)                  // 6 tokens → 5 bigrams
    assert(got(5L) == ((0L, 0.0)) && got(6L) == ((0L, 0.0)))
    // the doc written in the target's phrasing imports far better than
    // the junk doc whose bigrams only ever occur in raw
    assert(got(3L)._2 > got(4L)._2)
    assert(got(4L)._2 < 0.0)
  }

  test("semDedup drops exactly the smaller-id near-dups (single cell)") {
    // two tight direction groups, far apart; nCells=1 makes the cell
    // assignment trivial so the keep rule is fully hand-computable:
    // keep the lowest id of each near-dup group, drop the rest
    val emb = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, 0.02)), (3L, Seq(0.99, 0.0)),
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.01, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedup(emb, "vec_id", "embedding",
        nCells = 1, minCosine = 0.99)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 10L, 11L))
    assert(got.forall(_._2 == 0L))
    assert(got.map(r => r._1 -> r._3).toMap ==
      Map(1L -> true, 2L -> false, 3L -> false, 10L -> true, 11L -> false))
  }

  test("semDedup hot-cell cap bounds the pair join and keeps capped rows") {
    // a degenerate concentration of near-identical vectors (the exact
    // workload that piles duplicates into one cell) plus a small
    // far-away group. Cell membership depends on which rows md5-rank
    // as centroids, so the expectation is DERIVED from the uncapped
    // run's own cell column rather than hand-assumed: every cell
    // larger than maxCell must come back all-keep under the cap
    // (excluded from pairing), every cell at or under it must match
    // the uncapped verdicts exactly.
    val hot = (1L to 8L).map(i => (i, Seq(1.0, 0.0001 * i)))
    val cold = Seq((100L, Seq(0.0, 1.0)), (101L, Seq(0.001, 1.0)))
    val emb = (hot ++ cold).toDF("vec_id", "embedding")
    def run(cap: Int): Map[Long, (Long, Boolean)] =
      Dedup.semDedup(emb, "vec_id", "embedding",
          nCells = 2, minCosine = 0.99, maxCell = cap)
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val maxCell = 4
    val uncapped = run(cap = 100)
    val capped = run(maxCell)
    // all 10 rows survive to output regardless of the cap, same cells
    assert(capped.keySet == ((1L to 8L) ++ Seq(100L, 101L)).toSet)
    assert(capped.view.mapValues(_._1).toMap ==
      uncapped.view.mapValues(_._1).toMap)
    val cellSize = uncapped.values.groupBy(_._1).view.mapValues(_.size)
    // the fixture must actually produce an oversized cell or the test
    // is vacuous — 8 near-identical vectors guarantee one >4 cell
    // whichever rows become centroids
    assert(cellSize.values.exists(_ > maxCell))
    uncapped.foreach { case (id, (cell, keepUncapped)) =>
      if (cellSize(cell) > maxCell)
        assert(capped(id)._2, s"row $id in oversized cell $cell must be kept")
      else
        assert(capped(id)._2 == keepUncapped,
          s"row $id in small cell $cell must dedup normally")
    }
    // and the uncapped control actually deduped the hot mass: however
    // the 10 rows split over 2 cells, at most 2 hot + 2 cold survive
    assert(uncapped.count(!_._2._2) >= 6)
  }

  test("connected components close a chain transitively and split components") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Graph.connectedComponents(edges, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters groups transitive near-dups under the min doc id") {
    // A≈B and B≈C by construction; A vs C are still similar enough via
    // shared shingles, but the contract under test is the transitive
    // closure producing ONE cluster labeled with the min id
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (7L, base),
      (3L, base + " lambda"),
      (9L, "lambda " + base),
      (20L, "totally different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val got = Dedup.dupClusters(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(3L, 7L, 9L))
    assert(got.values.toSet == Set(3L))
  }

  test("repeated-chunk scrub drops corpus-hot chunks, keeps order") {
    // "a b c" appears in 3 docs (≥ maxOccurs) → scrubbed everywhere;
    // each doc's unique tail chunk survives in original order
    val docs = Seq(
      (1L, "a b c x1 y1 z1"),
      (2L, "a b c x2 y2 z2"),
      (3L, "a b c x3 y3 z3"),
      (4L, "p q r s t u")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedChunks(docs, "doc_id", "text", n = 3,
        maxOccurs = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq ==
      Seq("x1 y1 z1", "x2 y2 z2", "x3 y3 z3", "p q r s t u"))
    assert(out.map(_._3).toSeq == Seq(1L, 1L, 1L, 0L))
  }

  test("repetition signals: hand-computed Gopher fractions") {
    val docs = Seq(
      (1L, "spam spam spam spam"), // 1 distinct / 4; top 4/4; both 3-grams dup'd
      (2L, "all words here differ")  // 4/4; top 1/4; 2 distinct 3-grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 4L, 0.25, 1.0, 1.0)))
    assert(out(1) == ((2L, 4L, 1.0, 0.25, 0.0)))
  }

  test("PII redaction scrubs emails, phones and IPs; counts match") {
    val df = Seq(
      (1L, "mail a.user+x@sub.example.org or b@c.io, call 415-555-0199, host 10.1.2.3"),
      (2L, "no pii here")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      graft.functions.TextFunctions.redactPii($"text").as("r"),
      regexp_count($"text", lit(graft.functions.TextFunctions.emailRe)).as("e"),
      regexp_count($"text", lit(graft.functions.TextFunctions.phoneRe)).as("p"),
      regexp_count($"text", lit(graft.functions.TextFunctions.ipv4Re)).as("i"))
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    assert(got(0)._2 == "mail <EMAIL> or <EMAIL>, call <PHONE>, host <IP>")
    assert((got(0)._3, got(0)._4, got(0)._5) == (2, 1, 1))
    assert(got(1)._2 == "no pii here")
  }

  test("contamination: fully-contained test doc scores 1, fresh doc 0") {
    val train = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "one two three four"), // every 3-shingle in train
      (11L, "seven eight nine ten"), // none
      (12L, "xx") // too short: 0 shingles
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(test, train, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((2L, 2L, 1.0)))
    assert(got(11L) == ((2L, 0L, 0.0)))
    assert(got(12L) == ((0L, 0L, 0.0)))
  }

  test("incremental minhash agrees with the self-pair generator on cross pairs") {
    // base = even ids, incoming = odd ids over the same fixture corpus:
    // the cross-set matcher must report EXACTLY the cross-side subset of
    // what the self-pair generator finds on the union, with equal
    // estimates (same signatures, same banding, same caps)
    val docs = Tables.documents(spark, TestSpark.sf)
    val incoming = docs.where($"doc_id" % 2 === 1)
    val base = docs.where($"doc_id" % 2 === 0)
    val got = Dedup.minHashMatchesAgainst(incoming, base, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val all = Dedup.minHashPairsPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
    val expected = all.collect {
      case (a, b, e) if a % 2 != b % 2 =>
        (if (a % 2 == 1) (a, b) else (b, a)) -> e
    }.toMap
    assert(got == expected, s"got ${got.size} expected ${expected.size}")
    assert(got.nonEmpty, "fixture produced no cross-side near-dups at 0.2")
    // identical text matches with estimated jaccard exactly 1.0
    val exact = Dedup.minHashMatchesAgainst(
      Seq((9999L, "the quick brown fox jumps over the lazy dog by the bank"))
        .toDF("doc_id", "text"),
      Seq((1L, "the quick brown fox jumps over the lazy dog by the bank"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(exact.toSeq == Seq((9999L, 1L, 1.0)))
  }

  test("bloomNewDocs equals the plain anti-join and keeps all columns") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val incoming = docs.where($"doc_id" % 5 === 0)
    // the sf0.001 fixture has no cross-side exact dups, so copy two
    // incoming texts into the base (fresh ids) to force true positives
    // through the confirm join alongside the bloom's false positives
    val base = docs.where($"doc_id" % 5 =!= 0)
      .unionByName(incoming.orderBy($"doc_id").limit(2)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    val got = Dedup.bloomNewDocs(incoming, base, "text", 10000L, 0.03)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val expect = incoming.join(base.select(md5($"text").as("__d")).distinct(),
        md5($"text") === $"__d", "left_anti")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == expect)
    assert(got.size < incoming.count(), "planted dups must be dropped")
    // empty base: sketch is null, everything ships
    val all = Dedup.bloomNewDocs(incoming, base.where(lit(false)), "text",
      100L, 0.03).count()
    assert(all == incoming.count())
  }

  test("duplicateSpans: shared runs merge to maximal islands, cross-doc only") {
    val docs = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "z a b c d e f g h q"),
      // doc 3 repeats a run of doc 1 twice, separated by noise → 2 islands
      (3L, "a b c d e f n1 n2 n3 a b c d e f"),
      (4L, "totally different words here indeed okay fine"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    // docs 1&2 share "a b c d e f g h" (8 tokens → 3 six-shingles);
    // doc 3 shares only "a b c d e f" at positions 0 and 9
    assert(got == Set((1L, 0L, 7L, 3L), (2L, 1L, 8L, 3L),
      (3L, 0L, 5L, 1L), (3L, 9L, 14L, 1L)))
    // a lone intra-doc repeat is NOT cross-doc duplication
    val solo = Seq((9L, "p q r s t u p q r s t u")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(solo, "doc_id", "text", 6).count() == 0)
  }

  test("knnClassify: majority vote, smaller-label tie break, k cutoff") {
    // 2-D vectors; cosine ranks by ANGLE to the query (1,0). Label-7
    // rows sit ~0.6° off-axis, label-3 rows ~1-3° off, label 9 is
    // orthogonal. k=4 → both 7s + both 3s: votes 2-2 tie → smaller
    // label 3 wins; k=2 → only the two 7s.
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Array(1.0f, 0.01f), 7), (2L, Array(1.0f, -0.01f), 7),
      (3L, Array(0.9f, 0.05f), 3), (4L, Array(0.95f, -0.02f), 3),
      (5L, Array(0.0f, 1.0f), 9)).toDF("vec_id", "embedding", "label")
    val got = SimSearch.knnClassify(q, c, "vec_id", "embedding",
        "vec_id", "embedding", "label", k = 4)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    val (qid, pred, votes, meanSim) = got.head
    assert(qid == 100L && pred == 3L && votes == 2L)
    assert(meanSim > 0.99 && meanSim < 1.0)
    // single-class dominance: k=2 keeps only the two label-7 rows
    val top2 = SimSearch.knnClassify(q, c, "vec_id", "embedding",
        "vec_id", "embedding", "label", k = 2)
      .as[(Long, Long, Long, Double)].collect().head
    assert(top2._2 == 7L && top2._3 == 2L)
  }

  test("bm25: okapi scores, no-hit docs dropped, rank deterministic") {
    val docs = Seq((1L, "cat dog cat"), (2L, "cat fish"), (3L, "bird bird"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text",
        terms = Seq("cat", "fish"), k = 10)
      .select($"doc_id", $"n_hits", $"score", $"rank")
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // replicate the formula with the engine's operation order
    val n = 3.0; val avgdl = (3.0 + 2.0 + 2.0) / 3
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def c(tf: Double, dl: Double, df: Double) =
      idf(df) * tf * (1.2 + 1) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = r6(c(2.0, 3.0, 2.0))            // doc1: cat×2
    val s2 = r6(c(1.0, 2.0, 2.0) + c(1.0, 2.0, 1.0)) // doc2: cat + fish
    assert(!got.contains(3L), "no-hit doc must not surface")
    assert(got(1L)._1 == 1L && got(2L)._1 == 2L) // distinct matched terms
    assert(got(1L)._2 == s1 && got(2L)._2 == s2)
    // fish is rarer → doc2 outranks doc1
    assert(s2 > s1 && got(2L)._3 == 1L && got(1L)._3 == 2L)
  }

  test("bpeTrain: hand-computed merges, deterministic ties, greedy overlaps") {
    // words: low×3, lower×2, newest×1
    val docs = Seq("low low lower", "low lower newest").toDF("text")
    val got = TextAnalysis.bpeTrain(docs, "text", rounds = 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    // r1: (l,o)=5 ties (o,w)=5 → lexicographic → (l,o)
    // r2: (lo,w)=5 beats (w,e)=3
    // r3: (low,e)=2 ties (e,r)=2 → 'e' < 'low' → (e,r)
    assert(got == Seq((1L, "l", "o", 5L), (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L)))
    // overlapping runs merge left-to-right: aaaa → [aa][aa] → [aaaa];
    // pair exhaustion stops the loop early (2 merges from 3 requested)
    val runs = Seq("aaaa aaaa").toDF("text")
    val g2 = TextAnalysis.bpeTrain(runs, "text", rounds = 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(g2 == Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)))
  }

  test("mmrRerank: diversity overrides relevance, greedy order deterministic") {
    // q=(1,0); A=(7,1) rel≈.990, B=(5,1) rel≈.981 but sim(A,B)≈.998,
    // C=(2,-1) rel≈.894, sim(A,C)≈.822 → λ=.5 picks A, then C (diverse),
    // then B — pure relevance order would be A, B, C
    val qs = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cs = Seq((10L, Seq(7.0f, 1.0f)), (11L, Seq(5.0f, 1.0f)),
      (12L, Seq(2.0f, -1.0f))).toDF("vec_id", "embedding")
    val got = SimSearch.mmrRerank(qs, cs, "vec_id", "embedding",
        "vec_id", "embedding", nCand = 3, k = 3, lam = 0.5)
      .select($"step", $"item_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 12L, 3L -> 11L))
  }

  test("bpeSegment: per-doc BPE token counts under a given merge table") {
    val docs = Seq((1L, "low low lower"), (2L, "newest low"))
      .toDF("doc_id", "text")
    // merges (l,o) then (lo,w): low → [low]; lower → [low,e,r];
    // newest stays 6 chars
    val got = TextAnalysis.bpeSegment(docs, "doc_id", "text",
        Seq(("l", "o"), ("lo", "w")))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 5L), (2L, 2L, 7L)))
    // empty merge table → pure character counts
    val none = TextAnalysis.bpeSegment(docs, "doc_id", "text", Seq.empty)
      .as[(Long, Long, Long)].collect().toSet
    assert(none == Set((1L, 3L, 11L), (2L, 2L, 9L)))
  }

  test("containmentPairs scores an excerpt ~1.0 where jaccard caps at the size ratio") {
    val parent = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta eta"  // first 7 of 20
    val docs = Seq((1L, parent), (2L, excerpt),
      (3L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, minContainment = 0.9)
      .as[(Long, Long, Double)].collect()
    // excerpt's 5 shingles all appear in the parent → containment 1.0
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // jaccard on the same pair is bounded by the size ratio (5/18)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.0)
      .as[(Long, Long, Double)].collect()
      .find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(math.abs(jac - 5.0 / 18.0) < 1e-9)
  }

  test("pmiPairs: vocab cap by df then token, doc-level counts, ln ratio") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "y q"))
      .toDF("doc_id", "text")
    // df: x=3, y=3, z=1, q=1 → top-3 vocab = x, y, q (tie 1 breaks to q)
    val got = TextAnalysis.pmiPairs(docs, "doc_id", "text",
        vocabSize = 3, minCo = 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == Set(("x", "y"), ("q", "y")))
    assert(got(("x", "y"))._1 == 2L)
    assert(math.abs(got(("x", "y"))._2 -
      BigDecimal(math.log(8.0 / 9.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(got(("q", "y"))._2 -
      BigDecimal(math.log(4.0 / 3.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bigramLmScore: hand-traced interpolated probabilities") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "b a")).toDF("doc_id", "text")
    // uni a=3 b=3, n=6 v=2; bi (a,b)=2 (b,a)=1; addone term 4/8=0.5*0.25
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text",
        lambda = 0.75)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def nll(p: Double) = BigDecimal(-math.log(p)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1L, nll(0.75 * 2 / 3 + 0.125))))
    assert(got(2L) == got(1L))
    assert(got(3L) == ((1L, nll(0.75 * 1 / 3 + 0.125))))
  }

  test("associationRules: support/confidence/lift hand-traced, minConfidence filters") {
    val baskets = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L)).toDF("b", "i")
    // N=3; deg 1→3, 2→2, 3→1; co (1,2)=2, (1,3)=1
    val got = graft.recall.ItemCf.associationRules(baskets, "b", "i",
        minCo = 1L, minConfidence = 0.5)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // 1→3 has confidence 1/3 < 0.5 → filtered; the other three survive
    assert(got.keySet == Set((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(got((1L, 2L)) == ((2L, 0.666667, 0.666667, 1.0)))
    assert(got((2L, 1L)) == ((2L, 0.666667, 1.0, 1.0)))
    assert(got((3L, 1L)) == ((1L, 0.333333, 1.0, 1.0)))
  }

  test("bandPlanDf ≡ driver-side bandPlan over the full registered grid") {
    val grid = Seq((16, 30, 50), (16, 50, 80), (16, 50, 95), (16, 70, 90),
      (32, 50, 80), (32, 30, 90), (64, 80, 95), (20, 40, 70),
      (24, 60, 85), (4, 10, 90))
    val got = Dedup.bandPlanDf(
        grid.toDF("num_hashes", "min_jaccard_pct", "target_pct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)), r.getDouble(5))).toMap
    assert(got.size == grid.size, "exactly one plan row per grid row")
    for ((nh, jp, tp) <- grid) {
      val (b, rw) = Dedup.bandPlan(nh, jp / 100.0, tp)
      val (plan, detect) = got((nh.toLong, jp.toLong, tp.toLong))
      assert(plan == ((b.toLong, rw.toLong)),
        s"grid ($nh, $jp, $tp): relational plan $plan != bandPlan ($b, $rw)")
      assert(math.abs(detect
        - Dedup.detectionProb(jp / 100.0, b, rw)) < 1e-6)
    }
    // the (4, 10%, 90%) row is the honest ladder-max fallback: bands =
    // num_hashes AND the shipped detect_prob < target — the
    // lengthen-the-signature signal is visible in the output itself
    assert(got((4L, 10L, 90L))._1 == ((4L, 1L)))
    assert(got((4L, 10L, 90L))._2 < 0.90)
  }

  test("bandPlanDf input contract: invalid grid rows vanish / clamp as documented") {
    // where driver-side bandPlan require()s, the relational form's
    // documented contract applies — pinned here so it can't drift
    val got = Dedup.bandPlanDf(
        Seq((0, 50, 80), (-3, 50, 80), (16, 50, 150), (16, 50, -10))
          .toDF("num_hashes", "min_jaccard_pct", "target_pct"))
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // num_hashes < 1 → empty divisor sequence → the row is GONE
    assert(!got.keySet.exists(_._1 <= 0L), "num_hashes < 1 rows must vanish")
    assert(got.size == 2)
    // target_pct > 100 can never qualify → ladder-max fallback
    assert(got((16L, 150L)) == ((16L, 1L)))
    // target_pct <= 0 qualifies at the first divisor → bands = 1
    assert(got((16L, -10L)) == ((1L, 16L)))
  }

  test("minHashPairsPortableAuto: planner drives the banding, ≡ explicit bands") {
    // the registered operating point: j = 0.50, target 80% → (8, 2)
    assert(Dedup.bandPlan(16, 0.50, 80) == ((8, 2)))
    val docs = Tables.documents(spark, TestSpark.sf)
    val auto = Dedup.minHashPairsPortableAuto(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)
    val manual = Dedup.minHashPairsPortable(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 8, minJaccard = 0.5)
    val a = auto.drop("bands", "rows_per_band")
    assert(a.except(manual).count() == 0 && manual.except(a).count() == 0)
    // the chosen plan ships on every row
    assert(auto.where(col("bands") =!= 8L ||
      col("rows_per_band") =!= 2L).count() == 0)
  }

  test("minHashPairsAuto / minHashMatchesAgainstAuto ≡ explicit planned bands") {
    // the registered j = 0.30 / target 80% point → (16, 1): at 16 hashes
    // only singleton bands reach 80% below j ≈ 0.5
    assert(Dedup.bandPlan(16, 0.30, 80) == ((16, 1)))
    val docs = Tables.documents(spark, TestSpark.sf)
    val auto = Dedup.minHashPairsAuto(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 30,
      targetDetectPct = 80)
    val manual = Dedup.minHashPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 16, minJaccard = 0.3)
    assert(auto.except(manual).count() == 0
      && manual.except(auto).count() == 0)
    val inc = docs.where(col("doc_id") % 5 === 0)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val xa = Dedup.minHashMatchesAgainstAuto(inc, base, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80)
    val xm = Dedup.minHashMatchesAgainst(inc, base, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 8, minJaccard = 0.5)
    assert(xa.except(xm).count() == 0 && xm.except(xa).count() == 0)
  }

  test("simHashBandPlan: pigeonhole minimum, matches the registered layouts") {
    assert(Dedup.simHashBandPlan(0) == 1)
    assert(Dedup.simHashBandPlan(1) == 2) // d3's registered layout
    assert(Dedup.simHashBandPlan(3) == 4) // d24/d27's registered layout
    assertThrows[IllegalArgumentException](Dedup.simHashBandPlan(-1))
  }

  test("signBandPlan / signBandsFor: planned layouts + knife-edge margin audit") {
    // fixed 16-bit signature at the d6 point (cos 0.40, target 80%):
    // divisor scan picks (8, 2)
    assert(SimSearch.signBandPlan(16, 40, 80) == ((8, 2)))
    // every divisor's S-curve value must sit FAR from the 0.8 threshold
    // (pow/acos are not correctly-rounded; a razor-thin comparison could
    // split between engines) — audit the full scan
    for (b <- Seq(1, 2, 4, 8, 16)) {
      val d = SimSearch.signDetectionProb(0.40, b, 16 / b)
      assert(math.abs(d - 0.8) > 1e-3, s"knife edge at divisor $b: $d")
    }
    // auto-width family at the registered fixture sizes: width 4
    // (n = 500, target 50) → 10 bands; width 6 (n = 2000) → 25 bands
    assert(SimSearch.autoWidth(500, 50) == 4)
    assert(SimSearch.signBandsFor(4, 40, 80) == 10)
    assert(SimSearch.autoWidth(2000, 50) == 6)
    assert(SimSearch.signBandsFor(6, 40, 80) == 25)
    // margin audit at the ladder's decision points (the chosen b and
    // its predecessor straddle the target with real slack)
    for ((w, b) <- Seq((4, 10), (6, 25))) {
      assert(SimSearch.signDetectionProb(0.40, b, w) - 0.8 > 1e-3)
      assert(0.8 - SimSearch.signDetectionProb(0.40, b - 1, w) > 1e-3)
    }
    // honest fallback: singleton-bucket widths at scale can't reach the
    // target within maxBands — the planner says maxBands, not a lie
    assert(SimSearch.signBandsFor(16, 40, 80, maxBands = 64) == 64)
    assert(SimSearch.signDetectionProb(0.40, 64, 16) < 0.8)
  }

  test("lshPairsAutoPlanned / embeddingPairsBandedPlanned ≡ explicit layouts") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val n = emb.count()
    val w = SimSearch.autoWidth(math.max(1L, n), 50L)
    val b = SimSearch.signBandsFor(w, 40, 80)
    val auto = SimSearch.lshPairsAutoPlanned(emb, "vec_id", "embedding",
      dim = 64, minCosinePct = 40, targetBucketSize = 50L,
      targetDetectPct = 80)
    val manual = SimSearch.lshPairs(emb, "vec_id", "embedding", dim = 64,
      minCosine = 0.4, nBits = b * w, bands = b)
    assert(auto.except(manual).count() == 0
      && manual.except(auto).count() == 0)
    val planned = Dedup.embeddingPairsBandedPlanned(emb, "vec_id",
      "embedding", dim = 64, minCosinePct = 40, nBits = 16,
      targetDetectPct = 80)
    val manual16 = SimSearch.lshPairs(emb, "vec_id", "embedding",
      dim = 64, minCosine = 0.4, nBits = 16, bands = 8)
    assert(planned.except(manual16).count() == 0
      && manual16.except(planned).count() == 0)
  }

  test("bandPlanAudit: exact dups always detected, plan ships, curve matches") {
    // pair (1,2): identical (j = 1 → closed-top bucket 9, MUST be
    // detected — all bands agree); (1,3)/(2,3): one token differs;
    // (1,4)/(2,4)/(3,4): low overlap
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta kappa mu"),
      (4L, "one two three four five six seven alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = Dedup.bandPlanAudit(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, minJaccardPct = 50,
      targetDetectPct = 80).collect()
    val b9 = out.find(_.getLong(0) == 9L)
    assert(b9.isDefined, "the identical pair must appear in bucket 9")
    assert(b9.get.getLong(1) == b9.get.getLong(2),
      "identical docs share every band — detection is structural")
    assert(out.forall(r => r.getLong(5) == 8L && r.getLong(6) == 2L),
      "the planned (8, 2) layout ships on every bucket row")
    out.foreach { r =>
      val mid = (r.getLong(0) + 0.5) / 10.0
      val pred = 1.0 - math.pow(1.0 - math.pow(mid, 2), 8)
      assert(math.abs(r.getDouble(4) - pred) < 1e-6,
        s"bucket ${r.getLong(0)}: predicted ${r.getDouble(4)} vs $pred")
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("signBandPlanAudit: structural detection, plan ships, curve margins") {
    // identical vectors → cosine 1.0 → closed-top bucket 9, detected
    // STRUCTURALLY (every hyperplane sign agrees, so all bands match);
    // the alternating vector is orthogonal to them (cosine 0 < floor)
    // and must not contribute a bucket row
    val embs = Seq(
      (1L, Seq.fill(64)(0.1)), (2L, Seq.fill(64)(0.1)),
      (3L, (0 until 64).map(i => if (i % 2 == 0) 0.1 else -0.1).toSeq)
    ).toDF("vec_id", "embedding")
    val out = SimSearch.signBandPlanAudit(embs, "vec_id", "embedding",
      dim = 64, nBits = 16, minCosinePct = 40, targetDetectPct = 80)
      .collect()
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getLong(0) == 9L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert((r.getLong(5), r.getLong(6)) == ((8L, 2L)),
      "the planned (8, 2) layout ships on the bucket row")
    // 6-dp rounding margins of the predicted curve at every midpoint
    // the audit can emit — acos/pow are not correctly-rounded, so the
    // round must sit far from a half boundary for the oracle to agree
    // (the d33 discipline)
    for (b <- 0 to 9) {
      val mid = (b + 0.5) / 10.0
      val p = 1.0 - math.acos(mid) / math.Pi
      val pred = 1.0 - math.pow(1.0 - math.pow(p, 2), 8)
      val frac = (pred * 1e6) % 1.0
      assert(math.abs(frac - 0.5) > 1e-6,
        f"bucket $b: predicted $pred%.9f rounds on a knife edge")
    }
  }

  test("bandReplanIfUndershot: detected corpus keeps the serving layout") {
    // one identical pair (bucket 9, detected structurally) under the
    // planned (16, 8) layout at its own operating point → KEEP, and the
    // new_* columns re-state the current layout
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val r = Dedup.bandReplanIfUndershot(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 8, minJaccardPct = 50,
      targetDetectPct = 80).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L) // replan=0, keep
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L) // 1 pair, detected
    assert(r.getLong(4) == 0L)                       // no bucket below
    assert((r.getLong(8), r.getLong(9), r.getLong(10)) == ((16L, 8L, 2L)))
    assert(math.abs(r.getDouble(11) - 0.899887) < 1e-9)
  }

  test("bandReplanIfUndershot: no qualifying pairs is a KEEP (quiet gate)") {
    // disjoint docs — zero pairs at j >= 0.5; no evidence must be a
    // no-op, the refitIfDrifted sum(n_new) > 0 discipline
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val r = Dedup.bandReplanIfUndershot(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, minJaccardPct = 50,
      targetDetectPct = 80).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L)
  }

  test("bandReplanIfUndershot: missed low-j bucket LENGTHENS the signature") {
    // pair shares exactly the "x y z" shingle: j = 1/15 ≈ 0.067 ≥ 0.05
    // qualifies at the 5% operating point; under (16, 4) a band agrees
    // with probability j⁴ ≈ 2·10⁻⁵ — the pair goes undetected, bucket 0
    // fails the 80% target, and no divisor layout at 16 hashes reaches
    // 0.80 at j = 0.05 (best is (16,1) at 0.56) → the ladder doubles to
    // 32 hashes where (32,1) reaches 0.806
    val docs = Seq(
      (1L, "x y z a1 a2 a3 a4 a5 a6 a7"),
      (2L, "x y z b1 b2 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    val r = Dedup.bandReplanIfUndershot(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, minJaccardPct = 5,
      targetDetectPct = 80).collect().head
    assert(r.getLong(0) == 1L, "replan must fire")
    assert(r.getLong(1) == 2L, "action must be LENGTHEN")
    assert(r.getLong(2) == 1L && r.getLong(3) == 0L && r.getLong(4) == 1L)
    assert((r.getLong(8), r.getLong(9), r.getLong(10)) == ((32L, 32L, 1L)))
    // 1 - 0.95^32 ≈ 0.806289
    assert(math.abs(r.getDouble(11) - 0.806289) < 1e-6)
  }

  test("bandReplanIfUndershot: missed mid-j buckets REBAND at the same signature") {
    // three disjoint pairs each sharing a 9-token run: 15 shingles per
    // doc, 7 shared → j = 7/23 ≈ 0.304, bucket 3 ≥ the 30% operating
    // point. Under (16, 4) each pair is detected with probability
    // ≈ 1-(1-0.304⁴)¹⁶ ≈ 0.13 — the bucket needs 80% and fails; at the
    // same 16 hashes (16, 1) reaches 1-(1-0.3)¹⁶ ≈ 0.9967 ≥ 0.80, so
    // the remedy is a REBAND, not a longer signature
    def doc(tag: String, common: String) =
      common + " " + (1 to 8).map(i => s"$tag$i").mkString(" ")
    val c1 = "c1a c1b c1c c1d c1e c1f c1g c1h c1i"
    val c2 = "c2a c2b c2c c2d c2e c2f c2g c2h c2i"
    val c3 = "c3a c3b c3c c3d c3e c3f c3g c3h c3i"
    val docs = Seq(
      (1L, doc("p", c1)), (2L, doc("q", c1)),
      (3L, doc("r", c2)), (4L, doc("s", c2)),
      (5L, doc("t", c3)), (6L, doc("u", c3))
    ).toDF("doc_id", "text")
    val r = Dedup.bandReplanIfUndershot(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, minJaccardPct = 30,
      targetDetectPct = 80).collect().head
    assert(r.getLong(0) == 1L, "replan must fire")
    assert(r.getLong(1) == 1L,
      s"action must be REBAND, got ${r.getLong(1)} " +
        s"(n_pairs=${r.getLong(2)}, n_detected=${r.getLong(3)})")
    assert(r.getLong(2) == 3L)
    assert((r.getLong(8), r.getLong(9), r.getLong(10)) == ((16L, 16L, 1L)))
  }

  test("bandReplanIfUndershot: input contract") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.bandReplanIfUndershot(docs, "doc_id", "text", 3,
        numHashes = 16, bands = 5, minJaccardPct = 50,
        targetDetectPct = 80) // 5 does not divide 16
    }
    intercept[IllegalArgumentException] {
      Dedup.bandReplanIfUndershot(docs, "doc_id", "text", 3,
        numHashes = 16, bands = 4, minJaccardPct = 101,
        targetDetectPct = 80)
    }
  }

  test("signReplanIfUndershot: starved single-band layout rebands; planned layout keeps") {
    // 5 near-collinear vectors (pairwise cosine ≥ 0.97 — ten qualifying
    // pairs at the 40% operating point) + 3 spread vectors below it.
    // Under (16 bits, 1 band) a c ≈ 0.97 pair is caught only when ALL
    // 16 sign bits agree (p^16 ≈ 0.27) — the fixed portable planes miss
    // enough of the ten for the 80% bucket target to fail → REPLAN, and
    // the ladder's k = 0 rung (16, 8 × 2) qualifies with a different
    // divisor → action 1 (REBAND). The SAME corpus under the planned
    // (16, 8 × 2) detects every pair (per-pair miss ≈ 2.5e-7) → KEEP.
    val emb = (0 to 4).map(i =>
        (i.toLong, Seq(1.0, 0.05 * i, 0.03 * i, 1.0))) ++
      Seq((10L, Seq(1.0, 0.0, 0.0, -1.0)), (11L, Seq(0.0, 1.0, -1.0, 0.0)),
        (12L, Seq(-1.0, 0.0, 0.0, -1.0)))
    val df = emb.toDF("id", "v")
    val fire = SimSearch.signReplanIfUndershot(df, "id", "v", dim = 4,
      nBits = 16, bands = 1, minCosinePct = 40, targetDetectPct = 80)
      .collect().head
    assert(fire.getLong(0) == 1L && fire.getLong(1) == 1L,
      s"expected replan/reband, got $fire")
    assert((fire.getLong(8), fire.getLong(9), fire.getLong(10))
      == ((16L, 8L, 2L)), s"ladder must pick (16, 8, 2): $fire")
    val keep = SimSearch.signReplanIfUndershot(df, "id", "v", dim = 4,
      nBits = 16, bands = 8, minCosinePct = 40, targetDetectPct = 80)
      .collect().head
    assert(keep.getLong(0) == 0L && keep.getLong(1) == 0L,
      s"expected keep, got $keep")
    assert(keep.getLong(3) == keep.getLong(2),
      s"planned layout must detect every qualifying pair: $keep")
    // quiet corpus (no qualifying pairs) is a KEEP, never a vacuous fire
    val quiet = SimSearch.signReplanIfUndershot(
      df.where($"id" >= 10), "id", "v", dim = 4,
      nBits = 16, bands = 1, minCosinePct = 40, targetDetectPct = 80)
      .collect().head
    assert(quiet.getLong(0) == 0L && quiet.getLong(2) == 0L)
    intercept[IllegalArgumentException] {
      SimSearch.signReplanIfUndershot(df, "id", "v", dim = 4,
        nBits = 16, bands = 3, minCosinePct = 40, targetDetectPct = 80)
    } // 3 does not divide 16
  }

  test("simHashWidenIfUndershot: cap starvation widens 64 → 128; serving cap keeps") {
    // two exact-dup triples: every h = 0 pair shares all four band
    // buckets, but a cap of 1 drops ANY bucket that could emit a pair,
    // so detection is 0 and the policy mandates the 128-bit family; at
    // the serving cap the pigeonhole bound holds and the layout keeps
    val docs = ((0 to 2).map(i => (i.toLong, "alpha beta gamma delta")) ++
      (10 to 12).map(i => (i.toLong, "epsilon zeta eta theta iota")))
      .toDF("doc_id", "text")
    val widen = Dedup.simHashWidenIfUndershot(docs, "doc_id", "text",
      maxHamming = 3, targetDetectPct = 99, maxBucket = 1)
      .collect().head
    assert(widen.getLong(0) == 1L && widen.getLong(2) == 0L,
      s"expected widen with zero detection, got $widen")
    assert(widen.getLong(7) == 128L && widen.getLong(8) == 4L,
      s"remedy must be the 128-bit 4-lane family: $widen")
    val keep = Dedup.simHashWidenIfUndershot(docs, "doc_id", "text",
      maxHamming = 3, targetDetectPct = 99).collect().head
    assert(keep.getLong(0) == 0L && keep.getLong(2) == keep.getLong(1),
      s"expected keep with full detection, got $keep")
    assert(keep.getLong(7) == 64L && keep.getLong(9) == keep.getLong(6),
      s"keep must re-state the current layout: $keep")
    intercept[IllegalArgumentException] {
      Dedup.simHashWidenIfUndershot(docs, "doc_id", "text",
        precountedN = Some(0L))
    }
  }

  test("simHashPlanAudit: pigeonhole buckets read 1.0 at the serving cap") {
    val docs = ((0 to 2).map(i => (i.toLong, "alpha beta gamma delta")) ++
      (10 to 12).map(i => (i.toLong, "epsilon zeta eta theta iota")))
      .toDF("doc_id", "text")
    val rows = Dedup.simHashPlanAudit(docs, "doc_id", "text",
      maxHamming = 12).collect()
    val h0 = rows.find(_.getLong(0) == 0L).get
    // the two dup triples contribute 6 h = 0 pairs, all detected, and
    // the analytic pigeonhole curve is exactly 1.0 below 4 bands
    assert(h0.getLong(1) == 6L && h0.getLong(2) == 6L)
    assert(h0.getDouble(3) == 1.0 && h0.getDouble(4) == 1.0)
    rows.filter(_.getLong(0) < 4L).foreach(r =>
      assert(r.getDouble(4) == 1.0, s"pigeonhole bucket not 1.0: $r"))
  }

  test("pqRefitIfDistorted: distorted incoming refits over fit ∪ incoming") {
    // fit: 4-dim vectors near (1,0,0,1) with small deterministic jitter
    // (nonzero quantization error against the 2-row codebooks);
    // incoming: the same family scaled 3× — squared error grows ~9×,
    // far past the 150% ratio → REFIT, codebook source re-pulled over
    // the union (md5 order may pick incoming ids)
    val fit = (0L to 9L).map(i =>
      (i, Seq(1.0 + 0.01 * i, 0.01 * i, 0.0, 1.0))).toDF("id", "v")
    val inc = (100L to 104L).map(i =>
      (i, Seq(3.0 + 0.03 * i, 0.03 * i, 0.0, 3.0))).toDF("id", "v")
    val out = SimSearch.pqRefitIfDistorted(fit, inc, "id", "v",
      dim = 4, m = 2, k = 2).collect()
    assert(out.length == 2)
    assert(out.forall(_.getLong(0) == 1L), "refit must fire")
    assert(out.forall(r => r.getLong(1) == 10L && r.getLong(2) == 5L))
    assert(out.forall(r => r.getDouble(4) > 1.5 * r.getDouble(3)))
  }

  test("pqRefitIfDistorted: refit pull is one-row-per-id under overlap") {
    // ids 5..9 re-ingested with updated (3×) coordinates — the same id
    // on BOTH sides of fit ∪ incoming used to tie under the (md5, id)
    // pull ordering (r12 ADVICE): limit-k could return the same id
    // twice or pick the stale fit row partition-order-dependently. The
    // fix dedups per id, preferring the incoming row, BEFORE the pull.
    val fit = (0L to 9L).map(i =>
      (i, Seq(1.0 + 0.01 * i, 0.01 * i, 0.0, 1.0))).toDF("id", "v")
    val inc = (5L to 9L).map(i =>
      (i, Seq(3.0 + 0.03 * i, 0.03 * i, 0.0, 3.0))).toDF("id", "v")
    val out = SimSearch.pqRefitIfDistorted(fit, inc, "id", "v",
      dim = 4, m = 2, k = 4).collect()
    assert(out.forall(_.getLong(0) == 1L), "refit must fire")
    val ids = out.map(_.getLong(6))
    assert(ids.length == 4 && ids.distinct.length == 4,
      s"codebook source must hold k distinct ids, got ${ids.toSeq}")
  }

  test("pqRefitIfDistorted: exchangeable incoming keeps the codebooks") {
    val fit = (0L to 9L).map(i =>
      (i, Seq(1.0 + 0.01 * i, 0.01 * i, 0.0, 1.0))).toDF("id", "v")
    // incoming mirrors the fit jitter points one-for-one (i % 10 spans
    // the full 0..9), so the per-row error MULTISET is identical on
    // both sides → ratio exactly 1.0 < 1.5
    val inc = (100L to 109L).map(i =>
      (i, Seq(1.0 + 0.01 * (i % 10), 0.01 * (i % 10), 0.0, 1.0)))
      .toDF("id", "v")
    val keep = SimSearch.pqRefitIfDistorted(fit, inc, "id", "v",
      dim = 4, m = 2, k = 2).collect()
    assert(keep.forall(_.getLong(0) == 0L))
    // KEEP serving set = the fit-time codebook source (ids ⊆ fit)
    assert(keep.map(_.getLong(6)).forall(_ <= 9L))
  }

  test("pqRefitIfDistorted: pristine and quiet corpora are no-ops") {
    // pristine: every vector IS a codebook row → both means are 0;
    // without the mean_new > 0 gate the ratio trigger would fire
    // 0 ≥ 0 vacuously (the refitIfDrifted skew-gate class of bug)
    val fit = (0L to 5L).map(i =>
      (i, Seq(if (i % 2 == 0) 1.0 else 0.0, 0.0, 0.0, 1.0)))
      .toDF("id", "v")
    val inc = Seq((100L, Seq(1.0, 0.0, 0.0, 1.0))).toDF("id", "v")
    val pristine = SimSearch.pqRefitIfDistorted(fit, inc, "id", "v",
      dim = 4, m = 2, k = 2).collect()
    assert(pristine.forall(_.getLong(0) == 0L),
      "zero-distortion incoming must not refit")
    // quiet: no incoming rows at all → KEEP (never a vacuous fire)
    val quiet = SimSearch.pqRefitIfDistorted(fit,
      inc.where($"id" < 0), "id", "v", dim = 4, m = 2, k = 2).collect()
    assert(quiet.forall(r => r.getLong(0) == 0L && r.getLong(2) == 0L))
  }

  test("pqRefitIfDistorted: input contract") {
    val fit = (0L to 5L).map(i => (i, Seq(1.0, 0.0, 0.0, 1.0)))
      .toDF("id", "v")
    intercept[IllegalArgumentException] {
      SimSearch.pqRefitIfDistorted(fit, fit, "id", "v",
        dim = 4, m = 3, k = 2) // 3 does not divide 4
    }
    intercept[IllegalArgumentException] {
      SimSearch.pqRefitIfDistorted(fit.where($"id" < 1), fit, "id", "v",
        dim = 4, m = 2, k = 2) // fit holds 1 row < k
    }
  }

  test("refitIfDrifted: benign incoming keeps the fit-time index") {
    // fit ids 0..9; md5 order of "0".."9" is 6,9,7,4,1,2,8,0,5,3 so with
    // targetCellSize=5 → nCells=2 the centroids are id 6's and id 9's
    // vectors — pinned (1,0) and (0,1) here
    val fit = (0L to 9L).map { i =>
      if (i == 6L) (i, Seq(1.0, 0.0))
      else if (i == 9L) (i, Seq(0.0, 1.0))
      else if (i < 5L) (i, Seq(1.0, 0.02 * (i + 1)))
      else (i, Seq(0.02 * i, 1.0))
    }.toDF("id", "v")
    // 3 rows per cell: under minCellN=5 (drift gated) and balanced
    // (skew 2·3 < 3·6)
    val inc = Seq((100L, Seq(1.0, 0.05)), (101L, Seq(1.0, 0.06)),
      (102L, Seq(1.0, 0.07)), (103L, Seq(0.05, 1.0)),
      (104L, Seq(0.06, 1.0)), (105L, Seq(0.07, 1.0))).toDF("id", "v")
    val out = SimSearch.refitIfDrifted(fit, inc, "id", "v",
        targetCellSize = 5L, skewFactor = 3, driftMilli = 20, minCellN = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.forall(r => r._1 == 0L && r._2 == 0L && r._3 == 0L))
    // serving index = the fit-time centroids, in md5 order
    assert(out.map(r => (r._5, r._6)).sorted.toSeq == Seq((0L, 6L), (1L, 9L)))
  }

  test("refitIfDrifted: skew trigger re-pulls centroids over fit ∪ incoming") {
    val fit = (0L to 9L).map(i => (i, Seq(1.0, 0.0))).toDF("id", "v")
    // 30 identical rows → all land in one of the 5 cells: 5·30 ≥ 3·30,
    // but cosine 1.0 against the centroid → zero drift
    val inc = (100L to 129L).map(i => (i, Seq(1.0, 0.0))).toDF("id", "v")
    val out = SimSearch.refitIfDrifted(fit, inc, "id", "v",
        targetCellSize = 2L, skewFactor = 3, driftMilli = 20, minCellN = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5)))
    assert(out.forall(r => r._1 == 1L && r._2 == 1L && r._3 == 0L))
    // re-pulled over the 40-row union: autoCells(40, 2) = 20 cells, and
    // with only 10 fit ids at least 10 centroids come from the incoming
    assert(out.length == 20 && out.forall(_._4 == 20L))
    assert(out.count(_._5 >= 100L) >= 10)
  }

  test("refitIfDrifted: a quiet interval (no incoming) is a KEEP, not a vacuous skew fire") {
    // with zero incoming rows, max(n_new) = sum(n_new) = 0 and the
    // ungated skew test `nCells·0 ≥ skewFactor·0` would hold vacuously;
    // the sum(n_new) > 0 gate makes silence a no-op — the decision a
    // periodic maintenance caller acting on the flag requires
    val fit = (0L to 9L).map(i => (i, Seq(1.0, 0.0))).toDF("id", "v")
    val inc = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    val out = SimSearch.refitIfDrifted(fit, inc, "id", "v",
        targetCellSize = 2L, skewFactor = 3, driftMilli = 20, minCellN = 5L)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L
      && r.getLong(2) == 0L), "empty incoming must not trigger a refit")
    // serving set = the fit-time index: autoCells(10, 2) = 5 centroids
    assert(out.length == 5 && out.forall(_.getLong(3) == 5L))
    assert(out.map(_.getLong(5)).forall(_ <= 9L))
  }

  test("refitIfDrifted: cosine-drift trigger fires on a degraded cell") {
    val fit = (0L to 9L).map(i => (i, Seq(1.0, 0.0))).toDF("id", "v")
    // 6 rows at cosine 0.8 to the centroid: n_new ≥ minCellN and
    // cos_drift = 0.8 − 1.0 = −0.2 ≤ −driftMilli/1000
    val inc = (100L to 105L).map(i => (i, Seq(0.8, 0.6))).toDF("id", "v")
    val out = SimSearch.refitIfDrifted(fit, inc, "id", "v",
        targetCellSize = 2L, skewFactor = 3, driftMilli = 20, minCellN = 5L)
      .collect()
    assert(out.forall(r => r.getLong(0) == 1L && r.getLong(2) == 1L),
      "drift trigger must fire and force the refit")
  }

  test("ivfTopKWithCents: explicit serving centroids route probes; md5-pull form ≡ ivfTopKPortable") {
    // the maintenance-loop serving face: a refit decision emits the
    // centroid set, and the server probes with exactly those centroids
    // — which need not come from the served corpus snapshot at all
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 0.9))).toDF("id", "v")
    val queries = Seq((10L, Seq(1.0, 0.05)), (11L, Seq(0.05, 1.0)))
      .toDF("id", "v")
    // hand centroids: e1 and e2 — each query probes its own cell only
    // (nProbe=1) and must see exactly the two corpus rows assigned there
    val got = graft.llmops.SimSearch.ivfTopKWithCents(queries, corpus,
        "id", "v", "id", "v", k = 2,
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), nProbe = 1)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L), (11L, 3L), (11L, 4L)))
    // delegation identity: ivfTopKPortable is exactly the md5-pulled
    // centroid set fed through ivfTopKWithCents
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val c = emb.where($"vec_id" >= 10)
    val q = emb.where($"vec_id" < 5)
    val viaPortable = graft.llmops.SimSearch.ivfTopKPortable(q, c,
        "vec_id", "embedding", "vec_id", "embedding", k = 3,
        nCells = 4, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val cents = c.select($"vec_id",
        $"embedding".cast("array<double>").as("v"))
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(4).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val viaCents = graft.llmops.SimSearch.ivfTopKWithCents(q, c,
        "vec_id", "embedding", "vec_id", "embedding", k = 3,
        cents, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(viaPortable == viaCents)
  }

  test("lshRangeSearchPortable: ≡ the top-k probe at unbounded k, thresholded") {
    // the range form shares the bucket/probe structure with lshTopK —
    // pin that it returns EXACTLY the thresholded candidate set (no
    // rank cut, no per-group shuffle)
    import graft.llmops.SimSearch
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 5)
    val c = emb.where($"vec_id" >= 10)
    val range = SimSearch.lshRangeSearchPortable(q, c,
        "vec_id", "embedding", "vec_id", "embedding",
        minCosine = 0.15, dim = 64, nBits = 8)
      .as[(Long, Long, Double)].collect().toSet
    val viaTopk = SimSearch.lshTopKPortable(q, c,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 1000000, dim = 64, nBits = 8)
      .select($"query_id", $"item_id", round($"cosine", 6).as("c"))
      .where($"c" >= 0.15)
      .as[(Long, Long, Double)].collect().toSet
    assert(range.nonEmpty && range == viaTopk)
  }

  test("IndexMaintenance.recallFloor: integer floor math on hand-computed overlap") {
    import graft.llmops.IndexMaintenance
    // truth = 3 pairs, approx covers 2 of them (plus a non-truth extra
    // and a duplicate, both of which must not inflate the hit count):
    // recall = 2/3 → floor 66 passes (2·100 ≥ 66·3 = 198), floor 67
    // fails (200 < 201) — the exact integer knife-edge, no floats
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val approx = Seq((1L, 2L), (3L, 4L), (3L, 4L), (9L, 9L))
      .toDF("a", "b")
    def flag(floor: Int): (Long, Long) = {
      val r = IndexMaintenance.recallFloor(approx, truth,
        Seq("a", "b"), floor).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(flag(66) == ((3L, 1L)))
    assert(flag(67) == ((3L, 0L)))
    // empty truth: above_floor holds vacuously (0 ≥ floor·0) and the
    // row still ships n_truth=0 so a caller can see there was no
    // evidence — the quiet-interval discipline
    val noTruth = truth.where($"a" > 100L)
    assert(IndexMaintenance.recallFloor(approx, noTruth,
      Seq("a", "b"), 80).head().getLong(0) == 0L)
  }

  test("md5Sample: deterministic, partition-independent, ceiling-monotone " +
      "slices (the sampled-audit EXTRACT stage)") {
    import graft.llmops.IndexMaintenance
    val docs = Tables.documents(spark, TestSpark.sf)
    def ids(ceil: String, parts: Int): Set[Long] =
      IndexMaintenance.md5Sample(docs.repartition(parts), "doc_id", ceil,
          pin = false)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    val half = ids("8", 4)
    // membership is a pure function of the id — any partitioning
    // produces the same slice
    assert(half == ids("8", 1))
    // the kept fraction tracks int(ceiling,16)/16^len (a hash-uniform
    // corpus; generous bounds, no flakiness)
    val n = docs.count()
    assert(math.abs(half.size.toDouble / n - 0.5) < 0.15,
      s"ceiling '8' must keep ≈ 8/16: ${half.size}/$n")
    val tight = ids("08", 4)
    assert(math.abs(tight.size.toDouble / n - 8.0 / 256) < 0.05,
      s"ceiling '08' must keep ≈ 8/256: ${tight.size}/$n")
    // ceilings nest: a tighter prefix ceiling selects a subset of the
    // wider one (hex-string order IS numeric order on the prefix)
    assert(tight.subsetOf(half))
    // degenerate ceilings: "0" keeps nothing, an all-f ceiling below
    // "g" keeps everything but the exact-"ffff…" md5s (none here)
    assert(ids("0", 2).isEmpty)
    // a malformed ceiling is rejected, not silently empty
    intercept[IllegalArgumentException] {
      IndexMaintenance.md5Sample(docs, "doc_id", "2G")
    }
  }

  test("plan/audit input contract: out-of-range percents fail loudly") {
    // a percent outside its range must throw, not clamp into a plan
    // (cos 1.5 clamps to 1.0 → 1 band → an empty pair frame, no error)
    intercept[IllegalArgumentException] {
      SimSearch.signBandsFor(4, minCosinePct = 150, targetDetectPct = 80)
    }
    intercept[IllegalArgumentException] {
      SimSearch.signBandsFor(4, minCosinePct = 40, targetDetectPct = 150)
    }
    val embs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SimSearch.lshPairsAutoPlanned(embs, "vec_id", "embedding", dim = 2,
        minCosinePct = 150, targetBucketSize = 50L, targetDetectPct = 80)
    }
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.bandPlanAudit(docs, "doc_id", "text", shingleN = 2,
        numHashes = 16, minJaccardPct = 101, targetDetectPct = 80)
    }
    assert(e.getMessage.contains("percent"), e.getMessage)
  }

  test("undershoot trigger: integer boundary, any-bucket, quiet interval") {
    import graft.llmops.IndexMaintenance
    // hand-built detection frames: one row per exact pair, `__det` = 1
    // when the banding caught it, null otherwise
    def frame(buckets: (Long, Int, Int)*) =
      buckets.flatMap { case (b, n, d) =>
        Seq.tabulate(n)(i => (b, if (i < d) Some(1L) else None))
      }.toDF("b", "__det")
    def fire(buckets: (Long, Int, Int)*) =
      IndexMaintenance.undershoot(frame(buckets: _*), $"b",
        targetDetectPct = 80)
    // exactly on target: 8·100 == 80·10 is not below → KEEP
    assert(fire((3L, 10, 8)) == ((10L, 8L, 0L, false)))
    // one detection fewer: 7·100 < 80·10 → fires
    assert(fire((3L, 10, 7)) == ((10L, 7L, 1L, true)))
    // any-bucket, not aggregate: 97/100 overall, but bucket 5 is at 1/2
    assert(fire((3L, 10, 10), (5L, 2, 1), (9L, 88, 86))
      == ((100L, 97L, 1L, true)))
    // quiet interval: no evidence rows is a KEEP with zero counts
    assert(fire() == ((0L, 0L, 0L, false)))
  }

  test("planned sign-LSH forms check their percents before the count job") {
    // a frame whose scan raises: the parent ran `count()` first and
    // surfaced the scan's SparkException instead of the contract
    val scanRaises = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
      .where(raise_error(lit("the corpus was scanned")).isNull)
    intercept[IllegalArgumentException] {
      SimSearch.lshPairsAutoPlanned(scanRaises, "vec_id", "embedding",
        dim = 2, minCosinePct = 150, targetBucketSize = 50L,
        targetDetectPct = 80)
    }
    intercept[IllegalArgumentException] {
      SimSearch.lshBucketHistogramAutoPlanned(scanRaises, "vec_id",
        "embedding", dim = 2, minCosinePct = 150, targetBucketSize = 50L,
        targetDetectPct = 80)
    }
    intercept[IllegalArgumentException] {
      SimSearch.lshPairsAutoPlanned(scanRaises, "vec_id", "embedding",
        dim = 2, minCosinePct = 40, targetBucketSize = 50L,
        targetDetectPct = 150)
    }
  }

  test("autoNProbe input contract: both forms refuse out-of-range targets, zero depths and empty calibration") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.where($"vec_id" >= 10)
    val calib = emb.where($"vec_id" < 5)
    val empty = emb.where($"vec_id" < 0)
    // a prebuilt two-cell index, hand-made (no k-means fit needed)
    val assigned = corpus.select($"vec_id".as("item_id"),
      $"embedding".as("__cv"), ($"vec_id" % 2).cast("int").as("__cell"))
    val centDf = corpus.where($"vec_id" < 12).select(
      ($"vec_id" % 2).cast("int").as("__cell"),
      $"embedding".cast("array<double>").as("__centroid"))
    // the portable form checks its contract before counting the corpus
    val scanRaises = corpus.where(raise_error(lit("scanned")).isNull)
    // 150: the target is not a percent (was: silently the ladder max);
    // -1: not a percent (was: silently the ladder head); depth 0 with
    // target 0 (was: 0, and serving at depth 0 returns an empty frame)
    for ((pct, ladder) <- Seq(150 -> Seq(1, 2, 4, 8),
        -1 -> Seq(1, 2, 4, 8), 0 -> Seq(0, 1, 2))) {
      intercept[IllegalArgumentException] {
        SimSearch.autoNProbeIndexed(calib, assigned, centDf, "vec_id",
          "embedding", 5, pct, ladder)
      }
      intercept[IllegalArgumentException] {
        SimSearch.autoNProbePortable(calib, scanRaises, "vec_id",
          "embedding", "vec_id", "embedding", 5, 64L, pct, ladder)
      }
    }
    // an empty calibration sample meets any target vacuously
    val e1 = intercept[IllegalArgumentException] {
      SimSearch.autoNProbeIndexed(empty, assigned, centDf, "vec_id",
        "embedding", 5, 80)
    }
    assert(e1.getMessage.contains("empty calibration"))
    val e2 = intercept[IllegalArgumentException] {
      SimSearch.autoNProbePortable(empty, corpus, "vec_id", "embedding",
        "vec_id", "embedding", 5, 64L, 80)
    }
    assert(e2.getMessage.contains("empty calibration"))
  }

  test("calibratedDepth: integer boundary, next depth on one fewer hit, ladder-max fallback") {
    // one query; cell 0 holds items 10-12, cell 1 holds item 13
    val qv = Seq(1.0, 0.0)
    val assigned = Seq((10L, Seq(1.0, 0.0), 0), (11L, Seq(1.0, 0.1), 0),
      (12L, Seq(1.0, 0.2), 0), (13L, Seq(0.0, 1.0), 1))
      .toDF("item_id", "__cv", "__cell")
    val probed = Seq((1L, qv, 0, 1), (1L, qv, 1, 2))
      .toDF("query_id", "__qv", "__cell", "__pr")
    def depth(truthItems: Seq[Long], pct: Int, ladder: Seq[Int]): Int =
      SimSearch.calibratedDepth(assigned, probed,
        truthItems.map(i => (1L, i)).toDF("query_id", "item_id"),
        k = 4, pct = pct, ladder = ladder)
    // depth 1 finds 3 of 4 truth rows: 100·3 == 75·4 qualifies
    assert(depth(Seq(10L, 11L, 12L, 13L), 75, Seq(1, 2)) == 1)
    // one fewer hit at depth 1 (2 of 4): 200 < 300, so depth 2, where
    // 10, 11 and 13 are found: 300 == 300 qualifies
    assert(depth(Seq(10L, 11L, 13L, 99L), 75, Seq(1, 2)) == 2)
    // no depth reaches 100%: the ladder max ships, though depth 4
    // probes nothing past depth 2
    assert(depth(Seq(10L, 11L, 13L, 99L), 100, Seq(1, 2, 4)) == 4)
  }
}
