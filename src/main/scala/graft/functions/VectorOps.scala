package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dense-vector column operators over `array<float|double>` embeddings
  * (reference: mean-pool user features `ranknet/utils.py:102-126`); the
  * dot product and cosine of recall scoring are the native kernels in
  * [[GraftFunctions]].
  *
  * All pure higher-order-function expressions — whole-stage-codegen'd, no
  * UDF serialization, no MLlib Vector boxing in the hot path.
  */
object VectorOps {

  /** Element-wise sum of two vectors (used by the SpMM propagation loop). */
  def vecAdd(x: Column, y: Column): Column =
    zip_with(x, y, (a, b) => a + b)

  def vecScale(x: Column, s: Column): Column =
    transform(x, v => v * s)

  /** Per-vector affine int8 quantization — the standard storage reduction
    * for 100 TB embedding tables (4 B float → 1 B code + 2 scalars/row).
    * Codes: `floor((x - mn)/scale + 0.5)` with `scale = (mx - mn)/255`
    * (explicit floor(+0.5), not `round`, so half-even-rounding engines
    * replicate it exactly); a constant vector (scale 0) maps to all-zero
    * codes. Returns struct(codes array<double> of 0..255 ints, mn, scale) —
    * `dequantize` inverts to `code·scale + mn`. */
  def quantizeInt8(x: Column): Column = {
    val v = x.cast("array<double>")
    val mn = array_min(v)
    val scale = (array_max(v) - mn) / lit(255.0)
    struct(
      when(scale > 0,
          transform(v, e => floor((e - mn) / scale + lit(0.5))))
        .otherwise(transform(v, _ => lit(0.0))).as("codes"),
      mn.as("mn"), scale.as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: `code·scale + mn` per element. */
  def dequantize(q: Column): Column =
    transform(q.getField("codes"),
      c => c * q.getField("scale") + q.getField("mn"))

  /** Product-quantization assignment (Jégou, Douze & Schmid, TPAMI 2011
    * — the IVF-PQ storage layout every billion-vector ANN system uses):
    * the vector is split into `codebooks.size` contiguous subvectors;
    * each is assigned its nearest codebook centroid by squared L2.
    * Returns `array<struct<cidx: long, d: double>>` (per-subspace chosen
    * centroid + its squared distance); [[pqCodes]] / [[pqSqError]]
    * project codes and total quantization error, [[pqDecode]] rebuilds
    * the approximation.
    *
    * Why it matters at 100 TB: m codebooks of k ≤ 256 centroids turn a
    * 4·d-byte float vector into m bytes (64-dim float → 8 bytes = 32×),
    * so a trillion-vector table's codes fit where its floats never
    * would, and asymmetric-distance scans read codes only. Codebooks are
    * fit once on a sample and inlined as LITERALS — the whole encode is
    * a codegen'd expression tree (argmin = `array_sort` over
    * (distance, cidx) structs, first element), zero shuffle, zero UDF.
    *
    * Distances are rounded to 6 dp BEFORE the argmin (tie-break on
    * cidx), so the assignment is reproducible bit-exactly in any engine
    * — same contract as the rounded-score ranking in
    * [[graft.llmops.TextAnalysis.tfidfKeywords]]. */
  def pqAssign(x: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = codebooks.head.head.length
    val v = x.cast("array<double>")
    array(codebooks.zipWithIndex.map { case (cents, s) =>
      val sub = slice(v, s * subDim + 1, subDim)
      val ranked = array_sort(array(cents.zipWithIndex.map { case (c, i) =>
        struct(
          round(aggregate(
            zip_with(sub, array(c.map(lit): _*), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, e) => acc + e), 6).as("d"),
          lit(i.toLong).as("cidx"))
      }: _*))
      struct(
        element_at(ranked, 1).getField("cidx").as("cidx"),
        element_at(ranked, 1).getField("d").as("d"))
    }: _*)
  }

  /** Per-subspace centroid ids from [[pqAssign]] — the stored codes. */
  def pqCodes(assigned: Column): Column =
    transform(assigned, a => a.getField("cidx"))

  /** Total squared quantization error (sum of the per-subspace rounded
    * distances), rounded to 6 dp. */
  def pqSqError(assigned: Column): Column =
    round(aggregate(transform(assigned, a => a.getField("d")),
      lit(0.0), (acc, e) => acc + e), 6)

  /** Reconstruct the PQ approximation: concatenate the chosen centroids. */
  def pqDecode(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    flatten(array(codebooks.zipWithIndex.map { case (cents, s) =>
      element_at(
        array(cents.map(c => array(c.map(lit): _*)): _*),
        element_at(codes, s + 1).cast("int") + 1)
    }: _*))

  /** Per-query ADC lookup table (asymmetric distance computation — the
    * scan half of IVF-PQ): `lut[s][c]` = squared L2 distance from the
    * query's subspace-s subvector to centroid c, each rounded to 6 dp
    * (the same cross-engine contract as [[pqAssign]]). An item's
    * approximate distance is then `Σ_s lut[s][codes[s]]` — table
    * lookups over the m-byte codes, never touching item floats. */
  def pqAdcLut(q: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = codebooks.head.head.length
    val v = q.cast("array<double>")
    array(codebooks.zipWithIndex.map { case (cents, s) =>
      val sub = slice(v, s * subDim + 1, subDim)
      array(cents.map(c =>
        round(aggregate(
          zip_with(sub, array(c.map(lit): _*), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, e) => acc + e), 6)): _*)
    }: _*)
  }

  /** Approximate squared distance from a [[pqAdcLut]] table and a
    * [[pqCodes]] array: sum of per-subspace lookups, rounded to 6 dp. */
  def pqAdcDist(lut: Column, codes: Column): Column =
    round(aggregate(
      zip_with(codes, lut, (c, row) => element_at(row, c.cast("int") + 1)),
      lit(0.0), (acc, e) => acc + e), 6)

  /** Fit PQ codebooks: per-subspace k-means over the sliced corpus (same
    * fit-once posture as [[graft.llmops.SimSearch.ivfIndex]] — m small
    * models trained on a sample, then broadcast as literals into
    * [[pqAssign]]'s expression tree; the corpus-sized encode pass never
    * shuffles). Training cost is Θ(iters · k · n · dim/m) per subspace
    * — i.e. Θ(iters · k · n · dim) total, LINEAR in the corpus with a
    * small iteration-bounded constant (k and iters are fixed; only n
    * grows), and at real scale the fit runs on a sample anyway, making
    * it O(1) in the corpus. Measured: the v4 query (train + encode) is
    * 2.12 s at 1× / 3.17 s at 100× corpus (ratio 1.5 vs linear 100,
    * PLANS.md "Round 11: the engine's own new surface closed") — training dominates the 1× time and grows
    * only through the per-iteration pass, while the literal-codebook
    * encode is the same zero-shuffle scan v3 proves. */
  def pqTrain(embs: DataFrame, vec: String, dim: Int, m: Int, k: Int,
      seed: Long = 42L, iters: Int = 3): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(k >= 2, s"MLlib KMeans needs k >= 2, got $k (for a k=1 " +
      "codebook use the per-subspace mean directly)")
    val subDim = dim / m
    (0 until m).map { s =>
      val sub = embs.select(array_to_vector(
        slice(col(vec).cast("array<double>"), s * subDim + 1, subDim))
        .as("__v"))
      new KMeans().setK(k).setSeed(seed + s).setMaxIter(iters)
        .setInitMode("random").setFeaturesCol("__v")
        .fit(sub).clusterCenters.map(_.toArray.toSeq).toSeq
    }
  }

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas 2003's database-friendly variant: s_ij ∈ {+1, −1}
    * uniform, y_j = Σ_i x_i·s_ij / √dOut preserves norms and inner
    * products in expectation) — the cheap dimension cut in front of an
    * ANN index: 64→16 dims is 4× less to scan per candidate.
    *
    * Determinism contract: s_ij = −1 iff the first hex digit of
    * md5("j:i") is odd. The matrix is inlined as plan-time literals
    * (dOut·dIn doubles — bounded by construction), so the projection is
    * a zero-shuffle codegen expression tree and any md5-capable engine
    * replays the identical matrix. */
  def randomProject(x: Column, dIn: Int, dOut: Int): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val h = md.digest(s"$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 1) -1.0 else 1.0
    }
    val xs = x.cast("array<double>")
    val scale = math.sqrt(dOut.toDouble)
    array((0 until dOut).map { j =>
      val signs = array((0 until dIn).map(i => lit(sign(j, i))): _*)
      aggregate(zip_with(xs, signs, (a, s) => a * s),
        lit(0.0), (acc, v) => acc + v) / scale
    }: _*)
  }

  /** Group-wise mean-pool of a vector column: posexplode → per-dimension
    * avg → reassemble. One shuffle on (groupCols, dim) then one on
    * groupCols; at scale this beats collecting whole vectors per group
    * because the shuffle rows are scalars.
    *
    * Output: groupCols + `outCol: array<double>` (ordered by dimension).
    */
  def meanPool(df: DataFrame, groupCols: Seq[String], vec: Column,
      outCol: String): DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ posexplode(vec.cast("array<double>")).as(Seq("__pos", "__v")): _*)
      .groupBy(g :+ col("__pos"): _*)
      .agg(avg(col("__v")).as("__avg"))
      .groupBy(g: _*)
      .agg(array_sort(collect_list(struct(col("__pos"), col("__avg")))).as("__pairs"))
      .withColumn(outCol, transform(col("__pairs"), p => p.getField("__avg")))
      .drop("__pairs")
  }
}
