package graft.ops

import graft.functions.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph / linear-algebra operators for the LightGCN recall path
  * (reference `model_training/lightgcn/model.py:15-95`): bipartite edge
  * normalization and the layer-propagation SpMM, lowered to
  * join + groupBy-sum — the standard GNN-on-DataFrames form. Each layer is
  * one shuffle on the destination id; embeddings travel as `array<double>`
  * rows, never through the driver.
  */
object Graph {

  /** Symmetric degree normalization: weight(src,dst) =
    * deg(src)^-0.5 · deg(dst)^-0.5 (reference `model.py:15-26`).
    * Input edges (src, dst); output (src, dst, w). */
  def normalizeEdges(edges: DataFrame, src: String, dst: String): DataFrame = {
    val degS = edges.groupBy(col(src)).agg(count(lit(1)).as("__ds"))
    val degD = edges.groupBy(col(dst)).agg(count(lit(1)).as("__dd"))
    edges.join(degS, src).join(degD, dst)
      .withColumn("w", pow(col("__ds"), -0.5) * pow(col("__dd"), -0.5))
      .select(col(src), col(dst), col("w"))
  }

  /** One propagation round: x'(dst) = Σ_{(src,dst)∈E} w · x(src).
    * `nodes`: (id, emb array<double>); returns (id, emb) for every node
    * that has ≥1 in-edge. */
  def propagate(normEdges: DataFrame, nodes: DataFrame,
      src: String, dst: String, id: String, emb: String): DataFrame = {
    normEdges
      .join(nodes.withColumnRenamed(id, src), src)
      .withColumn("__scaled", VectorOps.vecScale(col(emb), col("w")))
      .select(col(dst).as(id), posexplode(col("__scaled")).as(Seq("__pos", "__v")))
      .groupBy(col(id), col("__pos"))
      .agg(sum(col("__v")).as("__s"))
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__s")))).as("__pairs"))
      .withColumn(emb, transform(col("__pairs"), p => p.getField("__s")))
      .drop("__pairs")
  }

  /** Vector-row variant of [[propagate]]: one shuffle of whole
    * `array<double>` rows reduced by the spillable element-wise
    * [[graft.functions.VecSumAgg]] aggregate, instead of two shuffles of
    * (id, dim, value) scalars. Fewer, wider shuffle rows — wins when the
    * embedding width outgrows the per-row overhead of the scalar plan;
    * the scalar plan wins when reducer balance matters more (hub nodes
    * spread across dim-keyed reducers). Measured crossover recorded in
    * PLANS.md; same output contract as [[propagate]] up to float-add
    * order (callers round before oracle comparison). */
  def propagateVec(normEdges: DataFrame, nodes: DataFrame,
      src: String, dst: String, id: String, emb: String): DataFrame = {
    normEdges
      .join(nodes.withColumnRenamed(id, src), src)
      .select(col(dst).as(id),
        graft.functions.VectorOps.vecScale(col(emb).cast("array<double>"),
          col("w")).as("__scaled"))
      .groupBy(col(id))
      .agg(graft.functions.VecSumAgg.vecSum(col("__scaled")).as(emb))
  }

  /** Connected components by iterative min-label propagation: every node
    * starts labeled with its own id; each round a node takes the minimum
    * label among itself and its neighbors; fixpoint = each component
    * labeled with its minimum member id.
    *
    * Converges in O(component diameter) rounds — for near-dup clusters
    * (the intended use: grouping [[graft.llmops.Dedup]] candidate pairs
    * into duplicate clusters) diameters are tiny, so this beats the
    * O(log n) large-star/small-star scheme that pays more per round.
    *
    * Input: undirected edge list (pairs, either orientation). Output:
    * (node, component) for every node appearing in ≥ 1 edge. A graph
    * whose labels still change in round `maxIter` (diameter ≥ maxIter)
    * throws IllegalStateException instead of returning split
    * components; the check reuses each round's count job. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val sym = Iterate.pin(symmetrize(edges, src, dst), col("__m"))
    // round i first counts round i-1's changes; round maxIter+1 only checks
    val (fin, _) = Iterate.rounds(sym.select(col("__n")).distinct()
      .select(col("__n"), col("__n").as("__lbl")), maxIter + 1,
      snapInit = true, pins = Seq(sym)) { (cur, i) =>
      val changed =
        if (i == 1) -1L else cur.where(col("__lbl") =!= col("__old")).count()
      if (changed != 0 && i > maxIter)
        throw new IllegalStateException(s"connectedComponents did not " +
          s"converge within maxIter = $maxIter rounds ($changed labels " +
          "changed in the last round)")
      val labels = cur.select(col("__n"), col("__lbl"))
      // one pass per round: carry the old label through the neighbor-min
      // aggregation so the convergence check is a filter over the same
      // materialized frame instead of a third join + shuffle
      Option.when(changed != 0)(
        sym.join(labels.withColumnRenamed("__n", "__m"), "__m")
          .groupBy(col("__n")).agg(min(col("__lbl")).as("__nbr"))
          .join(labels, "__n")
          .select(col("__n"), col("__lbl").as("__old"),
            least(col("__lbl"), col("__nbr")).as("__lbl")))
    }
    fin.select(col("__n").as(src), col("__lbl").as("component"))
  }

  /** Undirected edges as `(__n, __m)` rows both ways, in ONE explode. */
  private[graft] def symmetrize(edges: DataFrame, src: String,
      dst: String): DataFrame = edges.select(explode(array(
        struct(col(src).as("__n"), col(dst).as("__m")),
        struct(col(dst).as("__n"), col(src).as("__m")))).as("__e"))
      .select(col("__e.__n"), col("__e.__m"))

  /** Synchronous label propagation (LPA) for community detection: every
    * node starts labeled with its own id; each round a node adopts the
    * MAJORITY label among its neighbors, ties broken toward the smallest
    * label — deterministic, so the result is reproducible and
    * oracle-checkable (classic async LPA is run-order dependent).
    * Distinct from [[connectedComponents]]: min-label fixpoints merge
    * everything reachable, majority voting keeps densely-connected
    * groups apart even inside one component — the community structure a
    * co-purchase graph actually has.
    *
    * `rounds` is fixed (LPA oscillates on bipartite-ish graphs under
    * synchronous updates, so production runs bound rounds rather than
    * wait for a fixpoint). Per round: one join of the symmetrized edges
    * against the labels — co-partitioned for real: the edge side is an
    * [[Iterate.pin]] (persisted InMemoryRelation laid out hash-
    * partitioned AND sorted on the probe key __m, both ADVERTISED to
    * the planner), so each round's sort-merge join reads it as-is and
    * only the label side shuffles. The r8 plan audit caught the
    * previous localCheckpoint form reporting `UnknownPartitioning` and
    * re-shuffling + re-sorting the full edge set every round — at the
    * 100× corpus that was 3 × 240M rows of avoidable shuffle. Then the
    * majority vote: ONE exchange — `mode(label,
    * deterministic = true)` per node (most-frequent, tie → smallest
    * label) — never a rank window, never a second aggregate. Requires
    * NUMERIC node ids (every id in this engine is a long). All
    * partial-aggregated, nothing driver-side.
    *
    * Round boundaries are pure lineage — plan nesting is LINEAR in
    * rounds (each round references the previous labels exactly once),
    * so the whole run is ONE job reading the edge snapshot `rounds`
    * times; a safety snapshot every 8 rounds bounds AQE's per-stage
    * plan rendering for deep runs (the r8 A/B measured per-round eager
    * `localCheckpoint`s at +2 s on the 3-round bench query — see
    * PLANS.md "g10 decomposition"). Only the FINAL labels are
    * snapshotted, so callers consume a materialized frame and the edge
    * blocks release deterministically.
    *
    * Input: undirected edge list, either orientation, duplicates
    * tolerated; pass `edgesDistinct = true` when the caller already
    * guarantees distinct src<dst pairs (the usual case: a dedup'd pair
    * pipeline) to skip the symmetrize-side `.distinct()` — a pure
    * 2|E|-row shuffle otherwise (r8 A/B: −0.7 s on the bench query).
    * Output (node, label) for every node with ≥ 1 edge. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int, edgesDistinct: Boolean = false): DataFrame = {
    // pin the symmetrized edges — reused every round (the upstream
    // pair generation is often the expensive part), plan stays a
    // constant-size leaf, and the pin's __m layout makes every round's
    // edge side shuffle- and sort-free. The pin's repartition also
    // floors the final aggregates' parallelism (AQE coalesces a small
    // shuffle below the core count, serializing the hash agg — r8 A/B:
    // 4× on the 600k-row distinct)
    val symRaw = symmetrize(edges, src, dst)
    val idType = symRaw.schema("__n").dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"labelPropagation requires numeric node ids (the tie-break " +
        s"is numeric order); got ${idType.catalogString} — map ids through " +
        "a dictionary index (PrefixSum.denseIds) first")
    val sym = Iterate.pin(
      if (edgesDistinct) symRaw else symRaw.distinct(), col("__m"))
    val init = sym.select(col("__n")).distinct()
      .select(col("__n"), col("__n").as("__lbl"))
    val (fin, _) = Iterate.rounds(init, rounds, every = 8,
        pins = Seq(sym)) { (labels, _) =>
      val joined = sym
        .join(labels.select(col("__n").as("__m"), col("__lbl")), "__m")
      Some(joined.groupBy(col("__n"))
        .agg(mode(col("__lbl"), deterministic = true).as("__lbl")))
    }
    fin.select(col("__n").as(src), col("__lbl").as("label"))
  }

  /** Personalized PageRank, `iters` synchronous rounds:
    * `r'(v) = (1-d)·e(v) + d·Σ_{(u,v)∈E} r(u)/outdeg(u)` with `e` the
    * personalization vector (1.0 on `seeds`, 0 elsewhere) — the classic
    * random-walk-with-restart recommender signal over the interaction
    * graph (complements the LightGCN embedding path with a model-free
    * graph score).
    *
    * Per round: one join of the edge list against the current scores
    * (shuffle on the src key) + one groupBy-sum on dst — identical
    * shuffle posture to [[propagate]], scale-safe because scores are
    * scalar rows, never gathered. Out-degrees are joined once up front.
    *
    * Returns (id, score) for seeds and every node with ≥1 in-edge from a
    * reached node; unreached nodes are omitted (their score is 0). */
  def pageRank(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String,
      iters: Int, damping: Double): DataFrame = {
    val r0 = seeds.select(col(seedCol).as("__id")).distinct()
      .withColumn("__e", lit(1.0))
    val r = r0.select(col("__id"), col("__e").as("__r"))
    if (iters == 0)
      // zero-round walk never touches the edge table — return the
      // personalization vector without building (and leaking — a cache
      // entry is not ContextCleaner-reclaimed) an unused pin
      return r.select(col("__id").as("id"), col("__r").as("score"))
    val deg = edges.groupBy(col(src)).agg(count(lit(1)).as("__deg"))
    // each iteration's lineage references the degree-joined edge table, so
    // an iters-round walk would otherwise rebuild it iters(+1) times —
    // unlike lightGcn's LAYERS (whose recompute is cheaper than a persist
    // at bench scale, see scaladoc above), the edge table is loop-invariant
    // and holds a shuffle (the degree agg). Pinned on the per-round probe
    // key __s so only the rank side shuffles each round — see
    // [[Iterate.pin]]
    val e = Iterate.pin(
      edges.select(col(src).as("__s"), col(dst).as("__t"))
        .join(deg.select(col(src).as("__s"), col("__deg")), "__s"),
      col("__s"))
    val (fin, _) = Iterate.rounds(r, iters, pins = Seq(e)) { (r, _) =>
      val contrib = e.join(r, col("__s") === col("__id"))
        .groupBy(col("__t"))
        .agg(sum(col("__r") / col("__deg")).as("__c"))
        .select(col("__t").as("__id"), col("__c"))
      Some(r0.join(contrib, Seq("__id"), "full_outer")
        .select(col("__id"),
          (coalesce(col("__e"), lit(0.0)) * (1.0 - damping) +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("__r")))
    }
    fin.select(col("__id").as("id"), col("__r").as("score"))
  }

  /** Full LightGCN forward: `layers` propagation rounds, output = mean of
    * layer-0..layers embeddings (the reference's skip-connection average,
    * `model.py:60-95`).
    *
    * Layers are never persisted or snapshotted for
    * physical reuse. At bench scale recomputation is FASTER (the whole
    * lineage pipelines in memory; measured 0.7 s recompute vs 9 s persist
    * vs 14 s localCheckpoint at sf0.1 / 2 layers). */
  def lightGcn(normEdges: DataFrame, nodes: DataFrame, layers: Int,
      src: String, dst: String, id: String, emb: String): DataFrame = {
    var acc = nodes.select(col(id), col(emb).as("__sum"))
    var cur = nodes
    for (_ <- 1 to layers) {
      cur = propagate(normEdges, cur, src, dst, id, emb)
      acc = acc.join(cur.withColumnRenamed(emb, "__l"), Seq(id), "left")
        .withColumn("__sum",
          when(col("__l").isNull, col("__sum"))
            .otherwise(VectorOps.vecAdd(col("__sum"), col("__l"))))
        .drop("__l")
    }
    acc.withColumn(emb,
      VectorOps.vecScale(col("__sum"), lit(1.0 / (layers + 1)))).drop("__sum")
  }

  /** HITS (Kleinberg hubs-and-authorities), `rounds` synchronous
    * power-iteration rounds with MAX-normalized half-steps:
    *
    * {{{
    *   a_r(v) = Σ_{u→v} h_{r-1}(u)   then  a_r /= max_v a_r(v)
    *   h_r(u) = Σ_{u→v} a_r(v)       then  h_r /= max_u h_r(u)
    * }}}
    *
    * with `h_0 ≡ 1` on every source. Max normalization (instead of the
    * L2 norm of the original formulation) keeps every score in (0, 1]
    * at O(1) magnitude — stable to round for a bit-exact oracle — and
    * converges to the same ranking (power iteration is normalization-
    * invariant up to scale). Each half-step is one shuffle (groupBy on
    * the receiving side); the max is a broadcast scalar, not a sort.
    * The loop is `2·rounds − 1` [[Iterate.rounds]] half-steps; the last
    * hub half-step is never computed (only `a` is returned).
    *
    * Input: directed edge list src→dst (duplicates tolerated — distinct
    * below). Output: (dst, authority) for every dst, the `rounds`-round
    * authority score.
    *
    * The plan auto-gates on HLL ESTIMATES of the distinct node
    * counts (`approx_count_distinct`) over the pinned frame — the
    * quantity the broadcast actually ships (the score frames are
    * node-sized, never edge-sized). The gate is one extra agg job, but
    * it scans the frame [[Iterate.pin]] has already materialized (the
    * pin runs its own count), so the marginal cost is a cached-scan
    * partial-merge — measured within noise of the ungated plan and
    * strictly cheaper than the exact `countDistinct` form it replaced
    * (A/B in PLANS.md r14). `maxBroadcastNodes` sizes the gate to
    * the broadcast budget: a score row is (long, double) ≈ 16 B + row
    * overhead, so 1M nodes ≈ 20-30 MB serialized per broadcast, 4
    * live broadcasts per 2 rounds ≈ ≤ 120 MB peak on the driver —
    * safe at default driver sizing, and at cluster scale (10⁹ nodes)
    * the gate degrades the SAME call to the shuffling plan. */
  def hits(edges: DataFrame, src: String, dst: String,
      rounds: Int, maxBroadcastNodes: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"hits needs >= 1 round, got $rounds")
    // the edge table is probed on __s in the authority half-step and on
    // __t in the hub half-step — one layout cannot serve both, so pin
    // BOTH orientations (2×|E| serialized cache, vs re-shuffling AND
    // re-sorting |E| twice per round; see [[Iterate.pin]]). eByT is
    // derived from the already-pinned eByS, so the upstream distinct
    // runs once.
    val eByS = Iterate.pin(
      edges.select(col(src).as("__s"), col(dst).as("__t")).distinct(),
      col("__s"))
    val eByT = Iterate.pin(eByS, col("__t"))
    // auto gate: ship the score frames as broadcasts only when BOTH
    // node sets fit the budget. The agg runs over the pinned frame —
    // already materialized by Iterate.pin's own count — so this is a
    // cached-scan partial-merge, not a second full pass.
    // HLL estimates, not exact countDistinct: the gate is a broadcast-
    // budget heuristic, so ±5% at the 1M threshold is immaterial and
    // the approx agg is one partial-merged pass with no shuffle of the
    // distinct sets (the A/B in PLANS.md measured the exact form at
    // +0.3-0.4 s per invocation, the approx form within noise of the
    // ungated plan). Lazy: the first half-step runs it, inside the loop.
    lazy val useBroadcast = {
      val c = eByS.agg(approx_count_distinct(col("__s")).as("__ns"),
        approx_count_distinct(col("__t")).as("__nt")).head()
      math.max(c.getLong(0), c.getLong(1)) <= maxBroadcastNodes
    }
    // h_0 = 1 on every source, so a_1's un-normalized form is in-degree
    val h = eByS.select(col("__s")).distinct()
      .select(col("__s"), lit(1.0).as("__x"))
    // Two physical strategies per half-step, both reading the pinned
    // edge frames:
    //  - shuffling (default): join the score frame into the edge
    //    layout KEYED ON THE JOIN SIDE (eByS for the authority step),
    //    then exchange the |E|-sized joined frame to the RECEIVING key
    //    for the aggregate — two |E| exchanges per round. Safe at any
    //    node count.
    //  - broadcast: join the (node-sized) score frame as a
    //    BROADCAST into the edge frame already laid out on the
    //    RECEIVING key (eByT for the authority step) — the broadcast
    //    hash join preserves the pin's partitioning, so the groupBy
    //    needs NO exchange: zero |E| shuffles per round, two
    //    node-sized broadcasts. The r13 A/B measured it (see PLANS.md)
    //    at sf0.1; it is a per-round win exactly while the score
    //    frames fit the broadcast budget — at 10⁹ nodes they don't,
    //    which is why auto mode gates on the pinned frame's distinct
    //    node count (both sides ≤ maxBroadcastNodes) and degrades to
    //    the shuffling plan past it.
    val (a, _) = Iterate.rounds(h, 2 * rounds - 1,
        pins = Seq(eByT, eByS)) { (x, j) =>
      val (from, to, w, byFrom, byTo) =
        if (j % 2 == 1) ("__s", "__t", "__h", eByS, eByT)
        else ("__t", "__s", "__a", eByT, eByS)
      val scores = x.select(col(from), col("__x").as(w))
      val sums = (if (useBroadcast) byTo.join(broadcast(scores), from)
        else byFrom.join(scores, from))
        .groupBy(col(to)).agg(sum(col(w)).as("__x"))
      Some(sums.crossJoin(broadcast(sums.agg(max(col("__x")).as("__m"))))
        .select(col(to), (col("__x") / col("__m")).as("__x")))
    }
    a.select(col("__t").as(dst), col("__x").as("authority"))
  }
}
