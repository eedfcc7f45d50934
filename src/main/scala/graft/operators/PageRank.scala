package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact PageRank over an undirected edge list — the
  * power-iteration centrality scorer, expressed as the same
  * vertex-keyed join + partial-aggregated sum per round as
  * [[ConnectedComponents]] (Spark's canonical iterative-graph shape).
  *
  * In a curation pipeline the edges are the near-dup pair graph, and
  * the score is a DENSITY signal: boilerplate/template hubs sit at the
  * center of large duplication neighborhoods and accumulate rank,
  * while isolated chains stay near the floor — the "prune dense
  * regions harder" knob of density-aware data selection, computed
  * from the pair list the dedup stages already derived.
  *
  * Arithmetic is INTEGER throughout so the result is exact and
  * engine-independent (the catalog oracle replays it in DuckDB as an
  * unrolled CTE chain): every vertex starts at `scale`; each round a
  * vertex emits `rank div degree` along every edge (Long floor
  * division — operands are non-negative, so Spark's truncation and
  * DuckDB's floor agree) and collects
  * `(100-dampingPct)*scale div 100  +  dampingPct * sum(incoming) div 100`.
  * Sums are associative Long adds — no float order sensitivity. The
  * undirected symmetrization means no dangling vertices and no
  * zero-in-degree vertices, the two mass leaks the textbook directed
  * formulation has to patch.
  *
  * Cost shape at 100 TB: the edge list is persisted ONCE and never
  * rewritten; the iterated state is one (id, degree, rank) row per
  * vertex. Each round is one shuffle join of edges⋈ranks on the
  * source key plus one partial-aggregated sum keyed by destination —
  * partial aggregation collapses the per-edge contributions
  * map-side, so the shuffle carries vertex-count rows. Ranks are
  * localCheckpointed per round (the iterative-algorithm contract:
  * lineage would otherwise nest every prior round into the plan).
  */
object PageRank {

  /** Default per-vertex starting mass: large enough that `rank div
    * degree` keeps ~9 significant decimal digits against degree in
    * the thousands. Overflow bound: a vertex's rank never exceeds the
    * graph's total mass ≈ |V| × scale, and the hottest intermediate is
    * `dampingPct × in_sum` — so callers with billion-vertex graphs
    * should pass a smaller `scale` (keep dampingPct × |V| × scale
    * under 2^63).
    */
  val Scale = 1000000000000L

  /** Is this edge frame small enough to BROADCAST into the per-round
    * joins instead of caching it pre-partitioned (VERDICT r16 #8)?
    * Decided from the LOGICAL plan's size statistics — file-size-based
    * for parquet-backed graphs, the planner's own broadcast heuristic
    * — so the check costs no job and no extra pass. Unknown or
    * join-inflated stats read as huge and safely keep the partitioned
    * path. The kernels ask it about the frame they actually cache and
    * broadcast (PageRank's symmetric union, whose stats sum both
    * branches; HITS' distinct weighted pairs), never the caller's raw
    * edges — a graph just under the threshold must not broadcast twice
    * the configured cap every round. On the broadcast path every
    * round's edge⋈state join builds the tiny edge hash table and the
    * state side streams with ZERO exchange (and HITS needs only ONE
    * cached edge copy, halving the #9 footprint); past the threshold
    * nothing changes — the pre-partitioned cache remains the 100 TB
    * shape.
    */
  private[graft] def broadcastableEdges(df: DataFrame): Boolean = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    thr > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= thr
  }

  /** The PageRank round loop over (s, t, w) rows, symmetrized here: a
    * vertex splits its rank across neighbors proportionally to edge
    * weight, `rank × w div Σw`, and collects `base + dampingPct ×
    * in_sum div 100` (the integer discipline of the object doc).
    * [[ranks]] is the unit-weight case — ⌊r·1/Σ1⌋ = ⌊r/d⌋, duplicate
    * rows included, each row being one more unit of degree.
    *
    * @return (id, `degreeCol`, rank) per vertex, `degreeCol` holding
    *         the summed incident weight.
    */
  private def rankRounds(e: DataFrame, degreeCol: String, iterations: Int,
      dampingPct: Int, scale: Long): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // the edge list is cached PRE-PARTITIONED on the per-round join
    // key (guide §2.4: operations keyed the same way share one
    // exchange): every round's edges⋈ranks join and the degree
    // aggregate read the cached s-partitioning instead of re-shuffling
    // the edge list once per round — at scale the per-round shuffle
    // drops from edge-count rows to vertex-count rows. A
    // BROADCAST-SIZED graph (logical stats, VERDICT r16 #8) skips the
    // pre-partition entirely and broadcasts the cached edges into each
    // round's join instead — the rank side then streams with no
    // exchange at all.
    val sym0 = e
      .select(col("s").cast("long").as("s"), col("t").cast("long").as("t"),
        col("w"))
      .union(e
        .select(col("t").cast("long").as("s"), col("s").cast("long").as("t"),
          col("w")))
    val small = broadcastableEdges(sym0)
    val sym = (if (small) sym0 else sym0.repartition(col("s"))).persist()
    val symJ = if (small) broadcast(sym) else sym
    val deg = sym.groupBy(col("s").as("id"))
      .agg(sum(col("w")).as(degreeCol)).persist()
    val base = (100L - dampingPct) * scale / 100L

    var rank = deg.withColumn("rank", lit(scale))
    for (i <- 1 to iterations) {
      val prev = rank
      val incoming = symJ
        .join(rank.withColumnRenamed("id", "s"), Seq("s"))
        .select(col("t").as("id"),
          expr(s"(rank * w) div $degreeCol").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_sum"))
      rank = deg.join(incoming, Seq("id"))
        .select(col("id"), col(degreeCol),
          (lit(base) + expr(s"($dampingPct * in_sum) div 100")).as("rank"))
        // one job per round; truncates the nested-round lineage
        .localCheckpoint()
      // the new round materialized eagerly off the old one, so the
      // previous round's checkpoint blocks are dead — release them
      // (i > 1 only: round 1's prev is the caller-derived seed, not a
      // checkpoint this loop created). Long-lived sessions calling
      // rank-any-time serving paths would otherwise pin one cached
      // frame per round per call forever (ADVICE r14).
      if (i > 1) graft.api.Lifecycle.releaseLocalCheckpoint(prev)
    }
    // the final checkpointed ranks no longer reference either cache;
    // the final round's checkpoint itself is the RETURN value and
    // stays live for the caller.
    sym.unpersist()
    deg.unpersist()
    rank
  }

  /** @return one row per vertex of `edges`: (id, degree, rank) with
    *         rank on the integer `scale` (a vertex with no edges does
    *         not appear — it would hold the constant floor forever).
    *         Every input row is one edge: a duplicate row counts twice
    *         in `degree`, and a self-loop adds 2 to its vertex's degree
    *         and feeds the vertex its own rank.
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame =
    rankRounds(
      edges.select(col(srcCol).as("s"), col(dstCol).as("t"), lit(1L).as("w")),
      "degree", iterations, dampingPct, scale)

  /** Similarity-WEIGHTED PageRank: a vertex splits its rank across
    * neighbors proportionally to edge weight (`rank × w div Σw`
    * instead of `rank div degree`), so a 0.9-Jaccard twin pulls more
    * centrality than a barely-over-threshold neighbor — the weighted
    * refinement of [[ranks]] for similarity graphs, same integer
    * discipline (non-negative Longs, floor division, associative
    * sums) and same per-round plan shape. With UNIFORM weights this
    * is exactly [[ranks]]: floor(r·w / (d·w)) = floor(r / d) —
    * DedupSpec pins the equality. Overflow bound: the hottest term is
    * `rank × w`, so weights on a ×1000 scale tighten [[Scale]]'s |V|
    * bound by 1000× — callers with huge graphs shrink `scale`.
    *
    * @return one row per vertex: (id, w_degree, rank) where w_degree
    *         is the summed incident weight.
    */
  def weightedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame =
    rankRounds(
      edges.select(col(srcCol).as("s"), col(dstCol).as("t"),
        col(weightCol).cast("long").as("w")),
      "w_degree", iterations, dampingPct, scale)

  /** The HITS round loop — integer-exact Kleinberg hubs-and-
    * authorities over CANONICAL directed (s, t, w) rows: one row per
    * pair, no self-loops, w > 0, s/t/w Long. Each hop is multiplied
    * by the edge weight; [[hits]] is the unit-weight case.
    *
    * Same engine-exact discipline as [[ranks]], adapted to HITS'
    * mutual recursion: every vertex starts at hub = `scale`; each
    * round computes raw authority in-sums `a_raw(t) = Σ_{(s,t)} w·h(s)`
    * and renormalizes by the round's MAX — `a = a_raw·scale div
    * max(a_raw)` — then the same for hubs off the new authorities,
    * `h_raw(s) = Σ_{(s,t)} w·a(t)`. L∞ normalization instead of the
    * textbook L2: the max is one integer row (exact, broadcast), where
    * an L2 norm needs a square root of a sum of squares — float,
    * order-sensitive, not oracle-replayable. Ranking-equivalent per
    * round (both are a positive scalar rescale of the same vector;
    * only the fixed-point rounding differs and it is identical in both
    * engines). Vertices with no in-edges hold authority 0; no
    * out-edges, hub 0. The w·h products, in-sums and the `raw × scale`
    * renormalization products run in decimal(38,0) — Long would wrap
    * at in-degree × scale ≈ 2^63, i.e. at ~9M in-links for the default
    * scale, which real web-graph authorities exceed; 128-bit keeps the
    * arithmetic exact (h ≤ scale = 10^12, so Σw·scale must stay under
    * 10^38 — anchor-count weights leave ~10^14 total-weight headroom;
    * the oracle replays it in DuckDB HUGEINT), and the normalized
    * scores themselves are ≤ `scale`, safely Long.
    *
    * Cost shape at 100 TB: edges persist once; each round is two
    * edge⋈vertex joins with partial-aggregated sums (vertex-count
    * rows on the wire) plus two 1-row max broadcasts; per-round
    * state localCheckpoints exactly as [[ranks]].
    *
    * @return one row per vertex of `e`: (id, hub, auth) on the integer
    *         `scale`.
    */
  private def hitsRounds(e0: DataFrame, iterations: Int,
      scale: Long): DataFrame = {
    require(iterations >= 1)
    // HITS joins edges on s (authority round) AND on t (hub round):
    // cache the list once per key — two copies, zero per-round edge
    // shuffles (guide §2.4; the bucket-both-ways trade: 2 extra
    // materializations beat 2·iterations edge-list exchanges). eT
    // derives from the cached eS so the caller's distinct/aggregate
    // runs once. A BROADCAST-SIZED graph (VERDICT r16 #8/#9) keeps ONE
    // unpartitioned cache and broadcasts it into both join directions
    // instead — no second copy, no repartition exchanges, no per-round
    // state exchange.
    val small = broadcastableEdges(e0)
    val eS = (if (small) e0 else e0.repartition(col("s"))).persist()
    val eT = if (small) eS else eS.repartition(col("t")).persist()
    val (eSJ, eTJ) = if (small) (broadcast(eS), broadcast(eT)) else (eS, eT)

    // Round frames cover only the vertices the NEXT consumer can use
    // (round 17, guide §2.4/§2.3 — shuffle fewer rows AND two fewer
    // vertex-sized join exchanges per round): auth rows exist only for
    // vertices with in-edges, hub rows only for vertices with
    // out-edges. The old per-round `v LEFT JOIN` re-attached zero rows
    // that the following INNER edge join then multiplied by nothing —
    // a zero contributes exactly as much as an absent row to the sums,
    // and the per-round max is over the same positive support — so the
    // iterated values are unchanged; the zeros are re-attached ONCE in
    // the final projection instead of once per half-round.
    // Support invariant: hRaw groups by s over (eT ⋈ auth) and auth
    // covers every t of eT (every target has an in-edge), so hub
    // covers EVERY source vertex of eS each round — round 1 seeds it
    // with exactly the distinct sources. Likewise auth covers every
    // t. The per-round maxes stay ≥ scale > 0 (the argmax row of the
    // previous half-round renormalizes to exactly `scale` and owns an
    // incident edge of positive weight by construction), so the `div`
    // can never see a zero divisor; the coalesce stays as a pure
    // guard. A separate vertex frame is NOT needed: support(hub) ∪
    // support(auth) = sources ∪ targets = the whole vertex set, so the
    // final zero-reattach is a full-outer join of the two final frames.
    var hub = eS.select(col("s").as("id")).distinct()
      .withColumn("h", lit(scale))
    var auth = hub.select(col("id")).withColumn("a", lit(0L))
    for (i <- 1 to iterations) {
      val (prevHub, prevAuth) = (hub, auth)
      val aRaw = eSJ.join(hub.withColumnRenamed("id", "s"), Seq("s"))
        .groupBy(col("t").as("id"))
        .agg(sum(col("h").cast("decimal(38,0)") * col("w")).as("_ar"))
      val aMax = aRaw.agg(max(col("_ar")).as("_am"))
      // LAZY mid-round checkpoint (round 16): the authority frame is
      // consumed by this round's hub step and by the final join — a
      // lazy cut still truncates the plan but materializes INSIDE the
      // hub checkpoint's job, halving the per-round job barriers. By
      // the time anything could release or re-read it, the hub step
      // has stored its blocks.
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("id"),
          coalesce(expr(s"(_ar * $scale) div _am"), lit(0L)).as("a"))
        .localCheckpoint(eager = false)
      val hRaw = eTJ.join(auth.withColumnRenamed("id", "t"), Seq("t"))
        .groupBy(col("s").as("id"))
        .agg(sum(col("a").cast("decimal(38,0)") * col("w")).as("_hr"))
      val hMax = hRaw.agg(max(col("_hr")).as("_hm"))
      hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("id"),
          coalesce(expr(s"(_hr * $scale) div _hm"), lit(0L)).as("h"))
        .localCheckpoint()
      // round k's auth derives from hub(k-1) and round k's hub from
      // auth(k) — once hub(k) materialized (eager checkpoint), the
      // PREVIOUS round's pair is dead; release it so a long-lived
      // serving session does not pin 2×iterations frames per call
      // (ADVICE r14). Round 1's prevs are the non-checkpointed seeds.
      if (i > 1) {
        graft.api.Lifecycle.releaseLocalCheckpoint(prevHub)
        graft.api.Lifecycle.releaseLocalCheckpoint(prevAuth)
      }
    }
    // zeros re-attached here, once: a vertex with no out-edges holds
    // hub 0, no in-edges authority 0 — exactly what the per-round
    // left joins produced (full outer: hub covers all sources, auth
    // all targets, their union is every vertex)
    val out = hub.join(auth, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
      .localCheckpoint()
    // `out` materialized eagerly: the final round's frames are dead too
    graft.api.Lifecycle.releaseLocalCheckpoint(hub)
    graft.api.Lifecycle.releaseLocalCheckpoint(auth)
    eS.unpersist()
    if (!small) eT.unpersist()
    out
  }

  /** Integer-exact HITS over a DIRECTED edge list — the second classic
    * link-analysis signal a crawl scheduler wants next to [[ranks]]'
    * PageRank: an AUTHORITY score (pointed to by good hubs — fetch its
    * pages sooner) and a HUB score (points at good authorities — mine
    * its outlinks harder). PageRank's single score cannot separate the
    * two roles; directory-style hub hosts and content-authority hosts
    * are exactly the split a frontier scheduler acts on differently.
    * The graph is SIMPLE: duplicate rows collapse to one edge and
    * self-loops drop, then the [[hitsRounds]] kernel runs with unit
    * weights (every product is h·1).
    *
    * @return one row per vertex of `edges`: (id, hub, auth) on the
    *         integer `scale`.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, scale: Long = Scale): DataFrame =
    hitsRounds(
      edges
        .select(col(srcCol).cast("long").as("s"),
          col(dstCol).cast("long").as("t"))
        .filter(col("s") =!= col("t"))
        .distinct()
        .withColumn("w", lit(1L)),
      iterations, scale)

  /** The ranked frame with its 60-bit ids swapped back to string keys
    * through the broadcast-sized vertex map `v` (id, key): `key`, then
    * every score column of `scores` in order.
    */
  private def withKeys(scores: DataFrame, v: DataFrame): DataFrame =
    scores.join(v, Seq("id"))
      .select(col("key") +: scores.columns.toSeq.filter(_ != "id").map(col): _*)

  /** Shared key→hash derivation — (s, _sk, t, _tk) rows with
    * self-loops dropped. ONE definition behind [[ranksByKey]],
    * [[hitsByKey]] and the persisted [[writeEdgeIndex]] family, so the
    * inline consumers and the index can never key, hash or
    * self-loop-filter differently (the edgeRows/bm25Rank shared-front
    * discipline).
    */
  private def keyedEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        graft.functions.TextHashing.hash60(col(srcCol)).as("s"),
        col(srcCol).as("_sk"),
        graft.functions.TextHashing.hash60(col(dstCol)).as("t"),
        col(dstCol).as("_tk"))
      .filter(col("s") =!= col("t"))

  /** The hash→key join-back map off a [[keyedEdges]] frame. */
  private def vertexMap(h: DataFrame): DataFrame =
    h.select(col("s").as("id"), col("_sk").as("key"))
      .union(h.select(col("t").as("id"), col("_tk").as("key")))
      .distinct()

  /** Distinct unordered pairs — the SIMPLE undirected graph every
    * PageRank consumer ranks, whether the (s, t) rows came inline or
    * from the persisted index.
    */
  private def symmetrized(e: DataFrame): DataFrame =
    e.select(least(col("s"), col("t")).as("a"),
      greatest(col("s"), col("t")).as("b")).distinct()

  /** [[hits]] over STRING-keyed vertices — the [[ranksByKey]] shape
    * for the directed host graph: keys map through the shared 60-bit
    * hash (oracle-replayable), edges collapse to DISTINCT directed
    * host pairs before any iteration (a hub linked from a thousand
    * pages is still one edge — in-link VOLUME is
    * [[graft.api.TextOps.frontierBudget]]'s signal; HITS measures
    * graph position), self-links drop, and the final scores join the
    * key back through a broadcast-sized vertex map. Unlike
    * [[ranksByKey]] the graph stays DIRECTED — hub/authority duality
    * IS the direction structure; symmetrizing would collapse the two
    * scores into one.
    *
    * @return one row per vertex: (key, hub, auth).
    */
  def hitsByKey(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, scale: Long = Scale): DataFrame = {
    val h = keyedEdges(edges, srcCol, dstCol)
    withKeys(hits(h.select(col("s"), col("t")), "s", "t", iterations, scale),
      vertexMap(h))
  }

  /** [[ranks]] over STRING-keyed vertices — hosts, canonical URLs,
    * tokens: the domain-centrality shape of a crawl scheduler (rank
    * hosts by their position in the host link graph, the signal
    * Common-Crawl-style domain ranking feeds back into frontier
    * priority). Keys map to 60-bit md5-prefix ids
    * ([[graft.functions.TextHashing.hash60]] — the corpus-wide
    * cross-engine hash discipline, so catalog oracles replay the
    * mapping exactly), the power iteration runs in Long space over
    * the SIMPLE undirected graph (distinct unordered key pairs; a
    * host pair linked from a thousand pages is ONE edge, and
    * self-links drop — centrality here measures the host's position
    * in the graph, not its in-link volume, which
    * [[graft.api.TextOps.frontierBudget]] already counts), and the
    * final ranks join the key back. A 60-bit collision merges two
    * vertices (P ≈ n²/2^61 — one in a billion at n = 2M hosts);
    * acceptable for a priority signal, replayed exactly by oracles
    * computing the same hashes.
    *
    * Cost shape at 100 TB: the edge distinct is one exchange keyed on
    * the (a, b) hash pair of HOST-sized rows (web-graph edges are ~
    * millions of hosts, not billions of pages — the whole point of
    * aggregating to host granularity before iterating); each round
    * then moves vertex-count rows exactly as [[ranks]] does; the
    * key join-back is one broadcast-sized vertex map.
    *
    * @return one row per vertex with at least one non-loop edge:
    *         (key, degree, rank).
    */
  def ranksByKey(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame = {
    val h = keyedEdges(edges, srcCol, dstCol)
    withKeys(ranks(symmetrized(h.select(col("s"), col("t"))), "a", "b",
        iterations, dampingPct, scale), vertexMap(h))
  }

  // ------------------------------------------------------------------
  // Persisted host-graph EDGE INDEX — the NINTH persisted index family,
  // giving link analysis the same O(delta)-daily-ingest posture as the
  // dedup/retrieval families: re-extracting and re-distincting a
  // 100 TB crawl's links for every re-rank is corpus work, but the
  // distinct DIRECTED host-pair set is host-graph-sized and ADDITIVE
  // under set union — a day's crawl folds in as its own sorted run and
  // layered runs reconcile by DISTINCT (the set-semantics sibling of
  // the gram/line families' reconcile-by-SUM), minus the tombstone
  // set. Both consumers ([[ranksByKeyAgainstIndex]] PageRank,
  // [[hitsByKeyAgainstIndex]] HITS) read one reconciled graph, so the
  // two crawl signals can never rank different edge sets.
  // ------------------------------------------------------------------

  /** The edge index family: `edges` = (s, t) 60-bit hash pairs
    * partitioned by `__ep = s mod prefix_partitions` and sorted by
    * (s, t); `vertices` = (id, key) the hash→key map, `__vp`-
    * partitioned; `removals` = the (s, t) tombstone set; meta =
    * (prefix_partitions, layers). The meta bump lands BEFORE the
    * appends ([[IndexMaintenance.Family.metaFirst]]): under SET-UNION
    * reconcile a bumped layer count with a missing or partial run is
    * harmless (distinct is idempotent and any readable subset of the
    * delta is a consistent edge set), whereas appends landing before
    * the bump would leave layers=1 with duplicate cross-run rows that
    * the layers<=1 fast path reads WITHOUT the distinct. A crashed fold
    * still means the delta is partially applied and must be retried
    * (re-folding the same delta is safe). One cost, stated for
    * operators: a fold whose delta job fails before any append still
    * bumped `layers`, so a layered meta does NOT imply layered data —
    * reads stay correct throughout (DedupSpec pins the harmless bump).
    */
  private[graft] val EdgeIndex = graft.api.IndexMaintenance.Family("edge",
    "writeEdgeIndex", Seq("prefix_partitions"),
    "prefix geometry and layer count",
    graft.api.IndexMaintenance.Manifest.Layers,
    _ => Seq(
      graft.api.IndexMaintenance.Table("edges", Seq("s", "t"), 4,
        graft.api.IndexMaintenance.Reconcile.SetUnion(Some("removals")),
        Some("__ep" -> col("s"))),
      graft.api.IndexMaintenance.Table("vertices", Seq("id"), 4,
        graft.api.IndexMaintenance.Reconcile.SetUnion(),
        Some("__vp" -> col("id"))),
      graft.api.IndexMaintenance.Table("removals", Nil, 1,
        graft.api.IndexMaintenance.Reconcile.Tombstones)),
    metaFirst = true, prefixCap = 16)

  /** Shared write-side derivation: distinct directed hash pairs
    * (self-loops dropped) + the vertex key map. ONE definition serves
    * write and fold, so a fold cannot band edges differently from the
    * index it folds into.
    */
  private def edgeRows(edges: DataFrame, srcCol: String,
      dstCol: String): graft.api.IndexMaintenance.Delta = {
    val h = keyedEdges(edges, srcCol, dstCol)
    graft.api.IndexMaintenance.Delta(
      "edges" -> h.select(col("s"), col("t")).distinct(),
      "vertices" -> vertexMap(h))
  }

  /** Materialize a link stream's distinct directed host graph to
    * parquet ([[EdgeIndex]]'s layout; the tombstone table starts as
    * one empty schema-bearing file, so reads are unconditional). Build
    * once per corpus version, fold daily ([[foldIntoEdgeIndex]] /
    * [[maintainEdgeIndex]]), rank any time ([[ranksByKeyAgainstIndex]]
    * / [[hitsByKeyAgainstIndex]]).
    */
  def writeEdgeIndex(edges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    graft.api.IndexMaintenance.write(edges.sparkSession, path, EdgeIndex) { _ =>
      val d = edgeRows(edges, srcCol, dstCol)
      graft.api.IndexMaintenance.Delta(
        d.rows :+ ("removals" -> d.rows.toMap.apply("edges").limit(0)): _*)
    }

  /** Fold edge TOMBSTONES into a persisted [[writeEdgeIndex]] — the
    * delete path a robots change or host takedown needs. Tombstones
    * are (src, dst) rows in the STORED orientation; they land as their
    * own run in `$indexPath/removals` and reconcile BY ANTI-JOIN at
    * read: a tombstoned pair is invisible no matter how many edge runs
    * assert it — including runs folded AFTER the tombstone — until a
    * compaction makes the removal durable and CLEARS the tombstone
    * set, after which a re-fold re-adds (tombstones are absolute
    * within a compaction epoch). Crash-shaped like
    * [[foldIntoEdgeIndex]] (meta first; anti-join is idempotent, so the
    * retry completes it). To take down a whole host use
    * [[removeKeysFromEdgeIndex]].
    */
  def foldRemovalsIntoEdgeIndex(removals: DataFrame, srcCol: String,
      dstCol: String, indexPath: String): Unit = {
    graft.api.IndexMaintenance.fold(removals.sparkSession, indexPath,
      EdgeIndex, "foldRemovalsIntoEdgeIndex")(_ =>
      graft.api.IndexMaintenance.Delta("removals" ->
        keyedEdges(removals, srcCol, dstCol).select(col("s"), col("t"))
          .distinct()))
    ()
  }

  /** Take DOWN whole hosts (keys): every stored edge incident to any
    * of `keys` — either endpoint, any run — tombstones in one call.
    * The incident pairs derive from the index's own reconciled edge set
    * (one index-sized scan, tombstone-sized write), so the caller
    * needs no link re-extraction. A maintain*-class mutation: writer
    * lock and crash recovery at entry.
    */
  def removeKeysFromEdgeIndex(s: org.apache.spark.sql.SparkSession,
      keys: Seq[String], indexPath: String): Unit = {
    require(keys.nonEmpty, "removeKeysFromEdgeIndex: no keys")
    val op = "removeKeysFromEdgeIndex"
    graft.api.IndexMaintenance.locked(s, indexPath) {
      graft.api.IndexMaintenance.fold(s, indexPath, EdgeIndex, op) { m =>
        val kid = broadcast(keyIds(s, keys))
        val (e, _) = edgesFromIndex(s, indexPath, m, op)
        graft.api.IndexMaintenance.Delta("removals" ->
          e.join(kid, col("s") === col("kid"), "left_semi")
            .union(e.join(kid, col("t") === col("kid"), "left_semi"))
            .distinct())
      }
    }
  }

  private def keyIds(s: org.apache.spark.sql.SparkSession,
      keys: Seq[String]): DataFrame = {
    import s.implicits._
    keys.toDF("key")
      .select(graft.functions.TextHashing.hash60(col("key")).as("kid"))
  }

  /** Fold a DELTA of links into a persisted [[writeEdgeIndex]] IN
    * PLACE with O(delta) write bytes: the delta's distinct pairs and
    * vertices land as their own sorted runs after the meta bump.
    * Reconcile is EXACT BY SET UNION — an edge present in several
    * runs is still ONE edge after the read-side distinct (without it,
    * duplicate-across-runs edges would inflate degrees and corrupt
    * every rank).
    */
  def foldIntoEdgeIndex(edges: DataFrame, srcCol: String, dstCol: String,
      indexPath: String): Unit = {
    graft.api.IndexMaintenance.fold(edges.sparkSession, indexPath,
      EdgeIndex, "foldIntoEdgeIndex")(_ => edgeRows(edges, srcCol, dstCol))
    ()
  }

  /** Compact a layered edge index back to ONE sorted run per table
    * (the set-union reconcile AND the tombstone anti-join made
    * durable — removed edges' bytes drop from disk and the tombstone
    * set RESETS to empty, opening the next compaction epoch), layers
    * reset to 1. Identical reads before and after.
    */
  def compactEdgeIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    graft.api.IndexMaintenance.compact(s, indexPath, outPath, EdgeIndex,
      "compactEdgeIndex")

  /** The edge family's maintain* entry point
    * ([[graft.api.IndexMaintenance.maintain]]). NOT reader-safe across
    * the swap (the family reader contract).
    */
  def maintainEdgeIndex(edges: DataFrame, srcCol: String, dstCol: String,
      indexPath: String,
      compactThreshold: Int =
        graft.api.IndexMaintenance.DefaultCompactThreshold): Boolean =
    graft.api.IndexMaintenance.maintain(edges.sparkSession, indexPath,
      EdgeIndex, "maintainEdgeIndex", compactThreshold)(_ =>
      edgeRows(edges, srcCol, dstCol)).contains(true)

  /** Reconciled reads: (directed distinct edges (s, t) minus the
    * tombstone set, vertex map (id, key)). The distinct is skipped at
    * layers=1 — one compacted run is distinct by construction; the
    * tombstone anti-join always applies (a missing removals table
    * means the index predates the delete path: rebuild once).
    */
  private def edgesFromIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, m: graft.api.IndexMaintenance.Meta,
      op: String): (DataFrame, DataFrame) = {
    def read(dir: String) =
      graft.api.IndexMaintenance.read(s, indexPath, EdgeIndex, m, dir, op)
    (read("edges").select(col("s"), col("t")),
      read("vertices").select(col("id"), col("key")))
  }

  private def edgesFromIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, op: String): (DataFrame, DataFrame) =
    edgesFromIndex(s, indexPath,
      graft.api.IndexMaintenance.readMeta(s, indexPath, EdgeIndex, op), op)

  /** [[ranksByKey]] over a persisted [[writeEdgeIndex]] — identical
    * output to ranking the raw link stream the index was built+folded
    * from, at INDEX-sized cost (no link re-extraction, no
    * corpus-sized edge distinct: the one big exchange already
    * happened at write/fold time).
    */
  def ranksByKeyAgainstIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame = {
    val (e, v) = edgesFromIndex(s, indexPath, "ranksByKeyAgainstIndex")
    withKeys(ranks(symmetrized(e), "a", "b", iterations, dampingPct, scale),
      v)
  }

  /** [[hitsByKey]] over a persisted [[writeEdgeIndex]] — the directed
    * consumer of the same reconciled graph.
    */
  def hitsByKeyAgainstIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, iterations: Int = 3,
      scale: Long = Scale): DataFrame = {
    val (e, v) = edgesFromIndex(s, indexPath, "hitsByKeyAgainstIndex")
    withKeys(hits(e, "s", "t", iterations, scale), v)
  }

  // ------------------------------------------------------------------
  // Persisted WEIGHTED edge index — the TENTH persisted family, giving
  // [[weightedRanks]] the deployed posture [[writeEdgeIndex]] gives
  // [[ranks]]: the unweighted family deliberately collapses a thousand
  // anchors into ONE edge (graph position, not in-link volume), so
  // anchor-count/in-link-weighted centrality — the signal
  // [[graft.api.TextOps.extractAnchors]] already extracts — cannot run
  // at index-sized cost against it. Edge WEIGHTS are SUM-additive
  // across runs (today's anchors between two hosts add to
  // yesterday's), so the gram/line families' reconcile-by-SUM algebra
  // carries directly: a day's links fold in as their own per-run
  // (s, t, w) partial sums, and the reconciled weight of an edge is
  // the sum of its per-run weights.
  //
  // Unlike the count families there is NO layers<=1 fast path to
  // protect: the weighted consumer must aggregate to canonical
  // unordered pairs anyway ([[weightedPairs]] — one row per pair,
  // total weight, the form [[weightedRanks]]' floor divisions are
  // exact over), and that aggregation IS the cross-run SUM reconcile.
  // `layers` therefore only schedules compaction; reads are correct at
  // any layer count by construction.
  // ------------------------------------------------------------------

  /** [[keyedEdges]] carrying a Long weight — ONE derivation behind
    * [[weightedRanksByKey]] and the persisted weighted family, so the
    * inline and deployed consumers can never key, hash, weight-cast or
    * self-loop-filter differently. Weights must be >= 1 (a zero total
    * incident weight would divide by zero in the power iteration).
    */
  private def keyedWeightedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): DataFrame =
    edges.select(
        graft.functions.TextHashing.hash60(col(srcCol)).as("s"),
        col(srcCol).as("_sk"),
        graft.functions.TextHashing.hash60(col(dstCol)).as("t"),
        col(dstCol).as("_tk"),
        col(weightCol).cast("long").as("w"))
      .filter(col("s") =!= col("t"))

  /** Canonical UNDIRECTED weighted pairs off (s, t, w) rows: one row
    * per unordered pair with the SUMMED weight — the exact form
    * [[weightedRanks]] iterates over (feeding it duplicate rows for
    * one pair would change the floor-division rounding:
    * floor(r·w1/D) + floor(r·w2/D) ≠ floor(r·(w1+w2)/D)). Shared by
    * the inline and index read paths; over a layered index this
    * aggregation doubles as the cross-run SUM reconcile — and the
    * net-positive filter IS the delete path: a signed removal run
    * ([[foldRemovalsIntoWeightedEdgeIndex]]) nets a fully-removed
    * pair to 0, which drops here (a no-op for the all-positive inline
    * paths).
    */
  private def weightedPairs(e: DataFrame): DataFrame =
    e.select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)

  /** [[weightedRanks]] over STRING-keyed vertices — the [[ranksByKey]]
    * shape for weighted host graphs: keys map through the shared
    * 60-bit hash, per-occurrence link rows (or pre-aggregated weighted
    * edges) collapse to canonical unordered pairs with SUMMED weight
    * ([[weightedPairs]]), self-links drop, and the final scores join
    * the key back through the broadcast-sized vertex map. With one
    * input row per unordered pair this is EXACTLY [[weightedRanks]]
    * on the raw pair list (the aggregation is the identity), which is
    * what lets the q163 catalog query check the deployed path against
    * q126's oracle verbatim.
    *
    * @return one row per vertex: (key, w_degree, rank).
    */
  def weightedRanksByKey(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame = {
    val h = keyedWeightedEdges(edges, srcCol, dstCol, weightCol)
    withKeys(weightedRanks(weightedPairs(h), "a", "b", "w", iterations,
        dampingPct, scale), vertexMap(h))
  }

  /** The weighted edge index family: `edges` = (s, t, w) per-run
    * partial sums per directed 60-bit hash pair, `__ep`-partitioned and
    * (s, t)-sorted; `vertices` as in [[EdgeIndex]]; meta = the
    * committed-run AND tag manifests. Edge weights reconcile by the
    * signed SUM ([[foldRemovalsIntoWeightedEdgeIndex]]'s negated runs
    * net a removed pair to 0, dropped at compaction), vertices by set
    * union. The weighted consumers read the committed rows raw: their
    * canonical pair aggregation ([[weightedPairs]] / [[weightedHits]])
    * IS the cross-run reconcile, so reads are correct at any layer
    * count and `layers` only schedules compaction. Appends land BEFORE
    * the meta commit under a fresh `__run` id (a partial run corrupts
    * totals under SUM, so the SET family's meta-first trick does not
    * apply): a crash between append and commit leaves orphan files
    * every consumer filters out, and the retried fold's fresh id can
    * never merge with them (RecoverySpec pins it).
    */
  private[graft] val WeightedEdgeIndex = graft.api.IndexMaintenance.Family(
    "weighted edge", "writeWeightedEdgeIndex", Seq("prefix_partitions"),
    "run and tag manifests", graft.api.IndexMaintenance.Manifest.RunsTags,
    _ => Seq(
      graft.api.IndexMaintenance.Table("edges", Seq("s", "t"), 4,
        graft.api.IndexMaintenance.Reconcile.Summed(Seq("s", "t"), Seq("w"),
          netPositive = true), Some("__ep" -> col("s"))),
      graft.api.IndexMaintenance.Table("vertices", Seq("id"), 4,
        graft.api.IndexMaintenance.Reconcile.SetUnion(),
        Some("__vp" -> col("id")))), prefixCap = 16)

  /** Shared write-side derivation for the weighted family: per-run
    * partial sums over distinct DIRECTED hash pairs (self-loops
    * dropped) + the vertex key map. Directed like [[edgeRows]] —
    * orientation is preserved in storage (the
    * [[weightedHitsByKeyAgainstIndex]] consumer iterates the directed
    * graph) and the undirected consumer collapses at read.
    */
  private def weightedEdgeRows(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): graft.api.IndexMaintenance.Delta = {
    val h = keyedWeightedEdges(edges, srcCol, dstCol, weightCol)
    graft.api.IndexMaintenance.Delta(
      "edges" -> h.groupBy(col("s"), col("t")).agg(sum(col("w")).as("w")),
      "vertices" -> vertexMap(h))
  }

  /** Materialize a link stream's weighted directed host graph to
    * parquet ([[WeightedEdgeIndex]]'s layout). Build once per corpus
    * version, fold daily ([[foldIntoWeightedEdgeIndex]] /
    * [[maintainWeightedEdgeIndex]]), rank any time
    * ([[weightedRanksByKeyAgainstIndex]]). Pass `lit(1)`-style unit
    * weights for anchor-count semantics: the per-run partial sum
    * makes w the occurrence count.
    */
  def writeWeightedEdgeIndex(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, path: String): Unit =
    graft.api.IndexMaintenance.write(edges.sparkSession, path,
      WeightedEdgeIndex)(_ =>
      weightedEdgeRows(edges, srcCol, dstCol, weightCol))

  /** Fold a DELTA of weighted links into a persisted
    * [[writeWeightedEdgeIndex]] IN PLACE with O(delta) write bytes:
    * the delta's per-pair partial sums land as their own sorted runs,
    * committed by the meta. `tag = Some(t)` is the exactly-once form
    * (the card family's discipline): a tag already in the meta's
    * logical `committed_tags` manifest makes the fold a NO-OP
    * (returns false) — the streaming maintainer's re-delivery
    * protection ([[graft.streaming.EdgeGate]]).
    *
    * @return true iff the fold applied (always, when untagged).
    */
  def foldIntoWeightedEdgeIndex(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, indexPath: String,
      tag: Option[String] = None): Boolean =
    graft.api.IndexMaintenance.fold(edges.sparkSession, indexPath,
      WeightedEdgeIndex, "foldIntoWeightedEdgeIndex", tag)(_ =>
      weightedEdgeRows(edges, srcCol, dstCol, weightCol)).isDefined

  /** The weighted family's DELETE path — a SIGNED run the existing
    * SUM reconcile absorbs for free: the removal rows fold in with
    * NEGATED weights, so a fully-removed edge nets to 0 and drops at
    * every consumer's net-positive filter ([[weightedPairs]] /
    * [[weightedHits]]), while a partial removal (an anchor retracted,
    * not a takedown) just lowers the weight. Removal rows must mirror
    * the ORIGINAL (src, dst, weight) orientation and must not exceed
    * the added weight — over-removal is a caller error whose residual
    * negative net reads as absent and is DROPPED at compaction (the
    * balance does not carry across epochs). Crash shape = the fold's
    * (per-run manifest; an uncommitted removal run is invisible). To
    * take down whole hosts use [[removeKeysFromWeightedEdgeIndex]].
    */
  def foldRemovalsIntoWeightedEdgeIndex(removals: DataFrame,
      srcCol: String, dstCol: String, weightCol: String,
      indexPath: String): Unit = {
    foldIntoWeightedEdgeIndex(
      removals.withColumn("__negw", -col(weightCol).cast("long")),
      srcCol, dstCol, "__negw", indexPath)
    ()
  }

  /** Take DOWN whole hosts (keys) in the weighted index: every stored
    * directed pair incident to any of `keys` folds back in at its
    * NEGATED reconciled net weight, so the pair nets to exactly 0 —
    * gone from both weighted consumers — with no link re-extraction
    * (one index-sized scan, tombstone-sized write). The negation is its
    * own manifested run, so the meta commit makes the takedown atomic;
    * the tag manifest carries through untouched. Runs under the writer
    * lock with crash recovery at entry.
    */
  def removeKeysFromWeightedEdgeIndex(s: org.apache.spark.sql.SparkSession,
      keys: Seq[String], indexPath: String): Unit = {
    require(keys.nonEmpty, "removeKeysFromWeightedEdgeIndex: no keys")
    val op = "removeKeysFromWeightedEdgeIndex"
    graft.api.IndexMaintenance.locked(s, indexPath) {
      graft.api.IndexMaintenance.fold(s, indexPath, WeightedEdgeIndex, op) {
        m =>
          val kid = broadcast(keyIds(s, keys))
          val (e, _) = weightedFromIndex(s, indexPath, m, op)
          // reconciled net per directed pair, incident to any key
          val nets = e.groupBy(col("s"), col("t")).agg(sum(col("w")).as("w"))
            .filter(col("w") > 0)
          graft.api.IndexMaintenance.Delta("edges" -> nets
            .join(kid, col("s") === col("kid"), "left_semi")
            .union(nets.join(kid, col("t") === col("kid"), "left_semi"))
            .distinct()
            .select(col("s"), col("t"), (-col("w")).as("w")))
      }
    }
  }

  /** Compact a layered weighted edge index back to ONE run per table
    * (per-pair sums over COMMITTED runs and the vertex distinct made
    * durable — orphan rows from crashed folds are dropped from disk
    * here, and so are pairs whose net weight is <= 0: signed removal
    * runs become durable deletions), a single-run manifest with the
    * tag manifest preserved. Identical reads before and after.
    */
  def compactWeightedEdgeIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    graft.api.IndexMaintenance.compact(s, indexPath, outPath,
      WeightedEdgeIndex, "compactWeightedEdgeIndex")

  /** The weighted family's maintain* entry point — the
    * [[maintainEdgeIndex]] policy verbatim. NOT reader-safe across the
    * swap.
    */
  def maintainWeightedEdgeIndex(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, indexPath: String,
      compactThreshold: Int =
        graft.api.IndexMaintenance.DefaultCompactThreshold): Boolean =
    graft.api.IndexMaintenance.maintain(edges.sparkSession, indexPath,
      WeightedEdgeIndex, "maintainWeightedEdgeIndex", compactThreshold)(_ =>
      weightedEdgeRows(edges, srcCol, dstCol, weightCol)).contains(true)

  /** [[maintainWeightedEdgeIndex]] with the exactly-once logical tag
    * (the [[graft.api.CardOps.maintainCardIndexTagged]] discipline for
    * the weighted family — [[graft.streaming.EdgeGate]]'s per-epoch
    * fold): a tag already in the meta's `committed_tags` manifest
    * makes the whole call a NO-OP (returns false, no run appended, no
    * compaction — a no-op must be a no-op), a fresh tag folds under a
    * fresh physical run id and commits run + tag atomically, and the
    * manifest survives compaction. Returns true iff the fold APPLIED.
    */
  def maintainWeightedEdgeIndexTagged(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, indexPath: String, tag: String,
      compactThreshold: Int =
        graft.api.IndexMaintenance.DefaultCompactThreshold): Boolean =
    graft.api.IndexMaintenance.maintain(edges.sparkSession, indexPath,
      WeightedEdgeIndex, "maintainWeightedEdgeIndex", compactThreshold,
      Some(tag))(_ =>
      weightedEdgeRows(edges, srcCol, dstCol, weightCol)).isDefined

  /** Committed reads of a weighted index's two tables (orphans from
    * crashed folds are invisible), projected to the consumer columns.
    * ONE definition behind both weighted consumers.
    */
  private def weightedFromIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, m: graft.api.IndexMaintenance.Meta,
      op: String): (DataFrame, DataFrame) = {
    def raw(dir: String) = graft.api.IndexMaintenance.read(s, indexPath,
      WeightedEdgeIndex, m, dir, op, reconciled = false)
    (raw("edges").select(col("s"), col("t"), col("w")),
      raw("vertices").select(col("id"), col("key")).distinct())
  }

  private def weightedFromIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, op: String): (DataFrame, DataFrame) =
    weightedFromIndex(s, indexPath, graft.api.IndexMaintenance.readMeta(s,
      indexPath, WeightedEdgeIndex, op), op)

  /** [[weightedRanksByKey]] over a persisted
    * [[writeWeightedEdgeIndex]] — identical output to weighted-ranking
    * the raw link stream the index was built+folded from, at
    * INDEX-sized cost: the canonical pair aggregation
    * ([[weightedPairs]]) both collapses the stored directed pairs to
    * unordered form AND sum-reconciles the layered runs in one
    * host-pair-sized exchange. The vertex map always distincts —
    * layered runs repeat keys, and the map is broadcast-sized.
    */
  def weightedRanksByKeyAgainstIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = Scale): DataFrame = {
    val (e, v) =
      weightedFromIndex(s, indexPath, "weightedRanksByKeyAgainstIndex")
    withKeys(weightedRanks(weightedPairs(e), "a", "b", "w", iterations,
        dampingPct, scale), v)
  }

  /** Weight-scaled HITS over a DIRECTED weighted edge list — the
    * [[hits]] mutual recursion with each hop multiplied by the edge
    * weight: `a_raw(t) = Σ_{(s,t)} w · h(s)` and `h_raw(s) =
    * Σ_{(s,t)} w · a(t)`, renormalized per round by the integer max
    * exactly as [[hits]]. On the anchor-count host graph this is the
    * volume-aware split of the two crawl roles the unweighted [[hits]]
    * cannot see: a host pointed to by a thousand anchors from one good
    * hub outranks a host the same hub mentions once.
    *
    * Input rows need NOT be pre-aggregated: edges first collapse to
    * canonical DIRECTED pairs with SUMMED weight — for the raw sums
    * themselves this is a no-op (multiplication distributes over the
    * sum, unlike the weighted-PageRank floor divisions), but it fixes
    * the iterated graph at pair-count size and IS the cross-run SUM
    * reconcile when the rows come from a layered
    * [[writeWeightedEdgeIndex]]. Self-loops drop ([[hits]]'
    * discipline). With one row per directed pair and unit weights this
    * is EXACTLY [[hits]]: every product is h·1 — DedupSpec pins the
    * equality. The rounds and their decimal(38,0) arithmetic are the
    * shared [[hitsRounds]] kernel.
    *
    * @return one row per vertex: (id, hub, auth) on the integer
    *         `scale`.
    */
  def weightedHits(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 3,
      scale: Long = Scale): DataFrame =
    hitsRounds(
      edges
        .select(col(srcCol).cast("long").as("s"),
          col(dstCol).cast("long").as("t"),
          col(weightCol).cast("long").as("w"))
        .filter(col("s") =!= col("t"))
        .groupBy(col("s"), col("t")).agg(sum(col("w")).as("w"))
        // net-positive only: the directed twin of [[weightedPairs]]'
        // delete-path filter — a signed removal run nets a removed
        // directed pair to 0 and it drops here
        .filter(col("w") > 0),
      iterations, scale)

  /** [[weightedHits]] over STRING-keyed vertices — the [[hitsByKey]]
    * shape at anchor-volume granularity: keys map through the shared
    * 60-bit hash, per-occurrence (src, dst, w) rows collapse to
    * directed pairs with SUMMED weight inside [[weightedHits]], and
    * the scores join the key back through the broadcast-sized vertex
    * map. The graph stays DIRECTED ([[hitsByKey]]'s reasoning —
    * hub/authority duality IS the direction structure).
    *
    * @return one row per vertex: (key, hub, auth).
    */
  def weightedHitsByKey(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 3,
      scale: Long = Scale): DataFrame = {
    val h = keyedWeightedEdges(edges, srcCol, dstCol, weightCol)
    withKeys(weightedHits(h.select(col("s"), col("t"), col("w")), "s", "t",
        "w", iterations, scale), vertexMap(h))
  }

  /** [[weightedHitsByKey]] over a persisted [[writeWeightedEdgeIndex]]
    * — the DIRECTED consumer the family stores its orientation for:
    * identical output to weighted-HITS-ing the raw link stream the
    * index was built+folded from, at index-sized cost. The canonical
    * directed pair aggregation inside [[weightedHits]] doubles as the
    * cross-run SUM reconcile (the [[weightedRanksByKeyAgainstIndex]]
    * argument, directed), so reads are correct at any layer count and
    * both weighted consumers — undirected rank and directed
    * hub/authority — rank ONE reconciled graph.
    */
  def weightedHitsByKeyAgainstIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, iterations: Int = 3,
      scale: Long = Scale): DataFrame = {
    val (e, v) =
      weightedFromIndex(s, indexPath, "weightedHitsByKeyAgainstIndex")
    withKeys(weightedHits(e, "s", "t", "w", iterations, scale), v)
  }
}
