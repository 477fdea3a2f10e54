package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.BspLoop

/** Bulk-synchronous iterative graph computation — the link-analysis
  * family a crawl-scale corpus pipeline runs to turn raw link structure
  * into a per-page/per-domain quality prior (Common Crawl publishes
  * exactly this as its harmonic-centrality / PageRank domain ranks, and
  * CCNet/RefinedWeb-style curation consumes such ranks as a quality
  * signal alongside text heuristics).
  *
  * Everything here is the engine-portable EXACT INTEGER formulation:
  * ranks live in fixed-point units of 1e-9 (`rank_e9`), every division
  * is an integer floor division, and damping is a percent — so one
  * iteration is reproducible bit-for-bit in any engine with 64-bit
  * integer arithmetic, which is what lets a SQL oracle unroll the same
  * iterations and hash-match the result. (Float PageRank converges to
  * the same ordering but differs in the last ulp per engine — the same
  * reason tfidf/familiarity use scaled integers.)
  *
  * Scale shape (the part that matters at 100 TB of edges):
  *  - Each iteration is ONE exchange: join ranks to edges on `src`
  *    (edges ship with their out-degree attached, so the per-edge
  *    contribution `rank DIV outdeg` needs no second lookup), then the
  *    per-edge contributions AND the per-node flag rows ride one union
  *    into one `groupBy(node).sum` — the sum is associative, so
  *    map-side partial aggregation absorbs in-degree skew (a celebrity
  *    page's million in-links combine to one partial per map task)
  *    before the exchange, and folding the node frame into the same
  *    aggregate means no second per-step exchange for an update join.
  *  - The edge table is joined to its degree table ONCE and
  *    `localCheckpoint`ed: it is re-read every iteration, and without
  *    the lineage cut each iteration would re-run the degree aggregate.
  *  - The rank frame is `localCheckpoint`ed EVERY iteration. This is
  *    the classic iterative-Spark failure mode: without it the logical
  *    plan doubles per iteration (rank₁₀'s lineage contains every prior
  *    join), analysis/optimization time grows exponentially, and the
  *    physical plan re-executes the whole history. With it, iteration
  *    k is always one join + one aggregate over materialized inputs.
  *  - Dangling mass: nodes with no out-links would leak their rank;
  *    instead each iteration redistributes it uniformly. Dₖ is a
  *    bounded driver scalar observed on step k's own materialization
  *    (`Dataset.observe` riding the localCheckpoint job) and enters
  *    step k+1 as a literal, so the redistribution costs no aggregate
  *    job, no broadcast and no cross join per iteration.
  *  - Every driver loop runs on [[BspLoop.iterate]]: AQE
  *    off, shuffle width pinned to the width AQE chose when it
  *    materialized the loop inputs, one step capture and one
  *    materialization per step — per-step plans are fixed-shape, so
  *    AQE's per-exchange re-plan round trips are pure critical-path
  *    latency inside the loop (see BspLoop's scaladoc for the
  *    100 TB-posture argument).
  */
object Graph {

  /** Fixed-point PageRank: `iterations` synchronous steps at
    * `dampingPct`/100 damping over `edges(src, dst)` restricted to
    * `nodes(node)`; returns `(node, rank_e9)` with
    * rank_e9 = floor(1e9 · pagerank) under per-step floor rounding.
    *
    * Exact update rule (all integer ops; D = dangling mass):
    * {{{
    *   r₀(v)   = SCALE div N
    *   Dₖ      = Σ_{u: outdeg(u)=0} rₖ(u)
    *   rₖ₊₁(v) = (100-d)·SCALE div (100·N)
    *           + d · (Σ_{(u,v)∈E} (rₖ(u) div outdeg(u)) + Dₖ div N) div 100
    * }}}
    * Overflow bound: d·Σ ≤ 100·SCALE·N_in ≤ 10¹¹·N — past ~9·10⁷ nodes
    * of worst-case concentration set `wide = true`: the contribution
    * sum and the damped product then run in DECIMAL(38,0) (128-bit
    * Decimal under the hood), lifting the bound to ~10²⁷ nodes, while
    * (caveat: past THAT bound, non-ANSI Spark's decimal sum returns
    * NULL on overflow, which the coalesce in the update reads as zero
    * inflow — silently-wrong ranks, not a loud error; run with
    * `spark.sql.ansi.enabled=true` if the graph can approach 10²⁷
    * concentrated nodes so overflow fails loudly instead) —
    * per-node ranks (≤ SCALE, total mass is conserved) still return as
    * i64 — bit-identical to the narrow path wherever the narrow path
    * doesn't overflow (GraphSpec asserts equality), so the DuckDB
    * oracle (whose sums are HUGEINT already) matches either. N itself
    * rides in as two literals derived from ONE `count()` — a bounded
    * driver scalar (8 bytes), the same class as the IVF codebook or
    * stratum counts.
    *
    * `seeds` personalizes the walk (PPR — the per-domain trust rank
    * link-spam filtering actually runs, TrustRank-style): teleport
    * mass, the initial distribution, AND the dangling redistribution
    * all go to the seed set S instead of uniformly to every node —
    * {{{
    *   r₀(v)   = [v∈S] · SCALE div |S|
    *   rₖ₊₁(v) = [v∈S] · (100-d)·SCALE div (100·|S|)
    *           + d · (Σ_{(u,v)∈E} (rₖ(u) div outdeg(u))
    *                  + [v∈S] · Dₖ div |S|) div 100
    * }}}
    * — so rank can ONLY flow outward along directed paths from S, and
    * a node unreachable from S scores exactly 0. Seeds are semi-joined
    * to `nodes` first (a seed outside the graph would silently leak
    * teleport mass). `None` (the default) is the uniform prior: S =
    * all nodes, reducing term for term to the classic rule above.
    *
    * `weightCol` names a POSITIVE INTEGER edge-weight column on
    * `edges` (link multiplicity, anchor-text trust, crawl frequency):
    * the random surfer follows edge (u,v) with probability w/W(u),
    * W(u) = Σ out-weights, so the per-edge contribution becomes
    * `rank·w DIV W(u)` and the out-degree table becomes the out-WEIGHT
    * table — everything else (dangling, damping, seeding) is
    * unchanged, and `None` (all weights 1) reduces to the classic
    * rule exactly. Weights must be ≥ 1: a zero/negative weight would
    * corrupt W(u) silently (an all-zero-out-weight node belongs in the
    * dangling set instead — drop its edges). Narrow-path overflow now
    * bounds rank·w per edge (≤ 10⁹·wmax) and the damped sum by
    * 100·SCALE·Σw_in — divide the ~9·10⁷ node bound by the mean
    * in-weight, or set `wide = true` which lifts both (the product is
    * computed in DECIMAL(38,0) before the divide). */
  def pageRankE9(edges: DataFrame, nodes: DataFrame, iterations: Int,
                 dampingPct: Int = 85, wide: Boolean = false,
                 seeds: Option[DataFrame] = None,
                 weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0 && dampingPct >= 0 && dampingPct <= 100)
    val Scale = 1000000000L
    // Induced-subgraph restriction BEFORE degree/dangling derivation
    // (matching harmonicCentralityE9/triangleCounts): on a non-closed
    // edge list, a node whose out-edges all leave `nodes` must count as
    // DANGLING — its mass can't follow edges that left the graph — and
    // its outdeg must not be inflated by dropped edges, or that mass
    // would neither propagate nor redistribute and total rank mass
    // would silently leak.
    val nset = nodes.select(col("node"))
    val wExpr = weightCol.fold(lit(1L))(c => col(c).cast("long"))
    val e = edges.select(col("src"), col("dst"), wExpr.as("w"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
    // degree (out-weight when weighted) attached once; checkpoint so 10
    // iterations re-read a materialized (src, dst, w, outdeg) table
    // instead of re-aggregating
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("outdeg"))
    // Fail-loudly convention (matching shortestDistances/SCC): a
    // NULL/zero/negative weight silently corrupts W(u) and leaks rank
    // mass (null drops the edge from sum(w) AND from contributions), so
    // reject it here — the census rides the materialization job as an
    // observed metric (BspLoop.checkpointObserved), not a second scan,
    // and costs nothing when no weight column is in play (w ≡ 1).
    val (edgesDeg, Seq(badW)) = BspLoop.checkpointObserved(
      e.join(deg, "src"),
      count(when(col("w").isNull || col("w") <= 0L, 1)))
    weightCol.foreach { c =>
      require(badW == 0L,
        s"pageRankE9 weightCol=$c: $badW edge(s) with NULL/zero/negative " +
          "weight; drop or repair them upstream (an all-zero-out-weight " +
          "node belongs in the dangling set — drop its edges)")
    }
    // the teleport-set size |S| (= n under the uniform prior) is the
    // second bounded driver scalar; seeds restricted to the node set
    // BEFORE counting so an out-of-graph seed can't swallow mass.
    // Every setup scalar (|S|, N) is observed on a materialization the
    // setup pays anyway — no dedicated count() jobs.
    val seedSet = seeds.map { sd =>
      BspLoop.checkpointObserved(
        sd.select(col("node")).distinct()
          .join(nset, Seq("node"), "left_semi"), count(lit(1)))
    }
    // the dangling set is static (a property of the edge list), so the
    // flag rides along in the node/rank frames and the per-iteration
    // dangling mass is an observed metric on the step's own
    // materialization — no aggregate job, no broadcast, no cross join
    // per step; same treatment for the seed flag
    val nodesF0 = nodes
      .join(deg.select(col("src").as("node"), lit(true).as("has_out")), Seq("node"), "left")
      .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out"))
    val (nodesF, Seq(n)) = BspLoop.checkpointObserved(
      seedSet match {
        case Some((sd, _)) => nodesF0
          .join(sd.select(col("node"), lit(true).as("is_seed")), Seq("node"), "left")
          .select(col("node"), col("has_out"),
            coalesce(col("is_seed"), lit(false)).as("is_seed"))
        case None => nodesF0.withColumn("is_seed", lit(true))
      }, count(lit(1)))
    require(n > 0, "empty node set")
    val nT = seedSet.map(_._2.head).getOrElse(n)
    require(nT > 0, "empty teleport set")
    val base = (100L - dampingPct) * Scale / (100L * nT)
    // D₀ = the dangling mass of the INITIAL distribution, observed on
    // the init materialization; each step's checkpoint then observes
    // Dₖ for step k+1 (always ≥ 0, ≤ total mass ≈ SCALE — an i64 sum
    // on both the narrow and wide paths, exactly as before)
    val dmassMetric =
      coalesce(sum(when(!col("has_out"), col("rank_e9"))), lit(0L))
    val (ranks0, Seq(dmass0)) = BspLoop.checkpointObserved(
      nodesF.select(col("node"),
        when(col("is_seed"), lit(Scale / nT)).otherwise(lit(0L)).as("rank_e9"),
        col("has_out"), col("is_seed")), dmassMetric)
    var dmass = dmass0
    // narrow: pure i64. wide: the two expressions that can overflow i64
    // (the in-edge contribution sum and the damped product) in
    // DECIMAL(38,0); `DIV` (IntegralDivide) accepts decimals and lands
    // back in BIGINT, so the rank frame's shape is identical either way.
    // wide path: the rank·w product runs in DECIMAL(38,0) so a large
    // weight cannot overflow the i64 product before the divide, and the
    // per-edge contribution is cast back to DECIMAL(38,0) so the
    // downstream sum `s` stays 128-bit (DIV lands in BIGINT otherwise)
    val cExpr = if (wide)
      expr("CAST((CAST(rank_e9 AS DECIMAL(38,0)) * w) DIV outdeg AS DECIMAL(38,0))")
    else expr("(rank_e9 * w) DIV outdeg")
    val cType = if (wide) "decimal(38,0)" else "bigint"
    // Dₖ enters the update as a LITERAL: it is a bounded driver scalar
    // already observed on step k's materialization, so the dangling
    // redistribution needs no per-step aggregate, broadcast or cross
    // join — `dTerm` = Dₖ div |S| is computed in Scala (floor division
    // of non-negative longs ≡ SQL DIV) and inlined. Dₖ = 0 (closed
    // graph) reduces term for term to the classic rule, so one code
    // path serves both (GraphSpec pins them).
    def damped(dTerm: Long) = if (wide)
      expr(s"($dampingPct * (coalesce(s, CAST(0 AS DECIMAL(38,0))) + CAST(IF(is_seed, ${dTerm}L, 0L) AS DECIMAL(38,0)))) DIV 100")
    else
      expr(s"($dampingPct * (coalesce(s, 0L) + IF(is_seed, ${dTerm}L, 0L))) DIV 100")
    val baseExpr = expr(s"IF(is_seed, ${base}L, 0L)")
    // The per-node flag row and the per-edge contribution rows ride ONE
    // union into ONE groupBy(node) — sum(c) over the same integer
    // addends (the base leg's NULL c adds nothing; a no-inflow node
    // sums to NULL, which the update's coalesce reads as no inflow),
    // the static flags recovered by max over the single non-null flag
    // row — so each step pays one Exchange and never re-shuffles the
    // node frame for a separate update join (guide §2.4: operations
    // keyed the same way share one exchange).
    val baseLeg = nodesF.select(col("node"),
      lit(null).cast(cType).as("c"), col("has_out"), col("is_seed"))
    BspLoop.iterate("pagerank", ranks0, iterations, edgesDeg) { (ranks, _) =>
      val contribLeg = edgesDeg.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), cExpr.as("c"),
          lit(null).cast("boolean").as("has_out"),
          lit(null).cast("boolean").as("is_seed"))
      val merged = baseLeg.unionByName(contribLeg)
        .groupBy(col("node"))
        .agg(sum(col("c")).as("s"), max(col("has_out")).as("has_out"),
          max(col("is_seed")).as("is_seed"))
      val updated = merged
        .select(col("node"), (baseExpr + damped(dmass / nT)).as("rank_e9"),
          col("has_out"), col("is_seed"))
      BspLoop.Step(updated, Seq(dmassMetric),
        next = (ck, obs) => { dmass = obs.head; ck })
    }.state.select(col("node"), col("rank_e9"))
  }

  /** Harmonic centrality, exact fixed-point form: for every node v,
    * `harmonic_e9(v) = Σ_{u≠v, d(u,v)≤maxDist} (1e9 div d(u,v))` over
    * DIRECTED shortest-path distances in `edges(src, dst)` restricted
    * to `nodes(node)` (induced subgraph — an edge with either endpoint
    * outside the node set is dropped, as in [[pageRankE9]]). Unreachable
    * pairs contribute zero, which is exactly why Common Crawl publishes
    * harmonic (not closeness) centrality for web/domain graphs: it is
    * well-defined on disconnected graphs. `maxDist` ≥ the directed
    * diameter gives the exact value; below it, the deterministic
    * truncated sum — either way a pure integer function of
    * (graph, maxDist) that a SQL oracle reproduces by unrolling the
    * same BFS steps.
    *
    * Scale shape: this is multi-source BFS with EXPLICIT pair state —
    * `known` holds one row per (origin, node) pair discovered, i.e.
    * O(Σ_v |ball(v, maxDist)|). On a bounded-degree domain graph with
    * small maxDist that is N·O(deg^maxDist); on a full web graph it is
    * quadratic and this formulation is wrong — there the HyperBall
    * construction (Boldi & Vigna 2013: one mergeable HLL counter per
    * node, neighborhood-union per step, harmonic from successive ball-
    * size deltas) keeps O(N) state at ~1% error, and plugs into this
    * same two-shuffle BSP loop with the pair frame replaced by a sketch
    * column. The exact form is the oracle-checkable one, so it is what
    * the declared query runs (on the 100-node domain graph).
    * Per-step discipline matches [[pageRankE9]]: frontier and known are
    * `localCheckpoint`ed every step (lineage cut), candidate expansion
    * is one join + distinct, dedup against `known` is one anti-join.
    */
  def harmonicCentralityE9(edges: DataFrame, nodes: DataFrame,
                           maxDist: Int): DataFrame = {
    val nset = nodes.select(col("node"))
    val known = bfsPairs(edges, nset, maxDist)
    val scores = known.filter(col("dist") > 0)
      .groupBy(col("node")).agg(sum(expr("1000000000L DIV dist")).as("s"))
    nset.join(scores, Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("harmonic_e9"))
  }

  /** The neighborhood function N(d) — the other statistic the exact
    * BFS frame yields for free: for every horizon d in 1..maxDist, the
    * number of ordered pairs (u,v), u≠v, with directed d(u,v) ≤ d. Its
    * curve is the webgraph's distance distribution (effective diameter
    * = the first d where N(d) ≥ 90% of N(maxDist) — left to the caller,
    * it's one scan of the maxDist-row result). Same pair-state bound as
    * [[harmonicCentralityE9]]; at web scale HyperBall estimates this
    * same curve from the per-step ball-size sums. The final cumulative
    * window runs over a maxDist-row frame — a driver-scale artifact,
    * not a data-scale sort. */
  def neighborhoodFunction(edges: DataFrame, nodes: DataFrame,
                           maxDist: Int): DataFrame = {
    val spark = edges.sparkSession
    val known = bfsPairs(edges, nodes.select(col("node")), maxDist)
    val perDist = known.filter(col("dist") > 0)
      .groupBy(col("dist").cast("long").as("dist")).agg(count(lit(1)).as("c"))
    val horizons = spark.range(1, maxDist + 1).select(col("id").as("dist"))
    import org.apache.spark.sql.expressions.Window
    horizons.join(perDist, Seq("dist"), "left")
      .select(col("dist"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("pairs", sum(col("c")).over(Window.orderBy("dist")))
      .select(col("dist"), col("pairs"))
  }

  /** Per-node triangle counts over the UNDIRECTED simple closure of
    * `edges(src, dst)` restricted to `nodes(node)` — the local
    * clustering / cohesion signal (webspam link farms and boilerplate
    * mirror clusters are triangle-dense; organic link neighborhoods are
    * not). Returns `(node, triangles)`, zero included.
    *
    * Scale shape — the Suri–Vassilvitskii degree-ordered construction:
    * every edge is ORIENTED from its (degree, id)-smaller endpoint to
    * the larger, making the orientation acyclic, so each triangle has
    * exactly ONE node with two out-edges and is found exactly once as a
    * wedge (a→b, a→c) whose closing edge (b,c) exists. The wedge join
    * fans out per node as out-degree², and degree-ordering bounds every
    * node's out-degree by O(√|E|) — a celebrity node's million
    * in-links orient INWARD and produce no wedges, which is the whole
    * trick: the naive per-node wedge count is unbounded under skew, the
    * oriented one never exceeds |E|^(3/2) total. Three shuffles
    * (degree, wedge self-join, closing-edge semi-join) + the final
    * explode/count, all on compact (long, long) keys. */
  /** Canonical undirected simple edge set (a < b), induced on `nset`. */
  private[graft] def canonicalUndirected(edges: DataFrame, nset: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()

  private[graft] def undirectedDegree(und: DataFrame): DataFrame =
    und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  def triangleCounts(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val nset = nodes.select(col("node"))
    val und = canonicalUndirected(edges, nset)
    triangleCountsOver(und, nset)
  }

  /** [[triangleCounts]] over an ALREADY-materialized canonical closure —
    * lets [[clusteringCoefficientPpm]] share one closure + degree pass
    * instead of re-running the semi-join/distinct derivation twice. */
  private def triangleCountsOver(und: DataFrame, nset: DataFrame): DataFrame = {
    val deg = undirectedDegree(und)
    // orient a→b iff (deg, id) of a < (deg, id) of b (total order, acyclic)
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint()
    val o2 = oriented.select(col("src").as("src2"), col("dst").as("dst2"))
    val wedges = oriented.join(o2, col("src") === col("src2") && col("dst") < col("dst2"))
      .select(col("src").as("apex"), col("dst").as("x"), col("dst2").as("y"))
    val tri = wedges.join(und,
        least(col("x"), col("y")) === col("a") &&
          greatest(col("x"), col("y")) === col("b"), "left_semi")
      .localCheckpoint()
    val perNode = tri.select(explode(array(col("apex"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    nset.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient in exact parts-per-million:
    * `ppm(v) = (2·T(v)·1e6) div (d(v)·(d(v)−1))` over the same
    * undirected simple closure as [[triangleCounts]] (0 when d < 2 —
    * the coefficient is undefined there and 0 is the fixed convention
    * both engine and oracle encode). Integer end to end, so the oracle
    * reproduces it digit-for-digit; cost = [[triangleCounts]] + one
    * degree join. */
  def clusteringCoefficientPpm(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val nset = nodes.select(col("node"))
    val und = canonicalUndirected(edges, nset)
    val deg = undirectedDegree(und)
    triangleCountsOver(und, nset)
      .join(deg.select(col("n").as("node"), col("d")), Seq("node"), "left")
      .select(col("node"),
        when(coalesce(col("d"), lit(0L)) < 2, lit(0L))
          .otherwise(expr("(2 * triangles * 1000000) DIV (d * (d - 1))"))
          .as("clustering_ppm"))
  }

  /** Link prediction over the undirected simple closure — the classic
    * common-neighbor family (Liben-Nowell & Kleinberg 2003) a
    * crawl-graph pipeline scores to find missing/near-future edges
    * (mirror-site discovery, related-domain suggestion, entity
    * resolution between ad posters sharing contact identifiers).
    *
    * For every NON-adjacent node pair (a < b) with at least one common
    * neighbor, emits the four exact-integer scores the family ranks
    * by: `common` = |N(a) ∩ N(b)| (counted over wedge centers of
    * degree ≤ `maxCenterDegree`), `jaccard_ppm` =
    * `common·10⁶ div (d(a)+d(b)−common)`, `ra_ppm` =
    * `Σ_w∈common 10⁶ div d(w)` (the resource-allocation index, Zhou,
    * Lü & Zhang 2009 — Adamic-Adar's shape with 1/d in place of
    * 1/log d, which keeps it integer-exact; it downweights promiscuous
    * centers the way AA does), and `pref_attach` = `d(a)·d(b)`. All
    * integers, so a SQL oracle reproduces the ranking
    * digit-for-digit.
    *
    * Scale shape: candidate pairs come from ONE wedge self-join on the
    * center node — never an all-pairs product — so the fan-out is
    * Σ_w d(w)² over centers. Unlike triangles there is no
    * degree-ordering trick (the pair (a,b) must surface regardless of
    * which endpoint is heavier), so the hub guard IS the semantics:
    * centers above `maxCenterDegree` contribute no wedges, the
    * stop-word treatment co-occurrence mining applies for the same
    * reason (a 10⁶-degree hub asserts nothing about any specific pair,
    * and would alone emit 10¹² candidates). The cap is part of the
    * declared contract — the oracle encodes the same `d ≤ cap` filter —
    * not a silent approximation. Degrees in the Jaccard/PA terms stay
    * the TRUE degrees; only wedge centers are capped.
    *
    * Shuffles: degree aggregate, two adjacency equi-joins keyed on the
    * center, pair groupBy (map-side combined), existing-edge anti-join,
    * two degree joins — all on (long, long) keys. */
  def linkPredict(edges: DataFrame, nodes: DataFrame,
                  maxCenterDegree: Long = 10000L): DataFrame = {
    val nset = nodes.select(col("node"))
    val und = canonicalUndirected(edges, nset)
    val deg = undirectedDegree(und)
    // both orientations, restricted to capped centers (center degree
    // rides along: the RA score is per-center, priced before the fold)
    val adj = und.select(col("a").as("w"), col("b").as("x"))
      .unionAll(und.select(col("b").as("w"), col("a").as("x")))
      .join(deg.filter(col("d") <= maxCenterDegree)
        .select(col("n").as("w"), col("d").as("dw")), Seq("w"))
      .localCheckpoint()   // two sides of the wedge self-join
    val pairs = adj
      .join(adj.select(col("w"), col("x").as("y")), Seq("w"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 DIV dw")).as("ra_ppm"))
    pairs.join(und, Seq("a", "b"), "left_anti")   // predicted, not present
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        expr("(common * 1000000) DIV (da + db - common)").as("jaccard_ppm"),
        col("ra_ppm"),
        (col("da") * col("db")).as("pref_attach"))
  }

  /** A settled pair set kept as a lazy UNION of already-materialized
    * level frames, so a BFS-shaped step pays exactly one
    * materialization job (its new level) instead of re-copying every
    * settled pair once per step — a monolithic re-checkpoint costs
    * O(Σ|ball| · depth) rewritten bytes and a second job per step. The
    * union is collapsed back to one materialized frame every
    * `CollapseEvery` legs: unbounded union legs grow the per-step plan
    * linearly and measured SLOWER past ~4 legs (Catalyst planning per
    * leg outweighs the avoided copy on overhead-dominated steps), so
    * the settled set is re-copied depth/4 times instead of depth times
    * while every step's plan stays bounded at 4 scan legs. */
  private final class SettledUnion(first: DataFrame) {
    private val CollapseEvery = 4
    private var legs = 1
    var frame: DataFrame = first

    def add(level: DataFrame): Unit = {
      frame = frame.unionByName(level)
      legs += 1
      if (legs >= CollapseEvery) { frame = frame.localCheckpoint(); legs = 1 }
    }
  }

  /** Shared multi-source directed BFS: one row per discovered
    * (origin, node, dist) pair over the induced subgraph, dist 0 (self)
    * through maxDist. The explicit-pair-state core of
    * [[harmonicCentralityE9]] and [[neighborhoodFunction]]. */
  private def bfsPairs(edges: DataFrame, nset: DataFrame,
                       maxDist: Int): DataFrame = {
    require(maxDist >= 0)
    val e = edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct().localCheckpoint()
    // (origin, node, dist): shortest directed distance origin→node
    // found, one checkpointed frame per level
    val levels = scala.collection.mutable.ArrayBuffer(
      nset.select(col("node").as("origin"), col("node"), lit(0).as("dist"))
        .localCheckpoint())
    val known = new SettledUnion(levels(0).select(col("origin"), col("node")))
    BspLoop.iterate("bfs", levels(0), maxDist, e) { (frontier, d) =>
      // Union-fold (guide §2.4): candidates and the settled set ride ONE
      // groupBy(origin, node) — max(old) marks pairs already settled,
      // the filter keeps exactly the first-reach pairs a distinct plus
      // anti-join would, and the step pays one Exchange instead of two.
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(col("origin"), e("dst").as("node"), lit(false).as("old"))
      val frontierPre = known.frame.select(col("origin"), col("node"), lit(true).as("old"))
        .unionByName(cand)
        .groupBy(col("origin"), col("node")).agg(max(col("old")).as("old"))
        .filter(!col("old"))
        .select(col("origin"), col("node"), lit(d).as("dist"))
      // empty frontier ⇒ every later step discovers nothing: BFS is
      // monotone, so exiting at exhaustion returns exactly what the
      // full maxDist budget would — callers may over-budget for free.
      BspLoop.Step(frontierPre, Seq(count(lit(1))), done = _.head == 0L,
        next = { (fresh, found) =>
          if (found.head > 0L) {
            levels += fresh
            known.add(fresh.select(col("origin"), col("node")))
          }
          fresh
        })
    }
    levels.reduce(_ unionByName _)
  }

  /** Harmonic centrality at web scale — the HyperBall construction
    * (Boldi & Vigna 2013) this module's exact form names as its
    * replacement past the pair-state bound: each node carries one
    * m-byte HLL register vector approximating its in-ball, one BSP step
    * unions every in-neighbor's vector into the node's own (elementwise
    * register max — associative, commutative, IDEMPOTENT, so map-side
    * partial aggregation absorbs in-degree skew and re-delivery is
    * harmless), and the harmonic score accumulates
    * `(|ball_d| − |ball_{d−1}|) / d` from successive estimates.
    *
    * State is O(N·m) bytes TOTAL — 256 B/node at the default m — versus
    * [[harmonicCentralityE9]]'s O(Σ|ball|) pair rows; that is the
    * difference between "fits in executor memory at 10⁸ nodes" and
    * "quadratic blowup". The cost is ~1.04/√m relative error (≈6.5% at
    * m=256, tighter below 2.5·m where linear counting kicks in), which
    * is the published accuracy regime of the Common Crawl harmonic
    * ranks themselves. Deterministic: integer hashing + fixed-order
    * double loops, and the idempotent union makes the result
    * partitioning-independent — GraphSpec asserts both accuracy against
    * the exact form and run-to-run equality. Same per-step discipline
    * as the rest of the module: edge list induced-restricted and
    * checkpointed once, state `localCheckpoint`ed every step.
    */
  def harmonicCentralityHyperBall(edges: DataFrame, nodes: DataFrame,
                                  maxDist: Int, m: Int = 256): DataFrame = {
    require(maxDist >= 0)
    val nset = nodes.select(col("node"))
    val e = edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct().localCheckpoint()
    val state0 = nset
      .select(col("node"), graft.functions.HllF.hllInit(col("node"), m).as("regs"))
      .withColumn("est", graft.functions.HllF.hllEstimate(col("regs")))
      .withColumn("h", lit(0.0))
      .localCheckpoint()
    BspLoop.iterate("hyperball", state0, maxDist, e) { (state, d) =>
      val cur = state.select(col("node").as("sn"), col("regs"))
      val unioned = e.join(cur, e("src") === col("sn"))
        .select(col("dst").as("node"), col("regs"))
        .unionByName(state.select(col("node"), col("regs")))
        .groupBy(col("node"))
        .agg(graft.functions.HllF.hllUnion(col("regs"), m).as("regs"))
      BspLoop.Step(unioned
        .join(state.select(col("node"), col("est").as("prev_est"), col("h")), Seq("node"))
        .withColumn("est", graft.functions.HllF.hllEstimate(col("regs")))
        .select(col("node"), col("regs"), col("est"),
          // estimates can jitter down a hair as registers fill; deltas clamp at 0
          (col("h") + greatest(lit(0.0), (col("est") - col("prev_est")) / d)).as("h")))
    }.state.select(col("node"), col("h").as("harmonic_approx"))
  }

  /** The neighborhood function at web scale — HyperANF (Boldi, Rosa &
    * Vigna 2011, "HyperANF: Approximating the Neighbourhood Function of
    * Very Large Graphs on a Budget"): the same per-node HLL ball
    * sketches as [[harmonicCentralityHyperBall]], but the statistic
    * read off each step is the GLOBAL ball mass — N(d) ≈ Σ_v |ball(v,d)|
    * estimated from the registers, minus the step-0 mass so the n self
    * pairs (and their shared estimator bias) cancel instead of
    * accumulating. This replaces [[neighborhoodFunction]]'s explicit
    * pair frame — O(Σ|ball|) rows, quadratic on a dense web graph —
    * with O(N·m) bytes of state, the same swap HyperBall makes for
    * harmonic centrality; it is the construction the published web
    * distance distributions (effective diameter ~6.5 on the Facebook
    * graph, the Common Crawl curves) were actually computed with.
    *
    * Per-step cost: one equi-join to ship sketches along edges + one
    * idempotent register-max aggregate (map-side combine absorbs
    * in-degree skew), then ONE scalar aggregate for the step's mass —
    * a 1-row frame, unioned across steps into the maxDist-row result
    * (a driver-scale artifact, never a data-scale shuffle).
    * Deterministic for a fixed m (integer hashing, idempotent union ⇒
    * partitioning-independent); GraphSpec asserts accuracy against the
    * exact [[neighborhoodFunction]] on the declared fixture and
    * run-to-run equality. Returns (dist, pairs_approx), dist 1..maxDist.
    */
  def neighborhoodFunctionHyperAnf(edges: DataFrame, nodes: DataFrame,
                                   maxDist: Int, m: Int = 256): DataFrame = {
    require(maxDist >= 1)
    val nset = nodes.select(col("node"))
    val e = edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct().localCheckpoint()
    val state0 = nset
      .select(col("node"), graft.functions.HllF.hllInit(col("node"), m).as("regs"))
      .withColumn("est", graft.functions.HllF.hllEstimate(col("regs")))
      .localCheckpoint()
    val mass0 = state0.agg(sum(col("est")).as("mass0"))
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    BspLoop.iterate("hyperanf", state0, maxDist, e) { (state, d) =>
      val cur = state.select(col("node").as("sn"), col("regs"))
      BspLoop.Step(e.join(cur, e("src") === col("sn"))
        .select(col("dst").as("node"), col("regs"))
        .unionByName(state.select(col("node"), col("regs")))
        .groupBy(col("node"))
        .agg(graft.functions.HllF.hllUnion(col("regs"), m).as("regs"))
        .withColumn("est", graft.functions.HllF.hllEstimate(col("regs"))),
        next = { (ck, _) =>
          steps += ck.agg(sum(col("est")).as("mass"))
            .crossJoin(broadcast(mass0))
            .select(lit(d.toLong).as("dist"),
              greatest(lit(0.0), col("mass") - col("mass0")).as("pairs_approx"))
          ck
        })
    }
    steps.reduce(_ unionByName _)
  }

  /** Connected components by synchronous min-label propagation: up to
    * `iterations` BSP steps (early exit at the propagation fixpoint —
    * labels only decrease, so the result equals the full budget's
    * bit-for-bit) over the UNDIRECTED closure of
    * `edges(src, dst)` restricted to `nodes(node)` — the INDUCED
    * subgraph: labels exist only for `nodes`, so an edge with either
    * endpoint outside the node set contributes nothing to propagation
    * (it is silently dropped, same restriction [[pageRankE9]] applies);
    * callers whose edge lists aren't closed over `nodes` must union the
    * extra endpoints in first. Labels are initialized to the node id.
    * After step k
    * every node holds the minimum id within its k-hop neighborhood, so
    * the result converges to per-component min ids once `iterations`
    * reaches the largest component radius (from its min-id node) — and
    * is still a deterministic, engine-reproducible function of
    * (graph, iterations) before convergence, which is what lets a SQL
    * oracle unroll the same k steps and hash-match exactly.
    *
    * Scale shape (same discipline as [[pageRankE9]]):
    *  - one symmetrize + `localCheckpoint` of the edge set up front
    *    (re-read every step; without the cut each step re-unions);
    *  - each step is join-on-dst + `groupBy(src).min` — min is
    *    associative/idempotent, so map-side partial aggregation absorbs
    *    hub skew before the exchange, and the step count is the graph
    *    diameter, not the node count;
    *  - labels `localCheckpoint`ed every step (iterative-lineage cut);
    *  - isolated nodes never join and keep their own id — no special
    *    casing, no driver state. Near-dup contraction graphs are
    *    shallow (star-like), so small fixed budgets converge; callers
    *    needing certainty pick `iterations` ≥ the radius bound they
    *    can argue (e.g. [[Dedup.clusters]]' verified-edge chains).
    */
  def connectedComponentsMinLabel(edges: DataFrame, nodes: DataFrame,
                                  iterations: Int): DataFrame = {
    require(iterations >= 0)
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val labels0 = nodes.select(col("node"), col("node").as("component"))
      .localCheckpoint()
    // labels only decrease, so a step with no strict decrease is the
    // fixpoint and every later step is a no-op — exiting early returns
    // exactly the budgeted result (generous budgets are free).
    BspLoop.iterate("cc", labels0, iterations, sym) { (labels, _) =>
      // One union-fold per step (guide §2.4): the node's OWN label rides
      // as a marker row through the SAME min-merge aggregate the
      // neighbor labels fold through — min over the union IS
      // least(own, nbr_min), the previous value recovered from the
      // single marker row for change detection — so one Exchange per
      // step serves both the merge and the update.
      val nbr = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("component").as("cand"),
          lit(false).as("own"))
      val base = labels.select(col("node"), col("component").as("cand"),
        lit(true).as("own"))
      val nextPre = base.unionByName(nbr).groupBy(col("node"))
        .agg(min(col("cand")).as("component"),
          min(when(col("own"), col("cand"))).as("old"))
        // this operator does NOT induce-restrict `edges` (labels exist
        // only for `nodes`); a symmetrized edge whose src is outside the
        // node set groups here without a marker row and must stay out
        // of the label set
        .filter(col("old").isNotNull)
        .select(col("node"), col("component"),
          (col("component") < col("old")).as("chg"))
      BspLoop.Step(nextPre, Seq(count(when(col("chg"), 1))), done = _.head == 0L,
        next = (ck, _) => ck.select(col("node"), col("component")))
    }.state
  }

  /** Per-node core number (k-core decomposition) via iterated
    * neighborhood h-index (Lü, Zhou, Zhang & Stanley 2016, "The
    * H-index of a network node and its relation to degree and
    * coreness"): c₀(v) = deg(v); cₖ(v) = H({cₖ₋₁(u) : u ∈ N(v)}),
    * where H is the h-index — the largest h such that at least h
    * neighbors carry value ≥ h. The sequence is pointwise
    * non-increasing and converges to the coreness; a fixed iteration
    * count makes the partial state a deterministic integer function of
    * (graph, k) that a SQL oracle unrolls step for step. Runs over the
    * undirected simple closure of `edges` induced on `nodes` (the
    * curation signal: a document/domain's coreness in the link graph
    * separates densely-embedded boilerplate/spam clusters — high core —
    * from organically-linked content, and is the standard "dense
    * subgraph" prior alongside [[clusteringCoefficientPpm]]).
    *
    * Scale shape — the h-index is computed from the neighbor-value
    * HISTOGRAM, never a per-node sorted list: join values onto edges,
    * `groupBy(node, c).count` (map-side combine absorbs in-degree skew
    * — a celebrity node's million equal-valued neighbors collapse to
    * one partial per map task), a per-node cumulative window over at
    * most deg distinct values, then `max(least(c, n≥c))` — the
    * classical identity H = max_v min(v, #{values ≥ v}). Per-step state
    * is one long per node; no collect, no unbounded per-group buffer.
    * Same lineage discipline as [[pageRankE9]]: closure checkpointed
    * once, the value frame checkpointed every step. */
  def corenessHIndex(edges: DataFrame, nodes: DataFrame,
                     iterations: Int): DataFrame = {
    require(iterations >= 0)
    val nset = nodes.select(col("node"))
    val und = canonicalUndirected(edges, nset)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val cur0 = nset
      .join(undirectedDegree(und).select(col("n").as("node"), col("d")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("c"))
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nn")).orderBy(col("c").desc)
    // The h-index sequence is pointwise non-increasing, so "no row
    // decreased" IS the fixpoint and every later step is a no-op —
    // early exit returns exactly what the full budget would.
    BspLoop.iterate("kcore", cur0, iterations, sym) { (cur, _) =>
      // Union-fold (guide §2.4): the node's own value enters the
      // neighbor-value histogram as a ZERO-COUNT row. The cumulative
      // n_ge is a sum of counts, so a zero-count row changes no other
      // row's n_ge; its own h-candidate min(own_c, #neighbors ≥ own_c)
      // never exceeds the h-index (H = max over ALL thresholds t of
      // min(t, n≥t) — adding an evaluation point is sound); and an
      // isolated node's only row is (own_c, 0) ⇒ h = min(own_c, 0) = 0.
      // The previous value for change detection rides out of the same
      // aggregate via the zero-count marker, so the step needs no
      // cur-side join.
      val nbrVals = sym.join(cur, sym("dst") === cur("node"))
        .select(sym("src").as("nn"), col("c"), lit(1L).as("v"))
      val ownVal = cur.select(col("node").as("nn"), col("c"), lit(0L).as("v"))
      val hist = ownVal.unionByName(nbrVals)
        .groupBy(col("nn"), col("c"))
        .agg(sum(col("v")).as("cnt"), max(col("v") === 0L).as("has_own"))
      val nextPre = hist
        .withColumn("n_ge", sum(col("cnt")).over(w))
        .groupBy(col("nn"))
        .agg(max(least(col("c"), col("n_ge"))).as("h"),
          max(when(col("has_own"), col("c"))).as("own_c"))
        .select(col("nn").as("node"), col("h").as("c2"),
          (col("h") < col("own_c")).as("chg"))
      BspLoop.Step(nextPre, Seq(count(when(col("chg"), 1))), done = _.head == 0L,
        next = (ck, _) => ck.select(col("node"), col("c2").as("c")))
    }.state.select(col("node"), col("c").as("coreness"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    * with a DETERMINISTIC tie-break: l₀(v) = v; lₖ(v) = the label
    * occurring most often among neighbors' lₖ₋₁, smallest label on a
    * count tie, own label kept when v has no neighbors. Classic LPA
    * breaks ties randomly and updates asynchronously — fine for
    * community quality, useless for an oracle; the (count DESC,
    * label ASC) total order makes k synchronous steps a pure integer
    * function of (graph, k) that SQL unrolls exactly (the known
    * bipartite two-cycling of synchronous LPA is harmless under a
    * fixed step count — both engines land on the same side of the
    * cycle). Undirected simple closure induced on `nodes`; this is the
    * cheap community/mirror-cluster assignment a crawl corpus runs
    * when components ([[connectedComponentsMinLabel]]) are too coarse
    * (one giant web component) and modularity methods too heavy.
    *
    * Scale shape: per step, one join to ship labels onto edges, one
    * `groupBy(node, label).count` (map-side combine soaks up skew: a
    * node's million same-labeled neighbors pre-aggregate per map
    * task), then ONE more `groupBy(node)` taking
    * `max(struct(cnt, -label))` — the argmax-with-min-tie-break as a
    * single associative aggregate, no window, no sorted list. Two
    * shuffles per step on (long, long) keys; label frame checkpointed
    * every step. */
  def labelPropagationMinTie(edges: DataFrame, nodes: DataFrame,
                             iterations: Int): DataFrame = {
    val nset = nodes.select(col("node"))
    labelPropagationMinTieOver(canonicalUndirected(edges, nset), nset, iterations)
  }

  /** [[labelPropagationMinTie]] over an ALREADY-materialized canonical
    * closure — the assign-then-score compositions (modularity,
    * conductance) derive the closure ONCE and share it between the LPA
    * pass and the scoring aggregates instead of paying the semi-join +
    * distinct derivation twice. */
  private[graft] def labelPropagationMinTieOver(und: DataFrame, nset: DataFrame,
                                                iterations: Int): DataFrame = {
    require(iterations >= 0)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val labels0 = nset.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    BspLoop.iterate("lpa", labels0, iterations, sym) { (labels, _) =>
      // Union-fold (guide §2.4): the node's own label enters the vote
      // census as a ZERO-WEIGHT row — sum(v) counts only real neighbor
      // votes, so collisions with a voted label leave its count
      // unchanged, the (cnt DESC, label ASC) argmax is untouched
      // whenever any real vote exists (0 < 1), and an isolated node's
      // only row is its own zero-weight label, reproducing the
      // keep-own-label fallback with no labels-side join.
      val votes = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("nn"), col("label"), lit(1L).as("v"))
      val own = labels.select(col("node").as("nn"), col("label"), lit(0L).as("v"))
      BspLoop.Step(own.unionByName(votes)
        .groupBy(col("nn"), col("label")).agg(sum(col("v")).as("cnt"))
        .groupBy(col("nn"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("nn").as("node"), (-col("m.nl")).as("label")))
    }.state
  }

  /** Multi-source weighted shortest distances over the DIRECTED induced
    * subgraph: returns `(node, dist)` for every node reachable from
    * `sources(node)`, dist = the minimum total edge weight of any
    * directed path from any source (sources themselves at 0).
    * POSITIVE integer weights in `edges(src, dst, w)`; unreachable
    * nodes produce no row (the harmonic-centrality convention — no ∞
    * sentinel to leak into arithmetic). This is the crawl-depth /
    * link-distance-from-trusted-seeds prior (the distance-to-whitelist
    * feature TrustRank-style spam filtering pairs with [[pageRankE9]]'s
    * seeded rank), and the weighted generalization of a BFS frontier.
    *
    * Bellman-Ford-style synchronous relaxation on the BSP chassis:
    * each step ships `dist + w` along every out-edge of the reached
    * frontier and folds `groupBy(node).min` — min is associative and
    * idempotent (map-side combine under in-degree skew, re-delivery
    * harmless), the reached set only grows and distances only fall, so
    * a step that changes nothing is the fixpoint: early exit returns
    * exactly the full budget's answer, and an exhausted `maxIters`
    * FAILS LOUDLY (truncated relaxation yields plausible-looking but
    * non-minimal upper bounds — the worst kind of silent wrong).
    * A `maxIters` equal to the longest shortest-path hop count H is
    * sufficient: when the budget runs out un-converged, one extra
    * compare-only relaxation (no state mutation, not counted against
    * the budget) decides whether step `maxIters` already reached the
    * fixpoint — so the require fires only on genuinely truncated
    * relaxations. Step count is bounded by H, not |V|; per-iteration
    * localCheckpoint is the standard lineage cut. */
  def shortestDistances(edges: DataFrame, nodes: DataFrame,
                        sources: DataFrame, maxIters: Int): DataFrame = {
    require(maxIters >= 1)
    val nset = nodes.select(col("node"))
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .localCheckpoint()
    val dist0 = sources.select(col("node")).distinct()
      .join(nset, Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    val relax = BspLoop.iterate("sssp", dist0, maxIters, e) { (dist, _) =>
      val relaxed = e.join(dist, e("src") === dist("node"))
        .select(e("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(false).as("old"))
      // the previous distance rides through the SAME min-merge aggregate
      // (each node appears at most once in `dist`, so min-over-old-rows
      // IS the previous value): change detection costs no extra join —
      // one shuffle per step. Reached only grows, distances only fall,
      // so any new node or any strict decrease = not yet converged;
      // neither = fixpoint.
      BspLoop.Step(
        dist.withColumn("old", lit(true)).unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"),
            min(when(col("old"), col("dist"))).as("od")),
        Seq(count(when(col("od").isNull || col("dist") < col("od"), 1))),
        done = _.head == 0L,
        next = (merged, _) => merged.select(col("node"), col("dist")))
    }
    val dist = relax.state
    // Budget exhausted with the last step still producing changes: the
    // state may nonetheless be final (converged-at-exactly-H). One
    // compare-only relaxation decides — no mutation, so a true fixpoint
    // passes with maxIters = H instead of demanding H+1.
    val converged = relax.stopped || e.join(dist, e("src") === dist("node"))
      .select(e("dst").as("node"), (col("dist") + col("w")).as("probe"))
      .join(dist.select(col("node"), col("dist").as("od")), Seq("node"), "left")
      .filter(col("od").isNull || col("probe") < col("od"))
      .isEmpty
    require(converged,
      s"shortest-path relaxation hit the $maxIters-step budget before its " +
        "fixpoint — distances would be non-minimal upper bounds; raise maxIters " +
        "to at least the longest shortest-path hop count")
    dist
  }

  /** Strongly connected components over the DIRECTED induced subgraph
    * of `edges(src, dst)` on `nodes(node)`: returns `(node, scc_id)`
    * with scc_id = the minimum node id in the component. Exact — runs
    * the forward/backward min-label pairing rounds to completion and
    * FAILS LOUDLY (require) on EITHER exhausted budget: `maxRounds`
    * with nodes still unassigned, or `propagationIters` before a
    * round's propagation fixpoint (an unconverged frame could split a
    * component across rounds) — an under-budgeted call can never
    * return a silently-partial or silently-split labeling.
    *
    * Algorithm (the label-pairing form of the coloring/MultiStep family
    * — Orzan 2004; Slota, Rajamanickam & Madduri 2014): per round, over
    * the still-active subgraph propagate to fixpoint
    * {{{
    *   F(v) = min({v} ∪ {labels of active ancestors of v})
    *   B(v) = min({v} ∪ {labels of active descendants of v})
    * }}}
    * A node with F(v) = B(v) = m is mutually reachable with m (m
    * reaches v and v reaches m), so it belongs to SCC(m) — assign it
    * and peel it from the active set. Every round assigns at least the
    * SCC of each active weak component's minimum node, so the round
    * count is bounded by the longest label-alternating chain in the
    * condensation DAG, not by |V|. On real web/link graphs the
    * condensation is shallow around one giant SCC (the bow-tie
    * structure), so a handful of rounds suffices — the MultiStep
    * observation; adversarial long-chain condensations are the
    * documented worst case and hit the loud `require` instead of
    * burning unbounded driver loops.
    *
    * Scale shape (the [[pageRankE9]] discipline):
    *  - Both propagations run in ONE pass per step: the edge set is
    *    materialized ONCE as a direction-tagged bidirectional list
    *    (src→dst carrying `fw`, dst→src carrying `bw`), so each step
    *    is ONE join shipping (f, b) labels along it and ONE
    *    `groupBy(node).agg(min(f where fw), min(b where bw))` — min
    *    ignores the nulls the opposite direction contributes, and its
    *    associativity gives map-side partial aggregation under hub
    *    skew. (The fused form halves the per-step job count vs
    *    separate forward/backward joins — measured 2× on the declared
    *    fixture, where per-step scheduling overhead dominates.)
    *  - `propagationIters` is a per-round upper BUDGET ≥ the longest
    *    min-label path the caller can argue (SCC diameter + condensation
    *    depth). A round exits as soon as a step changes nothing: labels
    *    only decrease, so each step marks rows whose (f, b) strictly
    *    dropped and a count of them, observed on the step's own
    *    materialization, detects the fixpoint — generous budgets
    *    cost nothing, and later rounds (small peeled subgraphs with
    *    small diameters) stop in a handful of steps. Early exit at the
    *    fixpoint returns the identical labeling the full budget would.
    *  - The label frame is `localCheckpoint`ed every step, the active
    *    edge set once per round after peeling (each round's joins then
    *    read a materialized, shrunken edge table).
    *  - Peeling is two anti/semi-joins (nodes, then edges on both
    *    endpoints) — no driver-side membership sets.
    */
  def stronglyConnectedComponents(edges: DataFrame, nodes: DataFrame,
                                  propagationIters: Int,
                                  maxRounds: Int = 16): DataFrame = {
    require(propagationIters >= 1 && maxRounds >= 1)
    val nset = nodes.select(col("node"))
    var (active, Seq(remaining)) =
      BspLoop.checkpointObserved(nset, count(lit(1)))
    val e = edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct()
    // direction-tagged bidirectional edge list, materialized once:
    // u→v rows tagged fw=true ship F labels forward, the reversed rows
    // ship B labels backward — one join per step serves both
    var bi = e.select(col("src").as("u"), col("dst").as("v"), lit(true).as("fw"))
      .unionByName(
        e.select(col("dst").as("u"), col("src").as("v"), lit(false).as("fw")))
      .localCheckpoint()
    // schema-polymorphic empty accumulator: same id type as `nodes`
    var assigned = nset.select(col("node"), col("node").as("scc_id")).limit(0)
    def roundLabels() = active
      .select(col("node"), col("node").as("f"), col("node").as("b"))
      .localCheckpoint()
    var round = 1
    var roundStep = 0
    // Closes a converged round: assigns every node with F = B, peels
    // them from the active set and the edge list, and opens the next
    // round's labels (or returns the final frame when none are left).
    def peel(labels: DataFrame): DataFrame = {
      val peeled = labels.filter(col("f") === col("b"))
        .select(col("node"), col("f").as("scc_id"))
      assigned = assigned.unionByName(peeled).localCheckpoint()
      val (ack, Seq(nActive)) = BspLoop.checkpointObserved(
        active.join(peeled.select("node"), Seq("node"), "left_anti"),
        count(lit(1)))
      active = ack
      remaining = nActive
      if (remaining == 0) labels
      else {
        round += 1
        require(round <= maxRounds,
          s"SCC did not converge in $maxRounds rounds ($remaining nodes left) — " +
            "raise maxRounds (long chain in the condensation DAG) or propagationIters")
        bi = bi.join(active.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(active.select(col("node").as("v")), Seq("v"), "left_semi")
          .localCheckpoint()
        roundStep = 0
        roundLabels()
      }
    }
    // The rounds run flat on ONE chassis loop, so peeling shares the
    // loop posture: every step is one propagation step, and the step
    // that changes nothing closes its round with a peel. Both budgets
    // fail loudly in the step's `next`, so the chassis budget itself
    // never binds.
    if (remaining > 0)
      BspLoop.iterate("scc", roundLabels(), Int.MaxValue, bi) { (labels, _) =>
        // Union-fold (guide §2.4, the connectedComponentsMinLabel
        // pattern): the node's own (f, b) pair rides as a marker row
        // through the SAME min-merge aggregate as the direction-tagged
        // messages — min over the union IS least(own, incoming), the
        // previous pair recovered from the single marker row for change
        // detection — so the step needs no labels-side join.
        val msgs = bi.join(labels, bi("u") === labels("node"))
          .select(col("v").as("node"),
            when(col("fw"), col("f")).as("mf"),
            when(!col("fw"), col("b")).as("mb"),
            lit(false).as("own"))
        val base = labels.select(col("node"), col("f").as("mf"),
          col("b").as("mb"), lit(true).as("own"))
        val nextPre = base.unionByName(msgs).groupBy(col("node"))
          .agg(min(col("mf")).as("f"), min(col("mb")).as("b"),
            min(when(col("own"), col("mf"))).as("of"),
            min(when(col("own"), col("mb"))).as("ob"))
          .select(col("node"), col("f"), col("b"),
            (col("f") < col("of") || col("b") < col("ob")).as("chg"))
        BspLoop.Step(nextPre, Seq(count(when(col("chg"), 1))),
          done = _ => remaining == 0, next = { (ck, nChg) =>
            roundStep += 1
            // an unconverged F/B frame could assign v to SCC(m) while
            // the true SCC minimum m* < m hadn't propagated to v yet — a
            // SPLIT component, silently wrong — so exactness demands the
            // fixpoint
            require(nChg.head == 0L || roundStep < propagationIters,
              s"SCC propagation hit the $propagationIters-step budget before its " +
                s"fixpoint (round $round) — raise propagationIters above the " +
                "active subgraph's SCC diameter + condensation depth")
            if (nChg.head > 0L) ck else peel(ck)
          })
      }
    assigned
  }

  /** Pivot-sampled betweenness centrality (Brandes 2001 "A Faster
    * Algorithm for Betweenness Centrality", pivot sampling per
    * Brandes & Pich 2007 "Centrality Estimation in Large Networks"):
    * BC(v) ≈ (N/K)·Σ_{s ∈ pivots} δ_s(v), each pivot's dependency
    * computed EXACTLY by the two-phase Brandes pass over the DIRECTED
    * induced subgraph, horizon-bounded at `maxDist` (the
    * harmonic-centrality truncation convention — paths longer than the
    * horizon contribute nothing, no ∞ to leak).
    *
    * Both phases ride the BSP chassis. Forward: frontier rows
    * (pivot, node, dist, σ) — a step expands along out-edges,
    * `groupBy(pivot, dst).sum(σ)` merges equal-length path counts
    * (map-side combine under in-degree skew), an anti-join against the
    * settled set keeps first-reach rows only; early exit on an empty
    * frontier. Backward, level by level from the deepest: the classic
    * accumulation δ(v) = Σ_{w: v→w, d(w)=d(v)+1} (σ_v/σ_w)(1 + δ(w)),
    * in ppm fixed point — `σ_v·(10⁶ + δ_w) DIV σ_w` summed as integers,
    * so the result is a deterministic, engine-reproducible function of
    * (graph, pivots, maxDist): truncation loses < 1 ppm per term and
    * is order-independent, unlike a Double accumulation.
    *
    * Scale shape: state is O(K·N) pair rows (one per pivot×reached
    * node) — the pivot-sampling trade that replaces exact Brandes'
    * all-sources O(N²); per-step cost is one equi-join + one combine
    * aggregate; per-iteration localCheckpoint is the standard lineage
    * cut, keeping the plan constant in the step count. N and K are two
    * bounded driver scalars (the pageRank-N class). Returns
    * (node, betweenness_ppm) with the N/K scale applied in integer
    * arithmetic; pivots = all nodes makes it EXACT betweenness (up to
    * the documented ppm truncation). */
  def betweennessBrandesPpm(edges: DataFrame, nodes: DataFrame,
                            pivots: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1)
    val nset = nodes.select(col("node"))
    val e = edges.select(col("src"), col("dst"))
      .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct().localCheckpoint()
    val p0 = pivots.select(col("node")).distinct()
      .join(nset, Seq("node"), "left_semi").localCheckpoint()
    val n = nset.count()
    val k = p0.count()
    require(n > 0 && k > 0, "empty node or pivot set")
    // Per-LEVEL checkpointed frames, indexed by depth — the backward
    // sweep addresses levels directly instead of filtering a monolithic
    // settled frame, and the settled set for the forward fold is a
    // [[SettledUnion]] of them.
    val levelFrames = scala.collection.mutable.ArrayBuffer(
      p0.select(col("node").as("pivot"), col("node"), lit(1L).as("sigma"))
        .localCheckpoint())
    val settled = new SettledUnion(levelFrames(0).select(col("pivot"), col("node")))
    BspLoop.iterate("betweenness_fwd", levelFrames(0), maxDist, e) { (prev, _) =>
      // Union-fold (guide §2.4, the bfsPairs pattern): settled pairs
      // ride the σ-merge aggregate as null-σ marker rows — sum(sigma)
      // ignores them, max(old) flags the pair, and the filter keeps
      // exactly the first-reach rows an anti-join would, for one
      // Exchange instead of two.
      val freshPre = prev.join(e, prev("node") === e("src"))
        .select(col("pivot"), e("dst").as("nn"), col("sigma"),
          lit(false).as("old"))
        .unionByName(settled.frame.select(col("pivot"), col("node").as("nn"),
          lit(null).cast("long").as("sigma"), lit(true).as("old")))
        .groupBy(col("pivot"), col("nn"))
        .agg(sum(col("sigma")).as("sigma"), max(col("old")).as("old"))
        .filter(!col("old"))
        .select(col("pivot"), col("nn").as("node"), col("sigma"))
      BspLoop.Step(freshPre, Seq(count(lit(1))), done = _.head == 0L,
        next = { (fresh, nFresh) =>
          if (nFresh.head > 0L) {
            levelFrames += fresh
            settled.add(fresh.select(col("pivot"), col("node")))
          }
          fresh
        })
    }
    // Backward level sweep, FUSED (guide §2.4): each level's σ values
    // ride the SAME groupBy that folds the δ contributions, as
    // zero-information marker rows (term NULL — sum ignores them; every
    // (pivot, node) pair is settled exactly once, so max over the single
    // marker recovers σ), and the aggregate emits (pivot, node, σ, δ)
    // directly — `down` — which the next level consumes with no
    // σ-attach join (one exchange per level fewer). A node with no
    // qualifying out-edges surfaces with δ = NULL and is filtered out of
    // `levels`; its coalesced δ = 0 rides into `down`.
    val depth = levelFrames.size - 1
    val down0 = levelFrames(depth)
      .select(col("pivot"), col("node").as("w"), col("sigma").as("sw"),
        lit(0L).as("dw"))
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    BspLoop.iterate("betweenness_back", down0, depth, e, levelFrames(0)) { (down, k) =>
      val vs = levelFrames(depth - k)
        .select(col("pivot"), col("node").as("v"), col("sigma").as("sv"))
      val terms = vs.join(e, vs("v") === e("src"))
        .select(col("pivot"), col("v"), col("sv"), e("dst").as("w"))
        .join(down, Seq("pivot", "w"))
        .select(col("pivot"), col("v"),
          expr("sv * (1000000L + dw) DIV sw").as("t"),
          lit(null).cast("long").as("sv_m"))
      BspLoop.Step(vs.select(col("pivot"), col("v"),
          lit(null).cast("long").as("t"), col("sv").as("sv_m"))
        .unionByName(terms)
        .groupBy(col("pivot"), col("v"))
        .agg(sum(col("t")).as("delta_ppm"), max(col("sv_m")).as("sv")),
        next = { (fused, _) =>
          levels += fused.filter(col("delta_ppm").isNotNull)
            .select(col("pivot"), col("v").as("w"), col("delta_ppm"))
          fused.select(col("pivot"), col("v").as("w"), col("sv").as("sw"),
            coalesce(col("delta_ppm"), lit(0L)).as("dw"))
        })
    }
    val acc =
      if (levels.isEmpty)
        nset.limit(0).select(col("node").as("pivot"), col("node").as("w"),
          lit(0L).as("delta_ppm"))
      else levels.reduce(_ unionByName _)
    val bc = acc.filter(col("w") =!= col("pivot"))   // δ_s(s) never counts
      .groupBy(col("w").as("node"))
      .agg(sum(col("delta_ppm")).as("s"))
    nset.join(bc, Seq("node"), "left")
      .select(col("node"),
        expr(s"(coalesce(s, 0L) * ${n}L) DIV ${k}L").as("betweenness_ppm"))
  }

  /** Newman modularity of a community labeling, exact integer ppm —
    * the quality measure that closes the community family: LPA/CC
    * ASSIGN communities, this SCORES the assignment, the number a
    * curation pipeline thresholds before trusting mirror-clusters.
    * Over the canonical undirected simple closure with m edges,
    * per-community intra-edge count e_c and degree sum d_c,
    * {{{ Q = Σ_c (e_c/m − (d_c/2m)²) = (Σ_c (4·m·e_c − d_c²)) / (4m²) }}}
    * cleared to the integer rational `q_ppm = 10⁶·num div (4m²)`
    * computed in arbitrary-precision DRIVER arithmetic over two
    * bounded scalars (10⁶·num overflows i64 past m ≈ 3·10⁴ — BigInt
    * sidesteps the whole envelope; the oracle's HUGEINT mirrors it).
    * `num ≥ 0` is REQUIRED loudly: Spark's DIV truncates toward zero
    * while SQL `//` floors, so a negative-modularity labeling would
    * silently diverge engines by one ulp instead of failing.
    * Returns one row per community (label, n_nodes, intra_edges,
    * degree_sum) with the global q_ppm attached — per-community
    * metrics are two hash aggregates over the edge list (map-side
    * combine under degree skew), never an all-pairs form. */
  def modularityPpm(edges: DataFrame, nodes: DataFrame,
                    labels: DataFrame): DataFrame =
    modularityPpmOver(
      canonicalUndirected(edges, nodes.select(col("node"))), labels)

  /** [[modularityPpm]] over an ALREADY-materialized canonical closure
    * (see [[labelPropagationMinTieOver]]). */
  private[graft] def modularityPpmOver(und: DataFrame,
                                       labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a"), col("label").as("l_a"))
    val lb = labels.select(col("node").as("b"), col("label").as("l_b"))
    val intra = und.join(la, "a").join(lb, "b")
      .filter(col("l_a") === col("l_b"))
      .groupBy(col("l_a").as("label")).agg(count(lit(1)).as("intra_edges"))
    val comm = labels
      .join(undirectedDegree(und), labels("node") === col("n"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("d")), lit(0L)).as("degree_sum"))
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
      .localCheckpoint()   // two consumers: the rows + the global total
    val m = und.count()
    require(m > 0, "modularityPpm: empty undirected edge set — Q undefined")
    // DECIMAL(38,0) sums: d_c² ≤ 4m² wraps i64 past m ≈ 1.5·10⁹ edges
    val num = BigInt(comm.agg((sum(col("intra_edges").cast("decimal(38,0)")) * 4L * m -
        sum(col("degree_sum").cast("decimal(38,0)") * col("degree_sum"))).as("num"))
      .head().getDecimal(0).toBigInteger)
    require(num >= 0,
      s"modularityPpm: negative modularity numerator $num — truncating " +
        "DIV and flooring // disagree below zero; use a floor division " +
        "on both sides before scoring anti-community labelings")
    val qPpm = (BigInt(1000000) * num / (BigInt(4) * m * m)).toLong
    comm.withColumn("q_ppm", lit(qPpm)).orderBy("label")
  }

  /** Per-community conductance in exact integer ppm — modularity's
    * complement ([[modularityPpm]] scores the whole labeling; THIS
    * localizes the verdict, the per-cluster cut quality a curation
    * pipeline thresholds to keep tight mirror-clusters and discard
    * porous ones). Over the canonical undirected simple closure with
    * m edges, per-community cut count (edges with exactly one endpoint
    * inside) and volume d_c (degree sum),
    * {{{ φ(c) = cut_c / min(d_c, 2m − d_c) }}}
    * cleared to `phi_ppm = 10⁶·cut_c div min(d_c, 2m − d_c)` in
    * DECIMAL(38,0) (10⁶·cut wraps i64 past m ≈ 4.6·10¹²; both engines
    * divide non-negative operands, where DIV ≡ floor). The divisor is
    * REQUIRED positive loudly for every community: a zero means an
    * edgeless community (φ undefined) or the all-one-community
    * labeling (2m − d_c = 0) — fail, never divide. Each cut edge
    * counts toward BOTH endpoint communities (the standard per-cluster
    * definition). Shape: two hash aggregates over the labeled edge
    * list (map-side combine under skew), never all-pairs. Returns
    * (label, n_nodes, cut_edges, degree_sum, phi_ppm). */
  def conductancePpm(edges: DataFrame, nodes: DataFrame,
                     labels: DataFrame): DataFrame =
    conductancePpmOver(
      canonicalUndirected(edges, nodes.select(col("node"))), labels)

  /** [[conductancePpm]] over an ALREADY-materialized canonical closure
    * (see [[labelPropagationMinTieOver]]). */
  private[graft] def conductancePpmOver(und: DataFrame,
                                        labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a"), col("label").as("l_a"))
    val lb = labels.select(col("node").as("b"), col("label").as("l_b"))
    val cut = und.join(la, "a").join(lb, "b")
      .filter(col("l_a") =!= col("l_b"))
      .select(explode(array(col("l_a"), col("l_b"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cut_edges"))
    val m = und.count()
    require(m > 0, "conductancePpm: empty undirected edge set — φ undefined")
    val comm = labels
      .join(undirectedDegree(und), labels("node") === col("n"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("d")), lit(0L)).as("degree_sum"))
      .join(cut, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        col("degree_sum"),
        least(col("degree_sum"), lit(2L * m) - col("degree_sum")).as("den"))
      .localCheckpoint()   // two consumers: the divisor guard + the rows
    val minDen = comm.agg(min(col("den"))).head().getLong(0)
    require(minDen > 0,
      s"conductancePpm: a community has min(vol, 2m−vol) = $minDen — an " +
        "edgeless community or the all-one-community labeling has no " +
        "conductance; fix the labeling, never divide by zero")
    comm.withColumn("phi_ppm",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cut_edges) " +
          "DIV CAST(den AS DECIMAL(38,0)) AS BIGINT)"))
      .drop("den")
      .orderBy("label")
  }

  /** Kleinberg HITS (hubs & authorities, SIAM JCOMP 1999) as the
    * engine-portable integer fixed point on the [[pageRankE9]] BSP
    * chassis: per step the mutual update
    * `a(v) = Σ_{u→v} h(u)` then `h(u) = Σ_{u→v} a(v)`, each side
    * L∞-NORMALIZED (divide by the step's max, the classic power-
    * iteration stabilization — chosen over L1/L2 because an integer
    * max-divide stays exact where a sqrt cannot) into ppm units, so
    * every score lives in [0, 10⁶] with the step's best hub/authority
    * pinned at exactly 10⁶ and the iteration can never overflow or
    * drift. The normalizing products run in DECIMAL(38,0)
    * (`s·10⁶ ≤ 10¹²·N` exceeds i64 past N ≈ 10⁷ — the pageRankE9
    * `wide` treatment, unconditional here), landing back in BIGINT
    * via DIV.
    *
    * Scale shape: each step is TWO of the chassis's canonical BSP
    * shuffles (edges⋈scores on one endpoint, then groupBy the other
    * with map-side combine absorbing degree skew), each materialized
    * with its L∞ max observed on the same job; the normalization then
    * divides by that max as a LITERAL in a lazy projection over the
    * materialized sums (the pageRank dangling-mass treatment), so the
    * max costs no job, broadcast or cross join. Per-step
    * localCheckpoints cut lineage so step N+1's plan never replans
    * step N. Induced-subgraph restriction and the fail-loud empty-
    * edge guard follow the chassis conventions (an empty edge list
    * would put a 0 in the normalizing divisor — reject it, never
    * divide). Returns (node, hub_ppm, auth_ppm). */
  def hitsPpm(edges: DataFrame, nodes: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "HITS needs at least one mutual update")
    val Scale = 1000000L
    val nset = nodes.select(col("node"))
    val (e, Seq(nE)) = BspLoop.checkpointObserved(
      edges.select(col("src"), col("dst"))
        .join(nset.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(nset.select(col("node").as("dst")), Seq("dst"), "left_semi"),
      count(lit(1)))
    require(nE > 0,
      "hitsPpm: empty induced edge list — the normalizing max would be " +
        "0; HITS is undefined on an edgeless graph")
    val normExpr = (raw: String, mx: Long) =>
      expr(s"CAST((CAST(coalesce($raw, 0L) AS DECIMAL(38,0)) * $Scale) DIV ${mx}L AS BIGINT)")
    val hub0 = nset.select(col("node"), lit(Scale).as("h")).localCheckpoint()
    var auth = nset.select(col("node"), lit(0L).as("a"))
    // SPARSE score frames (guide §2.3 — shuffle fewer bytes): the loop
    // carries scores ONLY for nodes the aggregates produce (auth on
    // nodes with in-edges, hub on nodes with out-edges). A node absent
    // from the frame scores EXACTLY 0 — it contributes 0 to every
    // downstream sum whether the edge row joins a 0 or is dropped — so
    // no step re-shuffles the full node set to complete the frames;
    // every node is completed ONCE at exit via coalesce-0 left joins.
    // The per-step max is always attained by a strictly positive sum
    // (e non-empty ⇒ some authority sum > 0 ⇒ some hub sum > 0,
    // inductively), so the sparse frames keep it. The max is a bounded
    // driver scalar (i64 — raw sums are ≤ 1e6·N before normalization).
    // The authority half is materialized inside the step (its max must
    // be known before the hub half can read it); the hub half is the
    // step's own materialization.
    val hub = BspLoop.iterate("hits", hub0, iterations, e) { (hub, _) =>
      val (aRaw, Seq(aMax)) = BspLoop.checkpointObserved(
        e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst")).agg(sum(col("h")).as("ar")),
        coalesce(max(col("ar")), lit(0L)))
      auth = aRaw.select(col("dst").as("node"), normExpr("ar", aMax).as("a"))
      BspLoop.Step(e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src")).agg(sum(col("a")).as("hr")),
        Seq(coalesce(max(col("hr")), lit(0L))),
        next = (hRaw, hMax) =>
          hRaw.select(col("src").as("node"), normExpr("hr", hMax.head).as("h")))
    }.state
    nset.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_ppm"),
        coalesce(col("a"), lit(0L)).as("auth_ppm"))
  }
}
