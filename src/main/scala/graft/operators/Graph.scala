package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph statistics over an edge list — the co-occurrence
  * graphs this engine already produces (near-dup pair sets, market-
  * basket pairs, audience overlaps) invite exactly these questions:
  * how clustered is the graph, and which nodes sit in dense cliques.
  *
  * The iterative operators share one skeleton. Every loop keeps its
  * state through one [[graft.Par.LoopState]] (the size-derived width,
  * re-measured once after the first action, and the `reliable`
  * lineage cut), and the undirected ones build their edges with one
  * [[bothDirections]] explode. The four PageRanks are one
  * [[powerIteration]], each supplying only its node frame, initial
  * rank, contribution aggregate and next rank; [[bfsDistance]] and
  * [[ssspWeighted]] are one [[relax]], stepping `+ 1` or `+ w`.
  * [[kCore]], [[hitsFixedPoint]] and [[labelPropagation]] keep their
  * own round bodies. [[triangleStats]] and [[localClustering]] share
  * one degree-oriented wedge frame.
  */
object Graph {

  /** Canonical undirected edges: a < b, distinct, no self-loops. */
  private def canon(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(least(col(a), col(b)).as("a"),
        greatest(col(a), col(b)).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** Triangle count via degree orientation (the MapReduce-classic
    * Suri–Vassilvitskii "Counting triangles and the curse of the last
    * reducer", WWW'11): orient every undirected edge from its lower
    * endpoint to its higher endpoint under the (degree, id) total
    * order, build wedges only from each node's OUT-neighbors, and
    * close them against the oriented edge set. Each triangle has
    * exactly one node whose two triangle edges both point out (the
    * (degree, id)-minimum corner), so it is counted exactly once —
    * and out-degrees are bounded by O(√E): a degree-d hub's edges
    * almost all point INTO it, so the hub generates O(E) wedges, not
    * d² — the "curse of the last reducer" the naive node-grouped
    * wedge build dies of on any real (power-law) graph.
    *
    * Three shuffles on node keys (degree agg, two wedge/closure
    * joins); the wedge frame — the size driver — carries bare id
    * pairs. Returns one row: nodes, edges, triangles, and the global
    * clustering coefficient 3·Δ/#wedges (round(6); wedge count from
    * the same degree frame, Σ d·(d−1)/2).
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (e, deg, wedges) = orientedWedges(edges, aCol, bCol, "d")
    // close against the undirected canonical edge set (orientation of
    // the closing edge is irrelevant — e is canonical a<b = x<y)
    val tri = wedges.select(col("x"), col("y")).join(e,
        col("x") === col("a") && col("y") === col("b"), "left_semi")
      .count()
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("double").as("__wedges"))
    stats.select(col("n_nodes"), col("n_edges"), lit(tri).as("n_triangles"),
      when(col("__wedges") > 0,
        round(lit(3.0) * lit(tri.toDouble) / col("__wedges"), 6))
        .otherwise(lit(0.0)).as("clustering_coef"))
  }

  /** Per-node LOCAL clustering coefficient (Watts & Strogatz '98 —
    * the node-level readout [[triangleStats]]'s global coefficient
    * averages away: "how clique-like is THIS node's neighborhood",
    * the community-membership / spam-farm signal): lcc(v) =
    * 2·t(v) / (d(v)·(d(v)−1)) with t(v) the triangles through v.
    *
    * Same degree-orientation discipline as [[triangleStats]] (each
    * triangle MATERIALIZED exactly once as an oriented wedge whose
    * closing edge exists — out-degree O(√E), no last-reducer
    * hotspot), then each closed triangle credits its THREE corners
    * via one explode; per-node counts and the canonical-edge degrees
    * meet in one node-keyed join. Exact integer arithmetic
    * throughout; degree-<2 nodes report lcc null (undefined), 0-
    * triangle nodes 0.
    */
  def localClustering(edges: DataFrame, aCol: String,
                      bCol: String): DataFrame = {
    val (e, deg, wedges) = orientedWedges(edges, aCol, bCol, "degree")
    // inner close (not semi): the triple itself is needed to credit
    // all three corners
    val tris = wedges.join(e,
        col("x") === col("a") && col("y") === col("b"))
      .select(explode(array(col("u"), col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    deg.join(tris, Seq("n"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("n"), col("degree"), col("n_tri"),
        round(when(col("degree") >= 2,
          lit(2.0) * d(col("n_tri"))
            / (d(col("degree")) * (d(col("degree")) - lit(1.0)))), 6)
          .as("lcc"))
  }

  /** The degree-oriented wedges [[triangleStats]] and
    * [[localClustering]] share: the canonical edges (a, b), persisted;
    * the degree frame (n, `d`); and the wedges (u, x, y), x < y, of
    * each oriented out-source u — every edge oriented from its lower
    * to its higher endpoint under the (degree, id) order, so each
    * candidate closing edge (x, y) is queried once, canonically.
    */
  private def orientedWedges(edges: DataFrame, aCol: String, bCol: String,
                             d: String): (DataFrame, DataFrame, DataFrame) = {
    val e = graft.Par.persistTracked(canon(edges, aCol, bCol))
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as(d))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col(d).as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col(d).as("db")), Seq("b"))
    val low = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.Par.persistTracked(withDeg.select(
      when(low, col("a")).otherwise(col("b")).as("u"),
      when(low, col("b")).otherwise(col("a")).as("v")))
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
    (e, deg, wedges)
  }

  /** PageRank over an undirected edge list (r8-w4) — "which parts /
    * documents / users sit at the center of the co-occurrence graph":
    * the damped power iteration r′(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg(u)
    * for a FIXED iteration count (10 rounds reaches ~1e-3 residual at
    * d=0.85 on connected graphs; a fixed count keeps the job graph
    * static and the cost predictable — the batch-pipeline contract,
    * vs convergence-tested loops whose round count is data-dependent).
    * One of the four variants of [[powerIteration]]; undirected edges
    * are exploded to both directions, so every node with an edge has
    * out-degree ≥ 1 — no dangling-mass term. `reliable` picks the
    * cluster-durable lineage cut ([[graft.Par.LoopState]]), mirroring
    * [[Dedup.connectedComponents]]'s flag.
    *
    * Float caveat, stated: per-node sums add in partition order, so
    * ranks are deterministic only up to double rounding — the graded
    * query is rows-only and PageRankSpec pins the semantics against a
    * driver-side reference power iteration (1e-9 tolerance) plus the
    * structural invariants (Σr = 1, hub dominance, symmetry).
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iterations: Int = 10, damping: Double = 0.85,
               reliable: Boolean = false): DataFrame =
    powerIteration(canon(edges, aCol, bCol), iterations, reliable, "rank", "deg")(
        degreeNodes) { nodes =>
      val n = nodes.count()
      require(n > 0, "pageRank needs at least one edge")
      Ranking(lit(1.0 / n), sum(col("rank") / col("deg")),
        lit((1.0 - damping) / n) + lit(damping) * coalesce(col("__c"), lit(0.0)))
    }

  /** Fixed-point-arithmetic PageRank twin of [[pageRank]] (r9): ranks
    * held as LONG micro-units (scale 1e12), contributions as integer
    * division `rank div deg`, damping as the exact rational 85/100 —
    * every per-round operation is integer add/multiply/divide, so the
    * result is a pure function of the edge set, independent of
    * partition order (long sums are exact and associative, unlike the
    * double sums that make [[pageRank]] rows-only). The identical
    * recurrence replays in any SQL engine with BIGINT `div`, so the
    * graded query is hash-checked end to end — the md5-twin
    * discipline applied to an iterative operator.
    *
    * Numerics: total mass starts at ~1e12 (floor losses of < n units
    * per round), per-node rank ≤ 1e12, and the damping step's
    * intermediate `85 * sum` is ≤ 8.5e13 ≪ 2^63 — no overflow at any
    * graph size whose node count fits a long. Precision is 1e-12 of
    * total mass, far below any ranking-relevant difference.
    */
  def pageRankFixedPoint(edges: DataFrame, aCol: String, bCol: String,
                         iterations: Int = 10,
                         reliable: Boolean = false): DataFrame =
    powerIteration(canon(edges, aCol, bCol), iterations, reliable, "rank_fp", "deg")(
        degreeNodes) { nodes =>
      val n = nodes.count()
      require(n > 0, "pageRankFixedPoint needs at least one edge")
      Ranking(lit(RankScale / n), sum(expr("rank_fp div deg")), lit(15L * RankScale / 100L / n) + damped)
    }

  /** WEIGHTED fixed-point PageRank (r9-cont): contributions split
    * proportionally to integer edge weights — r·w div W(u) with
    * W(u) = Σ out-weights — instead of uniformly over the degree.
    * On the co-purchase graph the natural weight is the number of
    * shared orders: a pair bought together 50 times should pull
    * more rank than a one-off. Same exact-integer portability as
    * [[pageRankFixedPoint]] (the intermediate r·w needs
    * w < 2^63/scale ≈ 9.2e6 — any realistic co-occurrence count) and
    * graded hash-green contract. Duplicate / reversed input pairs are
    * canonicalized by SUMMING their weights.
    */
  def pageRankFixedPointWeighted(edges: DataFrame, aCol: String, bCol: String,
                                 weightCol: String, iterations: Int = 10,
                                 reliable: Boolean = false): DataFrame = {
    val e = edges.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") < col("b") && col("w") > 0)
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    powerIteration(e, iterations, reliable, "rank_fp", "tw", "w")(
        _.groupBy(col("src")).agg(sum(col("w")).as("tw"))
          .select(col("src").as("node"), col("tw"))) { nodes =>
      val n = nodes.count()
      require(n > 0, "pageRankFixedPointWeighted needs at least one edge")
      Ranking(lit(RankScale / n), sum(expr("(rank_fp * w) div tw")),
        lit(15L * RankScale / 100L / n) + damped)
    }
  }

  /** PERSONALIZED fixed-point PageRank (r9-cont): the teleport mass
    * restarts at a SEED set instead of uniformly — "what's central
    * relative to THESE nodes", the related-items primitive (random
    * walk with restart). Seeds get base = (15%·scale div |seeds|)
    * each round and the initial mass; non-seeds start at 0 and only
    * accumulate propagated rank. Same exact-integer portability as
    * [[pageRankFixedPoint]]; the seed set is a (small) DataFrame
    * joined once into the node frame — never a driver collect of the
    * graph.
    */
  def personalizedPageRankFixedPoint(edges: DataFrame, aCol: String, bCol: String,
                                     seeds: DataFrame, seedCol: String,
                                     iterations: Int = 10,
                                     reliable: Boolean = false): DataFrame = {
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    powerIteration(canon(edges, aCol, bCol), iterations, reliable, "rank_fp", "deg")(
        degreeNodes(_)
          .join(seedSet.withColumn("__is_seed", lit(true)), Seq("node"), "left")
          .withColumn("__is_seed", coalesce(col("__is_seed"), lit(false)))) { nodes =>
      val nSeeds = nodes.filter(col("__is_seed")).count()
      require(nSeeds > 0, "no seed is a node of the graph")
      Ranking(when(col("__is_seed"), lit(RankScale / nSeeds)).otherwise(lit(0L)),
        sum(expr("rank_fp div deg")),
        when(col("__is_seed"), lit(15L * RankScale / 100L / nSeeds)).otherwise(lit(0L)) + damped)
    }
  }

  /** Fixed-point rank scale: 1e12 µ-units of total mass. */
  private val RankScale = 1000000000000L

  /** The fixed-point damping step, 85/100 of the summed contribution. */
  private def damped: Column = expr("(85 * coalesce(__c, CAST(0 AS BIGINT))) div 100")

  /** (node, deg) from the both-directions edge frame. */
  private def degreeNodes(directed: DataFrame): DataFrame =
    directed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))

  /** What a PageRank variant supplies to [[powerIteration]] once its
    * node frame is counted: the initial rank, the per-destination
    * contribution aggregate, and the next rank from the summed
    * contribution `__c`.
    */
  private final case class Ranking(init: Column, contrib: Column, next: Column)

  /** The power iteration the four PageRanks share. Each round is ONE
    * join (ranks to edge sources — both sides hash-partition on the
    * node key, and AQE reuses the exchange round to round) + one sum on
    * the destination key + a left join back to the node set, so nodes
    * no contribution reaches keep their teleport floor. Lineage is cut
    * every 3 rounds (10 chained joins otherwise grow an exponential
    * plan). The edge and node frames persist at the loop width
    * (r15, [[graft.Par.LoopState]]); counting the nodes materializes
    * both, so the width is re-measured right after.
    *
    * `e` holds canonical (a, b) edges plus the `carry` columns;
    * `nodeFrame` builds (node, `norm`, …) from the both-directions
    * edges; `start` counts the persisted node frame and returns the
    * variant's [[Ranking]], whose rank column is `rankCol`.
    */
  private def powerIteration(e: DataFrame, iterations: Int, reliable: Boolean,
                             rankCol: String, norm: String, carry: String*)(
      nodeFrame: DataFrame => DataFrame)(start: DataFrame => Ranking): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations in [1, 100]")
    val loop = new graft.Par.LoopState(e, reliable)
    val directed0 = loop.persist(bothDirections(e, "a", "b", carry: _*))
    val nodes = loop.persist(nodeFrame(directed0))
    val r = start(nodes)
    val directed = loop.remeasure(directed0)
    var ranks = nodes.select(col("node"), r.init.as(rankCol))
    for (i <- 1 to iterations) {
      val contrib = directed
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(nodes.select(col("node").as("src"), col(norm)), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(r.contrib.as("__c"))
      ranks = nodes.drop(norm)
        .join(contrib, Seq("node"), "left")
        .select(col("node"), r.next.as(rankCol))
      if (i % 3 == 0 && i < iterations) ranks = loop.truncate(ranks)
    }
    ranks
  }

  /** Both directions of every undirected edge (a, b) as (src, dst),
    * with the `carry` columns, from ONE explode pass (r16, guide §1.2:
    * a two-select union evaluates the edge subtree twice — for the
    * near-dup pair generators feeding [[Dedup.connectedComponents]]
    * that doubled the whole scoring pass).
    */
  private[operators] def bothDirections(e: DataFrame, a: String, b: String,
                                        carry: String*): DataFrame = {
    val rest = carry.map(col)
    e.select(explode(array(
        struct(col(a).as("src") +: col(b).as("dst") +: rest: _*),
        struct(col(b).as("src") +: col(a).as("dst") +: rest: _*))).as("__e"))
      .select(col("__e.src").as("src") +: col("__e.dst").as("dst") +:
        carry.map(c => col(s"__e.$c").as(c)): _*)
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman '83) — the standard "dense enough to matter" cut on the
    * co-occurrence graphs this engine emits, one notch finer than
    * connectivity (CC) and one coarser than cliques (triangles).
    * Computed by synchronous peeling: drop nodes whose degree in the
    * CURRENT subgraph is < k, recompute, repeat. The surviving set
    * shrinks monotonically, so an unchanged node COUNT certifies the
    * fixed point (same count ⇒ same set), and the result is the
    * unique k-core regardless of iteration schedule — deterministic
    * and SQL-replayable by unrolling rounds.
    *
    * Per round: one node-keyed degree count (the only shuffle) +
    * two anti-joins of the edge set against the JUST-REMOVED nodes
    * (small in steady state, empty at the fixed point — AQE
    * broadcasts them) + one driver-side `isEmpty` probe. Rounds are
    * bounded by `maxIterations` (degeneracy peeling converges in ≤
    * diameter-ish rounds on real graphs; the cap keeps the job graph
    * bounded on adversarial chains), lineage truncated every 3 rounds
    * with the pageRank `reliable` cluster-checkpoint option. Returns
    * (node, core_deg) — the surviving nodes with their degree INSIDE
    * the core.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxIterations: Int = 20,
            reliable: Boolean = false): DataFrame = {
    require(k >= 1, "k >= 1")
    require(maxIterations >= 1 && maxIterations <= 100, "maxIterations in [1, 100]")
    val e0 = canon(edges, aCol, bCol)
    val loop = new graft.Par.LoopState(e0, reliable)
    def degrees(edgeSet: DataFrame): DataFrame =
      edgeSet.select(col("a").as("n"))
        .unionByName(edgeSet.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("core_deg"))
    // peel by REMOVAL, not survivorship: each round anti-joins the
    // edge set against the nodes that just fell below k — a frame
    // that is small in steady state and EMPTY at the fixed point —
    // instead of semi-joining against the (large) survivor set twice.
    // AQE picks broadcast anti-joins whenever the removed set is
    // small (every round but pathological first ones), so the only
    // per-round shuffle is the degree count; the survivor-set form
    // measured 6 s/round at sf0.1 against this form's sub-second
    // rounds. Same synchronous-peel semantics, same unique fixed
    // point; the last degree frame IS the answer (all ≥ k).
    var alive = loop.persist(e0)
    var lastDeg = degrees(alive)
    var i = 0
    var done = false
    while (!done && i < maxIterations) {
      val deg = loop.persist(degrees(alive))
      val removed = deg.filter(col("core_deg") < k).select(col("n"))
      val removedEmpty = removed.isEmpty
      // round 1's isEmpty probe materialized the alive cache
      alive = loop.remeasure(alive)
      if (removedEmpty) {
        lastDeg = deg
        done = true
      } else {
        alive = loop.persist(alive
          .join(removed.withColumnRenamed("n", "a"), Seq("a"), "left_anti")
          .join(removed.withColumnRenamed("n", "b"), Seq("b"), "left_anti"))
        if (i % 3 == 2) alive = loop.truncate(alive)
        lastDeg = degrees(alive)
        i += 1
      }
    }
    // convergence guard (r9 advice): if the round cap interrupted the
    // peel, lastDeg can still hold sub-k nodes — never let those
    // masquerade as core members. The filter is a no-op on converged
    // runs (fixed point ⇒ all degrees ≥ k); on a capped run it makes
    // the output a conservative superset of the true k-core's degree
    // table, and the warning makes the truncation diagnosable.
    if (!done) System.err.println(
      s"[graft] kCore: round cap $maxIterations hit before the fixed " +
        "point; returning the current peel filtered to core_deg >= " +
        s"$k (a superset of the true $k-core)")
    lastDeg.filter(col("core_deg") >= k)
      .select(col("n").as("node"), col("core_deg"))
  }

  /** Degree assortativity (Newman '02): the Pearson correlation of
    * endpoint degrees over all directed edge instances — positive
    * when hubs attach to hubs, negative when hubs attach to leaves.
    * All four sufficient statistics (M, Σx, Σx², Σxy over the
    * symmetric directed edge list) are EXACT long sums — order-free
    * and engine-portable — and only the final Pearson formula touches
    * doubles, as one fixed expression over those exact integers, so
    * the graded query hash-matches cross-engine. One row out:
    * (n_nodes, n_edges, assortativity round(6)).
    *
    * Long-overflow headroom: Σxy ≤ E·dmax²; at E = 1e9, dmax = 1e4
    * that is 1e17 < 2^63. The FORMULA's products (M·Σxy, (Σx)²) run
    * in doubles deliberately — they exceed longs first, and double
    * conversion of exact longs is identical across engines.
    */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = graft.Par.persistTracked(canon(edges, aCol, bCol))
    val directed = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val pairs = directed
      .join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), Seq("dst"))
    // ONE aggregation carries all five statistics (every node appears
    // as a src — degree ≥ 1 by construction — so n_nodes is the
    // distinct-src count and n_edges is m/2): no scalar join, no
    // nested-loop shape for the plan sweep to flag. Pearson with the
    // symmetric Σx = Σy simplification, every operand cast to double
    // FIRST so both engines run the identical IEEE expression.
    pairs.agg(
        countDistinct(col("src")).as("__n"),
        count(lit(1)).as("__m"),
        sum(col("dx")).as("__sx"),
        sum(col("dx") * col("dx")).as("__sxx"),
        sum(col("dx") * col("dy")).as("__sxy"))
      .select(
        col("__n").as("n_nodes"),
        (col("__m") / 2).cast("long").as("n_edges"),
        round(
          (col("__m").cast("double") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sx").cast("double")) /
          (col("__m").cast("double") * col("__sxx").cast("double") -
            col("__sx").cast("double") * col("__sx").cast("double")), 6)
          .as("assortativity"))
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara '07), made deterministic: every round each node
    * adopts the most frequent label among its neighbors PLUS its own
    * current label (the self-vote damps the bipartite oscillation
    * synchronous LPA is known for), ties broken by (count desc,
    * label asc) — so a fixed iteration count yields a pure function
    * of the edge set, pinned in GraphSpec on planted cliques.
    * Labels start as node ids; a community's final label is one of
    * its member ids (deterministic, not necessarily the minimum —
    * community IDENTITY is the grouping, not the label value).
    *
    * Scale shape mirrors [[pageRank]]: per round one edge-sized join
    * (label lookup), one (node, label)-keyed count, one node-keyed
    * argmax via the min(−count) struct trick — no windows, no
    * driver-side state; lineage truncated every 3 rounds with the
    * same `reliable` cluster-checkpoint option.
    *
    * Why next to [[triangleStats]]/[[pageRank]]: the near-dup pair
    * graphs this engine emits ([[Dedup.connectedComponents]] gives
    * CONNECTIVITY clusters) often need the finer "densely-knit
    * groups" cut — LPA separates two cliques joined by one
    * boilerplate bridge edge, which connected components cannot.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iterations: Int = 10,
                       reliable: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations in [1, 100]")
    val e = canon(edges, aCol, bCol)
    val loop = new graft.Par.LoopState(e, reliable)
    // pin the edge frame's partitioning on the JOIN key so the
    // per-round label lookup never re-exchanges the (big) edge side
    val directed = graft.Par.persistTracked(loop.keyed(bothDirections(e, "a", "b"), "src"))
    var labels = directed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (i <- 1 to iterations) {
      val votes = directed
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels) // self-vote
      // ONE node-keyed exchange serves BOTH aggregations below:
      // hash(node) satisfies the (node, label) clustering too, so the
      // count and the argmax plan exchange-free on top of it (first
      // cut paid three shuffles/round — measured 10 s at sf0.1, vs
      // pageRank's 2/round at 5.8 s for the same graph)
      labels = loop.keyed(votes, "node")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("b"))
        .select(col("node"), col("b.label").as("label"))
      if (i % 3 == 0 && i < iterations) {
        labels = loop.truncate(labels)
        loop.remeasure(directed) // the first cut materialized it
      }
    }
    labels
  }

  /** Neighbor-set Jaccard link prediction (Liben-Nowell & Kleinberg
    * '03): for every NON-adjacent pair sharing ≥ `minCommon`
    * neighbors, score = |N(u)∩N(v)| / |N(u)∪N(v)| =
    * common/(dᵤ+dᵥ−common); the top-k by (rounded score desc, u, v)
    * are the predicted links — "customers who bought these also
    * bought…" as a graph primitive.
    *
    * Cost is wedge enumeration, Σ d(d−1)/2 — inherently quadratic in
    * hub degree because every wedge CENTER must emit its endpoint
    * pairs (unlike the triangle census, orientation cannot prune:
    * both wedge endpoints are output, not probed). Run it on a
    * bounded-density slice or cap hub centers upstream; the common-
    * count shuffle carries bare id pairs. Top-k via sort+limit
    * (TakeOrderedAndProject — no single-partition global window);
    * the rank column is assigned AFTER the cut, over ≤ k rows.
    */
  def linkPredict(edges: DataFrame, aCol: String, bCol: String,
                  topK: Int, minCommon: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "topK must be positive")
    val e = graft.Par.persistTracked(canon(edges, aCol, bCol))
    val adj = e.select(col("a").as("n"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val common = adj.select(col("nbr").as("c"), col("n").as("u"))
      .join(adj.select(col("nbr").as("c"), col("n").as("v")), Seq("c"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    val cand = common.join(e,
      common("u") === e("a") && common("v") === e("b"), "left_anti")
    cand
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .withColumn("jaccard", round(col("common").cast("double")
        / (col("du") + col("dv") - col("common")).cast("double"), 6))
      .select(col("u"), col("v"), col("common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("jaccard").desc, col("u"), col("v"))))
  }

  /** HITS hubs & authorities in fixed-point arithmetic (Kleinberg
    * JACM '99) — the DIRECTED/bipartite centrality PageRank's
    * undirected co-purchase twins can't express: on a customer→part
    * purchase graph, authorities are the parts power-buyers converge
    * on and hubs are the buyers whose baskets best predict strong
    * parts — the mutual-reinforcement pair ("good hubs point at good
    * authorities") a single degree count flattens.
    *
    * Same exact-integer portability discipline as
    * [[pageRankFixedPoint]]: scores are longs in µ-units; each round
    * is a(p) = Σ_{c→p} h(c) then h(c) = Σ_{c→p} a(p), each phase
    * renormalized by its integer MAX (score·Scale div max — all
    * order-free integer ops), so every round is engine-replayable
    * and the graded form hash-greens where float HITS (whose L2
    * normalization is a partition-order-sensitive float sum) never
    * could. Envelope: Σ of neighbor scores needs in-degree < 2^63 /
    * Scale² ≈ 9.2e6 — cap hubs upstream past that. Two node-keyed
    * join+agg exchanges per round, checkpoint cadence bounds plan
    * growth; max-normalizers ride 1-row broadcast scalar joins (the
    * q11/q15 shape). Returns top-`topK` per kind ('hub'/'authority'),
    * ranked (score desc, node).
    */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                     iterations: Int = 8, topK: Int = 50,
                     reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    require(topK > 0, "topK must be positive")
    val Scale = 1000000L
    val pairs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val loop = new graft.Par.LoopState(pairs, reliable)
    var e = loop.persist(pairs.distinct())
    // each phase's raw frame is persisted (the max normalizer and the
    // scaled select share one computation) and the result eagerly
    // truncated EVERY round: the in-plan scalar subquery would
    // otherwise re-evaluate the whole preceding lineage once per
    // round (measured 141 s at sf0.1; ~4 s with per-round cuts)
    def normalize(rawIn: DataFrame): DataFrame = {
      val raw = loop.persist(rawIn)
      val mx = raw.agg(max(col("__raw")).as("__m"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"), expr(s"(__raw * $Scale) div __m").as("score"))
    }
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Scale).as("score"))
    var a = e.sparkSession.emptyDataFrame
    for (_ <- 1 to iterations) {
      a = normalize(e
        .join(h.select(col("node").as("src"), col("score")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("score")).as("__raw")))
      // truncate the round's END (h): a sits on its persisted raw, so
      // h's cut bounds the whole round to one pass
      h = loop.truncate(normalize(e
        .join(a.select(col("node").as("dst"), col("score")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("score")).as("__raw"))))
      e = loop.remeasure(e) // round 1 materialized the edge cache
    }
    def top(df: DataFrame, kind: String): DataFrame = df
      .orderBy(col("score").desc, col("node")).limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("node"))))
      .select(lit(kind).as("kind"), col("node"), col("score"), col("rank"))
    top(h, "hub").unionByName(top(a, "authority"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar '03, "Friends and
    * neighbors on the Web") — [[linkPredict]]'s rarity-weighted
    * sibling: a shared RARE neighbor is stronger evidence than a
    * shared hub, so each common neighbor c contributes 1/ln(deg c)
    * instead of Jaccard's flat count. The score that ranks "both
    * bought this niche part" over "both bought the bestseller".
    *
    * Portability discipline: only centers with deg c ≥ 2 enter the
    * wedge join (a wedge center has two distinct neighbors), so
    * ln(deg) ≥ ln 2 > 0 and every term is finite; each term is ONE
    * libm ln + one division, rounded to 6 and 1e6-scaled to a long (the chi2
    * r6-scaling trick), and the pair score is the ORDER-FREE integer
    * sum of its wedge terms — hash-stable in any engine, off the
    * true score by < common·5e-7.
    *
    * Same wedge-enumeration cost envelope as [[linkPredict]]
    * (Σ d(d−1)/2 over centers — run on a bounded-density slice or
    * cap hubs upstream); the center's degree rides the adjacency
    * frame into the self-join so the wedge shuffle carries one extra
    * long, and top-k is sort+limit with the rank assigned after the
    * cut.
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 topK: Int, minCommon: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "topK must be positive")
    val e = graft.Par.persistTracked(canon(edges, aCol, bCol))
    val adj = e.select(col("a").as("n"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    // center degree joined BEFORE wedge enumeration: one nbr-keyed
    // join on the adjacency frame instead of one per wedge. Only
    // centers of degree ≥ 2 join: a leaf centers no wedge, and its
    // 1/ln 1 would divide by zero wherever the plan evaluates the
    // term before the wedge filter drops the row.
    val adjD = adj.join(deg.filter(col("d") >= 2).select(col("n").as("nbr"), col("d")),
        Seq("nbr"))
      .withColumn("__t6",
        round(lit(1.0) / log(col("d").cast("double")) * lit(1000000.0))
          .cast("long"))
    val scored = adjD.select(col("nbr").as("c"), col("n").as("u"),
        col("__t6"))
      .join(adjD.select(col("nbr").as("c"), col("n").as("v")), Seq("c"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"), sum(col("__t6")).as("__s6"))
      .filter(col("common") >= minCommon)
      .withColumn("aa_score",
        round(col("__s6").cast("double") / lit(1000000.0), 6))
    scored.join(e, scored("u") === e("a") && scored("v") === e("b"),
        "left_anti")
      .select(col("u"), col("v"), col("common"), col("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("aa_score").desc, col("u"), col("v"))))
  }

  /** Multi-source BFS hop distance — "how many co-purchase hops from
    * the seed products is everything else?" (reach/blast-radius
    * analysis; the unweighted single-pattern special case of what
    * Pregel computes as SSSP). Synchronous label-correcting rounds:
    * dist₀ = 0 at the seed nodes present in the graph, then each
    * round relaxes every edge once — dist_i(v) = min(dist_{i-1}(v),
    * min over in-neighbors u of dist_{i-1}(u) + 1) — via one
    * src-keyed join and one node-keyed min aggregate per round, the
    * [[pageRankFixedPoint]] plan shape. Distances are INTEGER hops
    * and min() is order-free, so every round is a pure function of
    * the edge set: the oracle unrolls the same rounds as
    * MATERIALIZED CTEs and the iterative operator hash-grades end
    * to end. Monotone convergence (distances only decrease, bounded
    * below) ⇒ rounds past the true eccentricity are idempotent —
    * `maxHops` ≥ the seed set's graph eccentricity returns exact
    * BFS distances; unreached components are ABSENT (no sentinel).
    *
    * Scale: each round is one edge-sized shuffle on `src` plus one
    * node-keyed aggregate — the relaxation joins the FULL reached
    * set, not a frontier delta, trading redundant re-relaxation
    * (bounded by rounds × E, same as a PageRank pass) for
    * round-purity the graded oracle can replay; lineage truncated
    * every 3 rounds (`reliable` → cluster-durable checkpoints).
    */
  def bfsDistance(edges: DataFrame, aCol: String, bCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int, reliable: Boolean = false): DataFrame = {
    require(maxHops >= 1 && maxHops <= 100, "maxHops in [1, 100]")
    relax(canon(edges, aCol, bCol), seeds, seedCol, maxHops, reliable, lit(1L))
  }

  /** WEIGHTED multi-source shortest path — [[bfsDistance]]'s
    * edge-cost generalization (synchronous Bellman–Ford rounds, the
    * Pregel SSSP): dᵢ(v) = min(dᵢ₋₁(v), min over in-neighbors u of
    * dᵢ₋₁(u) + w(u,v)) — hop counts weighted by affinity-derived
    * costs answer "how CLOSE is everything to the seed products"
    * where frequent co-purchase means closer, which the unweighted
    * hop metric flattens.
    *
    * Same portability contract as BFS: integer weights ⇒ every round
    * is an order-free integer min over the edge relaxation — a pure
    * function of the edge set, hash-replayable as unrolled
    * MATERIALIZED CTEs. `rounds` is the graded contract (synchronous
    * rounds, NOT distance convergence); with rounds ≥ the weighted
    * graph's seed eccentricity in EDGES the result is the exact
    * shortest-path distance, and extra rounds are idempotent by
    * monotonicity. Duplicate/reversed pairs keep their MIN weight.
    * One src-keyed join + one node-keyed min per round; checkpoint
    * cadence bounds lineage.
    */
  def ssspWeighted(edges: DataFrame, aCol: String, bCol: String,
                   weightCol: String, seeds: DataFrame, seedCol: String,
                   rounds: Int, reliable: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 100, "rounds in [1, 100]")
    val e = edges.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") < col("b") && col("w") >= 0)
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    relax(e, seeds, seedCol, rounds, reliable, col("w"), "w")
  }

  /** The synchronous relaxation [[bfsDistance]] and [[ssspWeighted]]
    * share: dist₀ = 0 at the seeds present in the graph, then each
    * round dist(v) = min(dist(v), min over in-neighbors u of dist(u) +
    * `step`), one src-keyed join and one node-keyed min. The edge
    * frame persists hash-partitioned on `src` ([[graft.Par.LoopState]]
    * key width), so no round re-exchanges it; lineage is cut every 3
    * rounds and the first cut re-measures the width.
    */
  private def relax(e: DataFrame, seeds: DataFrame, seedCol: String, rounds: Int,
                    reliable: Boolean, step: Column, carry: String*): DataFrame = {
    val loop = new graft.Par.LoopState(e, reliable)
    val directed = graft.Par.persistTracked(
      loop.keyed(bothDirections(e, "a", "b", carry: _*), "src"))
    var dist = directed.select(col("src").as("node")).distinct()
      .join(seeds.select(col(seedCol).as("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"))
    for (i <- 1 to rounds) {
      dist = directed
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + step).as("dist"))
        .unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % 3 == 0 && i < rounds) {
        dist = loop.truncate(dist)
        loop.remeasure(directed)
      }
    }
    dist
  }

  /** Modularity of a node labeling (Newman & Girvan '04) — the
    * standard "denser than chance?" score for [[labelPropagation]]'s
    * output: per community c, contribution = e_c/m − (d_c/2m)², with
    * e_c its internal edge count, d_c its degree sum, m the total
    * edge count; Q = Σ_c contribution (≈0 for one blob or random
    * labels, → 1 for clean separation). Every sufficient statistic
    * is an exact integer count over the deduped pair set; the
    * division tree is ONE fixed double expression per community,
    * rounded once — hash-portable. Output one row per community
    * (label, n_nodes, internal_edges, degree_sum, contribution); Q
    * is the contribution sum, left unsummed so the graded frame
    * keeps the per-community evidence.
    *
    * Plan: two label equi-joins on the edge endpoints, three grouped
    * counts, the 1-row m frame attached by scalar broadcast join.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String = "node",
                 labelCol: String = "label", roundTo: Int = 6): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val e = graft.Par.persistTracked(canon(edges, aCol, bCol))
    val la = labels.select(col(nodeCol).as("a"), col(labelCol).as("__la"))
    val lb = labels.select(col(nodeCol).as("b"), col(labelCol).as("__lb"))
    val el = graft.Par.persistTracked(
      e.join(la, Seq("a")).join(lb, Seq("b")))
    val mTot = e.agg(count(lit(1)).as("__m"))
    val internal = el.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as(labelCol))
      .agg(count(lit(1)).as("internal_edges"))
    val degSum = el
      .select(explode(array(col("__la"), col("__lb"))).as(labelCol))
      .groupBy(col(labelCol)).agg(count(lit(1)).as("degree_sum"))
    val nNodes = labels.groupBy(col(labelCol)).agg(count(lit(1)).as("n_nodes"))
    val ic = coalesce(col("internal_edges"), lit(0L))
    val dc = coalesce(col("degree_sum"), lit(0L))
    nNodes.join(degSum, Seq(labelCol), "left")
      .join(internal, Seq(labelCol), "left")
      .crossJoin(broadcast(mTot))
      .select(col(labelCol), col("n_nodes"),
        ic.as("internal_edges"), dc.as("degree_sum"),
        round(d(ic) / d(col("__m"))
          - (d(dc) / (lit(2.0) * d(col("__m"))))
            * (d(dc) / (lit(2.0) * d(col("__m")))), roundTo)
          .as("contribution"))
  }

  /** Power-law degree-distribution fit (Clauset, Shalizi & Newman,
    * SIAM Rev. '09 — the MLE that replaced eyeballed log-log slopes):
    * α̂ = 1 + n_tail · (Σ_{dᵢ ≥ d_min} ln(dᵢ/(d_min − ½)))⁻¹ over the
    * tail of the degree distribution, the one-row "is this graph
    * scale-free or did the generator break" screen (a corpus link
    * graph whose α leaves [2, 3] is usually a crawler artifact).
    *
    * Exact-replay discipline: degrees are integer counts of the
    * deduped symmetric adjacency; each node's log term rounds to 1e-6
    * integer units BEFORE the sum (the adamicAdar idiom — the sum is
    * order-free exact integers, never a shuffled double fold), and α
    * is one final double division rounded once. Empty tail or zero
    * log mass (all tail degrees = d_min = 1 would need d_min ≥ 2;
    * enforced) → no row. One degree aggregate + one global fold.
    */
  def powerlawFit(edges: DataFrame, aCol: String, bCol: String,
                  dMin: Long = 2L, roundTo: Int = 6): DataFrame = {
    require(dMin >= 2, "dMin must be >= 2 (ln(d/(d-0.5)) must be > 0)")
    val e = canon(edges, aCol, bCol)
    val deg = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("d") >= dMin, 1L).otherwise(0L)).as("n_tail"),
        sum(when(col("d") >= dMin,
          round(log(col("d").cast("double") / lit(dMin - 0.5))
            * lit(1000000.0)).cast("long")).otherwise(0L)).as("__s6"))
      .filter(col("n_tail") > 0 && col("__s6") > 0)
      .select(col("n_nodes"), col("n_tail"), lit(dMin).as("d_min"),
        round(lit(1.0) + col("n_tail").cast("double")
          / (col("__s6").cast("double") / lit(1000000.0)), roundTo)
          .as("alpha"))
  }
}
