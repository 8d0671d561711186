package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.Engine
import graft.Engine.SnapshotOps

/** Iterative/combinatorial graph analytics over pair lists — the
  * second and third graph operators after Components' connected
  * components (d9): PageRank centrality and triangle counting, both
  * over the near-dup pair graphs the d-family emits. Like
  * Components, everything is DataFrame joins + partial-agg groupBys
  * (one keyed shuffle per round), with `Engine.snapshot` lineage
  * truncation between rounds (a local checkpoint by default; the
  * spark.graft.reliableSnapshots switch persists each round to the
  * shared FS for executor-loss-safe cluster runs). Round loops run on
  * `Engine.iterate`, which releases each superseded round; every
  * operator releases the other frames it pinned once nothing it
  * returns reads them.
  *
  * Both operators are INTEGER-exact by construction (ranks live in
  * micro-units, every division is a floor division of non-negative
  * longs), so a DuckDB oracle can restate the full iteration
  * arithmetically and the driver's hash gate applies — unusual for
  * PageRank, whose floating-point spelling is summation-order-
  * sensitive and cross-engine-unhashable.
  */
object Graph {

  /** Fixed-iteration integer PageRank over an undirected pair list
    * (columns `doc_a`, `doc_b`). Ranks are micro-units (node starts
    * at `scale` = 1e6); one round is
    *   r'(v) = (15·scale + 85·Σ_{u→v} (r(u) div deg(u))) div 100
    * — the damping-0.85 update with every operation a non-negative
    * integer op, identical on any engine. Symmetric edges mean every
    * node has in- and out-degree ≥ 1, so there is no dangling-mass
    * term (documented contract; a directed variant would add the
    * standard redistribution).
    *
    * 100 TB shape: degrees and the (src, dst, deg) edge relation are
    * computed once and cached; each round is ONE equi-join of edges
    * against the current ranks plus one partial-agg groupBy on dst —
    * the Components discipline. `iters` is fixed (PageRank is used
    * here as a ranking, not a fixpoint), so the plan is bounded. */
  def pageRank(pairs: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .union(pairs
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edges = sym.join(deg, Seq("src")).snapshot()
    // round-0 ranks: lazy view over the pinned edge table (round 1's
    // materialization computes them; no separate init job)
    val rank0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("pr"))
    val (rank, _) = Engine.iterate(rank0, iters) { (rank, _) =>
      edges.join(rank, edges("src") === rank("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          expr(s"(15 * CAST($scale AS BIGINT) + 85 * s) div 100").as("pr"))
    }
    if (iters > 0) Engine.release(edges) // zero rounds: rank0 reads it
    rank.select(col("node").as("doc_id"), col("pr").as("rank_micro"))
  }

  /** PERSONALIZED PageRank over an undirected pair list: teleport
    * mass goes only to a seed set (nodes with id ≡ 0 mod `seedMod`),
    * so the stationary mass measures proximity TO THE SEEDS rather
    * than global centrality — the "relevance radius" ranking a
    * curation pipeline uses to expand a flagged set (contaminated /
    * gold-labeled docs) by graph affinity, where g1's global rank
    * would surface unrelated hubs. Same integer-exact micro-unit
    * arithmetic as [[pageRank]] (one round is
    *   r'(v) = (15·scale·seed(v) + 85·Σ_{u→v} (r(u) div deg(u))) div 100
    * with r0(v) = scale·seed(v)), so a DuckDB oracle can restate the
    * unrolled rounds and the driver's hash gate applies. Unreached
    * nodes carry exact 0, never NULL.
    *
    * 100 TB shape: identical to pageRank — per round ONE edge⋈rank
    * equi-join + one partial-agg groupBy on dst, then a left join
    * back to the (pinned) node list to re-inject teleport mass;
    * lineage truncated per round, superseded rounds released. */
  def personalizedPageRank(pairs: DataFrame, seedMod: Long, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .union(pairs
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edges = sym.join(deg, Seq("src")).snapshot()
    val nodes = edges.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node") % seedMod === 0, lit(1L)).otherwise(lit(0L))
          .as("is_seed"))
      .snapshot()
    // round-0 ranks: lazy view over the pinned node set
    val rank0 = nodes.select(col("node"), (col("is_seed") * scale).as("pr"))
    val (rank, _) = Engine.iterate(rank0, iters) { (rank, _) =>
      val contrib = edges.join(rank, edges("src") === rank("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          expr(s"(15 * CAST($scale AS BIGINT) * is_seed + " +
            "85 * coalesce(s, CAST(0 AS BIGINT))) div 100").as("pr"))
    }
    Engine.release(edges)
    if (iters > 0) Engine.release(nodes) // zero rounds: rank0 reads it
    rank.select(col("node").as("doc_id"), col("pr").as("ppr_micro"))
  }

  /** Per-node triangle counts over an undirected pair list (columns
    * `doc_a`, `doc_b`) via DEGREE-ORDERED orientation: each edge
    * points from its (deg, id)-smaller endpoint to the larger, every
    * triangle is generated exactly once as two out-edges of its
    * smallest vertex plus the closing oriented edge, and each
    * participant gets credited by an explode + partial-agg groupBy.
    *
    * The orientation is the scale story: out-degree under
    * (deg, id) order is O(√m) even on power-law graphs, so the
    * wedge join (e1 ⋈ e2 on src) fans out per-vertex by a bounded
    * factor instead of deg² on hubs, and the closing check is an
    * equi-join against the oriented edge list itself. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .union(pairs
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // orient: keep (u, v) iff (deg_u, u) < (deg_v, v)
    val withDegs = sym
      .join(deg.select(col("src"), col("deg").as("sdeg")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("ddeg")), Seq("dst"))
    val oriented = withDegs.filter(
      col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst")).snapshot()
    // wedges from the smallest vertex u: unordered pair {v, w} shows
    // up as both (v, w) and (w, v), but the closing equi-join against
    // the ORIENTED edge list matches exactly one of them — so every
    // triangle is produced exactly once, no dedup needed
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"))
    val wedges = e1.join(e2, Seq("u")).filter(col("v") =!= col("w"))
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    // the result reads `oriented` lazily, so its pin outlives the call
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Local CLUSTERING COEFFICIENT per node: cc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to
    * a clique. On the near-dup graph this is the template-vs-chain
    * discriminator: boilerplate families are near-cliques (cc ≈ 1,
    * safe to collapse to one survivor), incidental chains have
    * cc ≈ 0 (collapsing them over-merges — exactly the d9 caveat).
    * Reuses triangleCounts' oriented-wedge plan (each triangle
    * counted once, no dedup) plus the degree agg; nodes without
    * triangles enter via a left join with an integer-zero default,
    * and the single per-row division rounds at the edge (no
    * cross-row double sums anywhere). */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("doc_id"), col("doc_b"))
      .union(pairs
        .select(col("doc_b").cast("long").as("doc_id"), col("doc_a")))
    val deg = sym.groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(pairs)
    deg.join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc", when(col("degree") >= 2,
        round(lit(2.0) * col("n_triangles") /
          (col("degree") * (col("degree") - 1)), 6)).otherwise(lit(0.0)))
  }

  /** Distinct ≤2-hop neighborhood size per node over an undirected
    * pair list — the candidate-expansion primitive ("everything
    * reachable through one intermediate") a curation pipeline uses
    * to widen a near-dup seed set before re-verifying. One wedge
    * self-join (a.d = b.s, self-loops filtered) + a distinct union
    * with the 1-hop edges + one partial-agg groupBy.
    *
    * Scale contract: the wedge fan-out is Σ deg(v)² — bounded here
    * because every d-family edge generator caps its blocking-bucket
    * population (d6: 64), so deg is bounded by construction. On an
    * uncapped graph the g2 degree-orientation trick does not apply
    * (2-hop needs BOTH directions through the intermediate); the
    * standard escalation is splitting high-degree intermediates
    * (hub sampling), which changes semantics and stays out of scope. */
  def twoHopCounts(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("d"))
      .union(pairs
        .select(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("d")))
    val two = sym.alias("a").join(sym.alias("b"), col("a.d") === col("b.s"))
      .filter(col("b.d") =!= col("a.s"))
      .select(col("a.s").as("s"), col("b.d").as("d"))
    sym.union(two).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("n_within_2"))
      .select(col("s").as("doc_id"), col("n_within_2"))
  }

  /** Bounded multi-source BFS over an undirected pair list: hop
    * distance from a seed set (nodes whose id ≡ 0 mod `seedMod`) up
    * to `maxHops`, unreached graph nodes carried with the -1
    * sentinel (never NULL — the Verify dump's no-NULL invariant).
    * This is the "blast radius" primitive between g3's fixed 2-hop
    * count and d9's full closure: how far does contamination /
    * near-duplication spread from a flagged seed set in ≤ k steps.
    *
    * 100 TB shape: classic frontier expansion — each round joins the
    * CURRENT FRONTIER ONLY (not the visited set) against the edge
    * list on the source key and anti-joins out already-visited
    * nodes, so a round's shuffle is |frontier ∪ its neighbors| rows,
    * never |graph|; `maxHops` bounds the rounds (no driver-side
    * convergence count needed). The round state is the one `dist`
    * frame — round i's frontier is its hops = i−1 slice — pinned once
    * per round on `Engine.iterate`, which releases the round it
    * replaces: the Components/PageRank discipline. */
  def bfsLayers(pairs: DataFrame, seedMod: Long, maxHops: Int): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("d"))
      .union(pairs
        .select(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("d")))
      .distinct().snapshot()
    val nodes = sym.select(col("s").as("node")).distinct().snapshot()
    // round-0 dist: lazy view over the pinned node set (computed
    // inside round 1's materialization; no init job)
    val dist0 = nodes.filter(col("node") % seedMod === 0)
      .select(col("node"), lit(0L).as("hops"))
    // the union appends nxt's partitions every round; a narrow
    // coalesce keeps the pinned dist at the node set's layout, so
    // later rounds do not scan one partition group per earlier layer
    val parts = nodes.rdd.getNumPartitions
    val (dist, _) = Engine.iterate(dist0, maxHops) { (dist, i) =>
      val frontier = dist.filter(col("hops") === i - 1L).select(col("node"))
      val nxt = sym.join(frontier, sym("s") === frontier("node"))
        .select(col("d").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
      dist.union(nxt.select(col("node"), lit(i.toLong).as("hops")))
        .coalesce(parts)
    }
    Engine.release(sym)
    nodes.join(dist, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("hops"), lit(-1L)).as("hops"))
  }

  /** Bounded k-CORE PEELING: iteratively remove nodes of degree < k
    * (with the induced-degree recomputation each round) for at most
    * `rounds` rounds — the density-filter the near-dup graph family
    * lacks: a node surviving the 2-core sits in a CYCLE of near-dup
    * evidence (mutually corroborating), while chains and pendants
    * (one accidental pair away from isolation) peel off. Returns one
    * row per node: the round it peeled at (1-based; -1 = survivor at
    * the horizon) and its final induced degree (-1 for peeled
    * nodes). `rounds` is a declared horizon, not a convergence hack:
    * the loop ALSO stops early at the true fixpoint, and extra
    * oracle rounds past convergence are no-ops, so engine and oracle
    * agree at any horizon.
    *
    * 100 TB shape: each round is one degree partial-agg + two
    * semijoin-shaped edge filters keyed by node. SNAPSHOT BUDGET
    * (the toy-scale floor fix the 100× reading doesn't need, but
    * costs it nothing): ONE frame materializes per round — the
    * filtered edge list, whose plan FOLDS IN the degree recompute
    * (the survivor set is a subplan of the filter, not a separately
    * materialized candidate frame). Each pin observes its row count
    * (`Engine.iterate`'s signal contract), and that is the
    * convergence signal: node removal only ever SHRINKS the edge set,
    * so count equality IS set equality and the loop stops at the
    * true fixpoint with no probe job. The
    * alive sets, per-round peel sets and survivor degrees are LAZY
    * one-agg views over the pinned round snapshots (alive_r =
    * degree≥k over edges_{r-1}; the alive sets are NESTED, so a
    * node's peel round is its deepest presence level + 1 — which
    * also catches survivors whose last edges vanished, the degree-0
    * peel), all evaluated as independent branches inside the single
    * final assembly job. A round therefore costs 1 Spark job. Round
    * snapshots pin until the result is assembled (the output reads every
    * round's alive set — a bounded-horizon peel holds ≤ `rounds`
    * shrinking edge lists, the declared memory admission), which is
    * why this loop is its own and not `Engine.iterate`; the assembled
    * result is materialized ONCE and every round snapshot is released
    * with `Engine.release` before returning. */
  def kCorePeel(pairs: DataFrame, k: Long, rounds: Int): DataFrame = {
    // `ed` pinned, with its row count
    def pinCounted(ed: DataFrame): (DataFrame, Long) = {
      val o = Observation()
      val pinned = ed.observe(o, count(lit(1)).as("n")).snapshot()
      (pinned, o.get("n").asInstanceOf[Long])
    }
    val (sym, symCnt) = pinCounted(pairs
      .select(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("d"))
      .union(pairs
        .select(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("d")))
      .distinct())
    // nodes whose INDUCED degree in `ed` meets k (degree-0 nodes are
    // implicitly out: they have no s-rows)
    def surv(ed: DataFrame): DataFrame =
      ed.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("s").as("node"))
    val edgeRounds = scala.collection.mutable.ArrayBuffer[DataFrame](sym)
    var cnt = symCnt
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val cur = edgeRounds.last
      val sv = surv(cur) // subplan of the filter — not materialized
      val (next, nextCnt) = pinCounted(cur
        .join(sv.select(col("node").as("s")), Seq("s"))
        .join(sv.select(col("node").as("d")), Seq("d"))
        .select(col("s"), col("d")))
      edgeRounds += next
      if (nextCnt == cnt) done = true
      cnt = nextCnt
      r += 1
    }
    val executed = edgeRounds.size - 1
    def survDeg(i: Int): DataFrame = // (node, deg) meeting k over round i
      edgeRounds(i).groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("s").as("node"), col("deg"))
    def alive(i: Int): DataFrame =
      if (i == 0) sym.select(col("s").as("node")).distinct()
      else survDeg(i - 1).select(col("node"))
    // the alive sets are NESTED (alive_{i+1} ⊆ alive_i), so a node's
    // peel round is (deepest level it appears at) + 1 — one union of
    // INDEPENDENT agg branches over the pinned round snapshots (the
    // scheduler runs them concurrently inside the final job) + one
    // groupBy, instead of a chain of per-round anti-joins.
    //
    // CONVERGED (the common exit): the last two edge sets are EQUAL,
    // so the deepest alive agg's degrees ARE the final induced
    // degrees — one aggregation serves both the level-`executed`
    // presence branch and core_degree, and the old separate
    // finalDeg groupBy + left join over edgeRounds(executed) (the
    // largest frame still pinned) drops out of the assembly job
    // entirely. Bounded-horizon exits (not converged) keep the
    // two-agg spelling: a level-`executed` survivor's induced degree
    // in the unpeeled final set can differ from its last alive
    // degree (it may even fall below k).
    if (done) {
      val lastSurv = survDeg(executed - 1) // == degrees over edgeRounds(executed)
      val presence = ((0 until executed).map(i =>
        alive(i).select(col("node"), lit(i.toLong).as("lvl"),
          lit(0L).as("deg"))) :+
        lastSurv.select(col("node"), lit(executed.toLong).as("lvl"),
          col("deg")))
        .reduce(_ union _)
      val byNode = presence.groupBy(col("node"))
        .agg(max(col("lvl")).as("maxl"), max(col("deg")).as("deg"))
      val out0 = byNode.select(col("node").as("doc_id"),
        when(col("maxl") === executed, lit(-1L))
          .otherwise(col("maxl") + 1L).as("peel_round"),
        when(col("maxl") === executed, col("deg"))
          .otherwise(lit(-1L)).as("core_degree"))
        .snapshot()
      edgeRounds.foreach(Engine.release)
      return out0
    }
    val presence = (0 to executed).map(i =>
      alive(i).select(col("node"), lit(i.toLong).as("lvl")))
      .reduce(_ union _)
    val byNode = presence.groupBy(col("node"))
      .agg(max(col("lvl")).as("maxl"))
    val peeled = byNode.filter(col("maxl") < executed)
      .select(col("node"), (col("maxl") + 1L).as("peel_round"))
    val last = edgeRounds(executed)
    val finalDeg = last.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val aliveEnd = byNode.filter(col("maxl") === executed)
    val survivors = aliveEnd
      .join(finalDeg, aliveEnd("node") === finalDeg("s"), "left")
      .select(col("node"), lit(-1L).as("peel_round"),
        coalesce(col("deg"), lit(0L)).as("core_degree"))
    val out = survivors.union(
      peeled.select(col("node"), col("peel_round"), lit(-1L).as("core_degree")))
      .select(col("node").as("doc_id"), col("peel_round"), col("core_degree"))
      .snapshot()
    // the result is materialized — release every round frame it read
    edgeRounds.foreach(Engine.release)
    out
  }

  /** PARTITION MODULARITY of the connected-component clustering over
    * an undirected pair list — the clustering-quality score Q =
    * Σ_c (e_c/m − (deg_c/2m)²) specialized to the component
    * partition, where every edge is intra-cluster so deg_c = 2·e_c
    * and Q = Σ_c (e_c/m − (e_c/m)²): Q → 1 means duplicate mass
    * spreads over many balanced families (collapse is safe and
    * parallel), Q → 0 means one component owns the graph (the g10
    * giant-component alarm expressed as the standard community-
    * quality number). Integer-exact: per-cluster terms are floor
    * divisions in micro-units over exact edge counts, summed as
    * longs.
    *
    * 100 TB shape: Components' two-phase star-contraction rounds + one
    * cluster-keyed partial agg over the EDGE list (each edge joins
    * its doc_a's label — one equi-join) + a one-row broadcast total. */
  def modularity(pairs0: DataFrame): DataFrame = {
    // the pair GENERATOR is the expensive subplan (bands + verify) and
    // is consumed twice (CC edges + per-cluster edge counts) —
    // materialize it once so the generator runs once
    val pairs = pairs0
      .select(col("doc_a").cast("long").as("a"),
        col("doc_b").cast("long").as("b"))
      .snapshot()
    // two-phase star contraction: the d6 graph carries deeper chains
    // than d2's, and min-label pays one round per diameter hop where
    // the contraction closes in O(log² n) rounds (same labels)
    val comp = Components.connectedComponentsTwoPhase(pairs)
    val lab = comp.select(col("node"), col("cluster"))
    val ec = pairs.select(col("a").as("node"))
      .join(lab, Seq("node"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("e_c"))
    val mm = ec.agg(sum(col("e_c")).as("m"))
    ec.crossJoin(broadcast(mm))
      .select(col("e_c"), col("m"),
        expr("e_c * 1000000 div m - (e_c * e_c * 1000000) div (m * m)")
          .as("q_micro"))
      .agg(count(lit(1)).as("n_clusters"), max(col("m")).as("m_edges"),
        sum(col("q_micro")).as("q_micro"),
        max(col("e_c")).as("max_cluster_edges"))
  }

  /** Graph-level degree summary + DEGREE ASSORTATIVITY: the Pearson
    * correlation between the degrees at the two ends of every
    * (symmetrized) edge — the hub-structure diagnostic (r < 0:
    * hub-and-spoke, high-degree nodes attach to low-degree ones;
    * r > 0: degree-stratified cliques). On the near-dup graph this
    * says whether duplicate mass concentrates in a few template hubs
    * or spreads through uniform families — which decides whether the
    * d-family's bucket caps or d9's components carry the load.
    *
    * Exactness: the five edge-degree moments are exact integer sums
    * (the x31 discipline); the correlation divides once at the edge
    * with sqrt over exact longs (IEEE sqrt is correctly rounded on
    * both engines). Degenerate variance → 0.0, never NULL. One row
    * out; two partial-agg shuffles (degree, then moments). */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("d"))
      .union(pairs
        .select(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("d")))
    val deg = sym.groupBy(col("s")).agg(count(lit(1)).as("degree"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("degree")).as("max_degree"))
    val edges = pairs.agg(count(lit(1)).as("n_edges"))
    val mo = sym
      .join(deg.select(col("s").as("su"), col("degree").as("du")),
        col("s") === col("su"))
      .join(deg.select(col("s").as("sv"), col("degree").as("dv")),
        col("d") === col("sv"))
      .agg(count(lit(1)).as("m"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val vary = col("m") * col("syy") - col("sy") * col("sy")
    nodes.crossJoin(edges).crossJoin(mo)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        when(varx > 0 && vary > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))), 6))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Bounded multi-source WEIGHTED shortest paths (Bellman-Ford,
    * `rounds` relaxation rounds) over an undirected weighted pair
    * list (doc_a, doc_b, hamming; edge weight = hamming + 1) — the
    * smooth cousin of bfsLayers' hop count: two docs one
    * 3-bit-hamming pair apart are FARTHER than two docs one
    * 0-hamming pair apart, so the weighted distance ranks
    * contamination/flag proximity by EVIDENCE STRENGTH, not just
    * link count. Each round is one edge⋈dist equi-join + a
    * partial-agg min per node (the Components discipline); `rounds`
    * bounds the path length considered — a declared horizon the
    * oracle unrolls, and distances only tighten with more rounds.
    * Unreached nodes report -1, never NULL. Rounds run on
    * `Engine.iterate`, which releases each superseded `dist`. */
  def weightedPaths(pairs: DataFrame, seedMod: Long, rounds: Int): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"),
        (col("hamming").cast("long") + 1L).as("w"))
      .union(pairs.select(col("doc_b").cast("long").as("src"),
        col("doc_a").cast("long").as("dst"),
        (col("hamming").cast("long") + 1L).as("w")))
      .snapshot()
    val nodes = sym.select(col("src").as("node")).distinct()
      .snapshot()
    // round-0 frontier: lazy view over the pinned node set (the
    // round-1 materialization computes it; no separate init job)
    val dist0 = nodes.filter(col("node") % seedMod === 0)
      .select(col("node"), lit(0L).as("wd"))
    val (dist, _) = Engine.iterate(dist0, rounds) { (dist, _) =>
      val relaxed = sym.join(dist, sym("src") === dist("node"))
        .select(col("dst").as("node"), (col("wd") + col("w")).as("wd"))
      dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("wd")).as("wd"))
    }
    Engine.release(sym)
    nodes.join(dist, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("wd"), lit(-1L)).as("wdist"))
  }

  /** COMMUNITY DETECTION via fixed-round synchronous label
    * propagation (Raghavan et al. 2007), made deterministic: every
    * node starts labeled with itself; each round every node adopts
    * the most frequent label among its NEIGHBORS, ties broken by
    * smallest label — so the update is a pure function of the
    * previous round and restates engine-for-engine (classic LPA's
    * random tie-breaks and asynchronous sweeps do not). Unlike
    * components (d9/d16, which merge everything reachable), LPA
    * stops label flow where a denser neighborhood outvotes it, so
    * two cliques joined by one bridge edge keep distinct communities
    * — the granularity a curation pipeline wants when a duplicate
    * FAMILY is too coarse. `rounds` is a fixed parameter (LPA is
    * used as a banding, not a fixpoint — the oracle unrolls it).
    *
    * 100 TB shape: per round ONE edge⋈label equi-join + one
    * (node, label) partial-agg count + one node-keyed
    * WindowGroupLimit argmax — all keyed by node, reusing the same
    * partitioning; lineage truncated per round, superseded rounds
    * released. */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    val sym = pairs
      .select(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("d"))
      .union(pairs
        .select(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("d")))
      .snapshot()
    // round-0 labels: lazy view over the pinned sym (the round-1
    // materialization computes them; no separate init job)
    val labels0 = sym.select(col("s").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("c").desc, col("lab"))
    val (labels, _) = Engine.iterate(labels0, rounds) { (labels, _) =>
      sym.join(labels, sym("d") === labels("node"))
        .groupBy(sym("s").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab"))
    }
    if (rounds > 0) Engine.release(sym) // zero rounds: labels0 reads it
    labels.select(col("node").as("doc_id"), col("lab").as("community"))
  }

  /** K-TRUSS peeling over an undirected pair list — the EDGE-level
    * cohesion peel g8's k-core cannot express: an edge survives the
    * k-truss iff it closes at least k−2 triangles among surviving
    * edges, so bridges between dense near-dup families peel away
    * even when both endpoints keep high degree. Per round, each
    * edge's support = |N(a) ∩ N(b)| is counted with TWO equi-joins
    * (edge × adjacency on each endpoint — the wedge formulation;
    * wedge fan-out is Σ deg, the g2/g3 cost class) + one partial-agg
    * groupBy on the edge key; edges under support peel with their
    * round number, like kCorePeel's node rounds. Early-exit when a
    * round peels nothing is result-identical to running all
    * `rounds` (peeling is monotone), so the fixed-round oracle
    * hashes match.
    *
    * Output: (doc_a, doc_b, peel_round, truss_support) — survivors
    * carry peel_round = −1 and their final support; peeled edges
    * carry their round and support = −1. The output reads every
    * round's scored frame, so the rounds stay pinned in this loop of
    * its own until the result is materialized; then every pin is
    * released with `Engine.release`. */
  def kTruss(pairs: DataFrame, k: Long, rounds: Int): DataFrame = {
    def support(edges: DataFrame, sym: DataFrame): DataFrame =
      edges
        .join(sym.select(col("s").as("a"), col("d").as("z")), Seq("a"))
        .join(sym.select(col("s").as("b"), col("d").as("z")), Seq("b", "z"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("sup"))
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).cast("long").as("a"),
        greatest(col("doc_a"), col("doc_b")).cast("long").as("b"))
      .distinct().snapshot()
    val peeledParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val pinnedScored = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // kCorePeel's snapshot budget: ONE materialization per round —
      // the scored (a, b, sup) frame — with the peel set and the next
      // edge list as lazy one-deep views over it; the pin observes how
      // many edges peel, the early-stop signal.
      val sym = edges.select(col("a").as("s"), col("b").as("d"))
        .union(edges.select(col("b").as("s"), col("a").as("d")))
      val sup = support(edges, sym)
      val peeling = Observation()
      val scored = edges.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup"))
        .observe(peeling, count_if(col("sup") < k - 2).as("peeled"))
        .snapshot()
      val newPeeled = scored.filter(col("sup") < k - 2)
      if (peeling.get("peeled") == 0L) {
        Engine.release(scored)
        done = true
      } else {
        pinnedScored += scored
        peeledParts += newPeeled
          .select(col("a"), col("b"), lit(r.toLong).as("peel_round"))
        // the superseded edge snapshot (round 0 = the canonical pair
        // list) is dead once replaced — release it eagerly (later
        // rounds' edges are lazy views, a no-op); `scored` stays
        // pinned because the peel views and the next round's edges
        // read it.
        Engine.release(edges)
        edges = scored.filter(col("sup") >= k - 2)
          .select(col("a"), col("b"))
        r += 1
      }
    }
    val peeled =
      if (peeledParts.isEmpty)
        edges.filter(lit(false))
          .select(col("a"), col("b"), lit(0L).as("peel_round"))
      else peeledParts.reduce(_ union _)
    val symF = edges.select(col("a").as("s"), col("b").as("d"))
      .union(edges.select(col("b").as("s"), col("a").as("d")))
    val finalSup = edges.join(support(edges, symF), Seq("a", "b"), "left")
      .select(col("a"), col("b"), lit(-1L).as("peel_round"),
        coalesce(col("sup"), lit(0L)).as("truss_support"))
    val out = finalSup.union(
      peeled.select(col("a"), col("b"), col("peel_round"),
        lit(-1L).as("truss_support")))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("peel_round"), col("truss_support"))
      .snapshot()
    // the result is materialized — release every round frame it read
    pinnedScored.foreach(Engine.release)
    Engine.release(edges)
    out
  }

  /** LINK PREDICTION over an undirected pair list — for every
    * NON-adjacent ordered pair (x < y) with at least `minCn` common
    * neighbors, the two classic proximity scores: common-neighbor
    * count and the Resource Allocation index Σ_z 1/deg(z), carried
    * as the integer Σ_z (1000000 div deg(z)) so the sum is
    * summation-order-free and cross-engine hashable (the same
    * integer-micro-unit discipline as pageRank).
    *
    * 100 TB shape: candidate pairs enumerate through the MIDDLE
    * vertex (one self-join of the adjacency list on the center —
    * fan-out Σ deg², the g3 two-hop class; a real corpus caps
    * high-degree middles exactly like d2's mega-bucket cap), deg
    * attaches by one keyed join BEFORE the pair groupBy, existing
    * edges drop via one LEFT ANTI join on the canonical edge key,
    * and the closing agg is partial. No all-pairs shape anywhere. */
  def linkPrediction(pairs: DataFrame, minCn: Long): DataFrame = {
    val edges = pairs
      .select(least(col("doc_a"), col("doc_b")).cast("long").as("a"),
        greatest(col("doc_a"), col("doc_b")).cast("long").as("b"))
      .distinct().snapshot()
    val sym = edges.select(col("a").as("s"), col("b").as("d"))
      .union(edges.select(col("b").as("s"), col("a").as("d")))
    val deg = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("s").as("z"), col("d").as("x"))
      .join(sym.select(col("s").as("z"), col("d").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val cand = wedges
      .join(edges, wedges("x") === edges("a") && wedges("y") === edges("b"),
        "left_anti")
      .join(deg.select(col("s").as("z"), col("deg")), Seq("z"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
      .filter(col("cn") >= minCn)
    cand.select(col("x").as("doc_a"), col("y").as("doc_b"),
      col("cn"), col("ra_ppm"))
  }

  /** RICH-CLUB coefficient curve: for each degree threshold k, the
    * density φ(k) = 2·E_k / (N_k·(N_k−1)) among the nodes of degree
    * > k — "do the hubs of the near-dup graph link to EACH OTHER"
    * (a rich club of templates duplicating one another) "or only
    * down into their own families". Reported in exact ppm: the
    * division is a single integer `div` whose operands are carried
    * in decimal(38,0) (2·E_k·10⁶ outgrows a long once the club has
    * ~10⁹ internal edges), both non-negative, so truncation = floor
    * on every engine.
    *
    * 100 TB shape: one partial-agg degree pass; degrees re-attach to
    * the edge list by TWO keyed joins (never a broadcast — the
    * degree relation is node-sized); the k-sweep is a constant-size
    * explode of the surviving edges/nodes, closing in a ≤|ks|-row
    * partial agg. The expensive pair GENERATOR runs once via the
    * modularity snapshot discipline. */
  def richClub(pairs0: DataFrame, ks: Seq[Int]): DataFrame = {
    val pairs = pairs0
      .select(col("doc_a").cast("long").as("a"),
        col("doc_b").cast("long").as("b"))
      .snapshot()
    val sym = pairs.select(col("a").as("s"))
      .union(pairs.select(col("b")))
    val deg = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val kArr = array(ks.map(k => lit(k.toLong)): _*)
    val ed = pairs
      .join(deg.select(col("s").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("s").as("b"), col("deg").as("db")), Seq("b"))
    val ek = ed.select(explode(kArr).as("k"), col("da"), col("db"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    val nk = deg.select(explode(kArr).as("k"), col("deg"))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") >= 2L,
          expr("cast((cast(n_edges as decimal(38,0)) * 2 * 1000000) div " +
            "(cast(n_nodes as decimal(38,0)) * (n_nodes - 1)) as bigint)"))
          .otherwise(0L).as("phi_ppm"))
  }
}
