package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.Engine
import graft.Engine.SnapshotOps

/** Distributed connected components over an undirected edge list —
  * the transitive-closure step of a dedup pipeline: near-dup PAIRS
  * (d2/d4/d6/d7 output) under-merge chains (a~b, b~c puts a and c in
  * different "pairs" but the same duplicate family), so production
  * curation clusters first and then keeps one survivor per cluster.
  *
  * Algorithm: iterative minimum-label propagation (the standard
  * large-graph formulation — what GraphX/Pregel CC does, expressed
  * on DataFrames): every node starts labeled with itself; each round
  * every node takes the min of its own and its neighbors' labels;
  * converged when no label changes. Rounds = O(component diameter);
  * near-dup families are shallow (stars/short chains), so a handful
  * of rounds closes 100 TB of pairs. Each round is one equi-join +
  * one partial-agg groupBy on the node key — no driver-side graph,
  * and `Engine.snapshot` truncates the growing lineage each round
  * (a local checkpoint by default; spark.graft.reliableSnapshots=true
  * persists rounds to the shared FS — the executor-loss-safe
  * cluster setting). Both algorithms run their rounds on
  * `Engine.iterate`, which frees each superseded round.
  *
  * Contract: a pathological deep-chain corpus (each doc near-duping
  * only the next) needs O(n) rounds and fails loudly at `maxIters`;
  * if a real corpus ever trips that, the escalation is the
  * alternating large-star/small-star formulation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"), which converges
  * in O(log n) rounds on the same one-join-per-round shape.
  */
object Components {

  /** `edges` as non-nullable LONG (a, b), minus the edges with a null
    * endpoint (the `coalesce` only declares what the filter proved).
    * Non-nullable labels keep min-label's two reads of the previous
    * round on the same exchange, so ReuseExchange shuffles them once
    * per round. */
  private def edgeList(edges: DataFrame): DataFrame =
    edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .select(coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))

  /** Connected components of the undirected graph given by `edges`
    * (two LONG columns `a`, `b`). Returns one row per distinct node:
    * (node, cluster) where cluster = min node id reachable. An edge
    * with a null endpoint is dropped, as in
    * `connectedComponentsTwoPhase`; both results' columns are
    * non-nullable.
    *
    * Convergence: each round's pin observes how many labels changed
    * (`Engine.iterate`'s signal contract), so a round is one Spark
    * job for every CC consumer (d9/d18, g10, g11, m17,
    * x20/x24/x42/x49), and `changed == 0` is the fixpoint. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val e = edgeList(edges)
    // symmetric closure once, reused every round
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().snapshot()
    // round 0's labels are a LAZY view over the pinned sym — the
    // round-1 materialization computes them in its own pass, so no
    // separate init job exists
    val labels0 = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var changed: Observation = null
    val (labels, converged) = Engine.iterate(labels0, maxIters,
        done = (_, _) => changed.get("changed") == 0L) { (labels, _) =>
      changed = Observation()
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_min"))
      labels.alias("l")
        .join(nbrMin.alias("p"), col("l.node") === col("p.a"), "left")
        .select(col("l.node").as("node"),
          least(col("l.label"), coalesce(col("p.nbr_min"), col("l.label")))
            .as("label"),
          col("l.label").as("old"))
        .observe(changed, count_if(col("label") =!= col("old")).as("changed"))
        .select(col("node"), col("label"))
    }
    Engine.release(sym)
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Connected components via ALTERNATING LARGE-STAR/SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", two-phase algorithm) — the escalation path the
    * min-label contract above names: min-label needs O(component
    * diameter) rounds, so a deep-chain corpus (each doc near-duping
    * only the next) is pathological; star contraction converges in
    * O(log² n) rounds REGARDLESS of diameter, because each round
    * hangs whole subtrees directly under their local minimum instead
    * of walking labels one hop.
    *
    * Both phases are the same 100 TB shape as a min-label round: one
    * partial-agg groupBy (per-node neighborhood min) + one equi-join
    * re-emitting each edge against its group's min — no driver-side
    * graph, `Engine.snapshot` truncating lineage per round (reliable
    * snapshots on a real cluster). Edges stay canonical
    * (large → small), so the working set never exceeds the distinct
    * edge count and shrinks as stars contract.
    *
    * Convergence detector: each pin, round 0's included, observes
    * its edge set's signature (edge count, XOR of per-edge xxhash64;
    * XOR is order-free and cannot overflow), so no round runs a job
    * of its own. Signature equality is necessary but not sufficient,
    * so the round whose signature repeats CONFIRMS with one real set
    * diff (`except`), and a loop that runs out of rounds gets one
    * terminal set diff: a hash collision can only send the loop
    * around again, never end it on a non-fixpoint. At the fixpoint
    * the edge set is a star forest: every non-minimum node holds exactly one
    * edge to its component minimum. Returns the same contract as
    * `connectedComponents`: (node, cluster = min reachable id). */
  def connectedComponentsTwoPhase(edges: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val e = edgeList(edges).filter(col("a") =!= col("b"))
    // `ed` with its signature observed into `o`
    def signed(ed: DataFrame, o: Observation): DataFrame =
      ed.observe(o, count(lit(1)).as("n"),
        bit_xor(xxhash64(col("u"), col("v"))).as("x"))

    // canonical orientation large → small; (u, v) with u > v
    var sig = Observation()
    val cur0 = signed(e
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct(), sig).snapshot()

    // large-star: every node x links its LARGER neighbors y to
    // m(x) = min(N(x) ∪ {x}); each undirected edge is re-emitted
    // exactly once, from its smaller endpoint's group (y > x keeps
    // the canonical orientation, since m(x) <= x < y)
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.select(col("u").as("x"), col("v").as("y"))
        .union(ed.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy(col("x"))
        .agg(min(col("y")).as("nbr_min"))
        .select(col("x"), least(col("x"), col("nbr_min")).as("m"))
      // NO intermediate distinct: duplicates cannot move smallStar's
      // per-group min, and its terminal distinct dedupes the round's
      // output anyway — this drops one exchange per round at the cost
      // of bounded row multiplicity (≤ the input edge count) inside
      // the round
      sym.join(mins, Seq("x"))
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
    }

    // small-star: every node u links its SMALLER neighbors (all of
    // them, in canonical orientation) plus itself to
    // m(u) = min of those (spelled with `least`, m is non-nullable);
    // emitted pairs stay canonical because m(u) is the group minimum
    def smallStar(ed: DataFrame): DataFrame = {
      val mins = ed.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      ed.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var nextSig: Observation = null
    val (cur, sigConverged) = Engine.iterate(cur0, maxIters,
        done = { (prev, next) =>
          val same = nextSig.get == sig.get && next.except(prev).isEmpty
          sig = nextSig
          same
        }) { (cur, _) =>
      nextSig = Observation()
      signed(smallStar(largeStar(cur)), nextSig)
    }
    if (cur ne cur0) Engine.release(cur0)
    // terminal authority: if signatures never matched, one real
    // set-diff decides before declaring failure
    val converged = sigConverged || {
      val prev = smallStar(largeStar(cur))
      prev.except(cur).isEmpty && cur.except(prev).isEmpty
    }
    require(converged,
      s"connectedComponentsTwoPhase did not converge in $maxIters rounds")
    // star forest → labels: non-centers point at their center;
    // centers label themselves
    cur.select(col("u").as("node"), col("v").as("cluster"))
      .union(cur.select(col("v").as("node"), col("v").as("cluster")))
      .distinct()
  }

  /** INCREMENTAL maintenance: merge a batch of NEW edges into an
    * existing component labeling without recomputing the standing
    * closure. New edges CONTRACT through the standing labels (an old
    * component acts as one supernode — any edge reaching any member
    * reaches the whole component, and labels are component minima so
    * contraction preserves the final min); a CC runs on the small
    * contracted graph only; every node then relabels through
    * node → old label → merged label. Nodes seen only in the delta
    * enter as their own supernode. Work is O(|delta| + |affected
    * components|), independent of the standing corpus size — and the
    * result is IDENTICAL to a full recompute over the edge union
    * (d18's oracle certifies exactly that). */
  def incrementalComponents(labels0: DataFrame, newEdges: DataFrame): DataFrame = {
    val la = labels0.select(col("node").as("a"), col("cluster").as("ca"))
    val lb = labels0.select(col("node").as("b"), col("cluster").as("cb"))
    val contracted = newEdges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
    val merged = connectedComponentsTwoPhase(contracted)
      .select(col("node").as("cluster"), col("cluster").as("merged"))
    val newNodes = newEdges.select(col("a").cast("long").as("node"))
      .union(newEdges.select(col("b").cast("long").as("node"))).distinct()
      .join(labels0.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster"))
    labels0.select(col("node"), col("cluster")).unionByName(newNodes)
      .join(merged, Seq("cluster"), "left")
      .select(col("node"), coalesce(col("merged"), col("cluster"))
        .as("cluster"))
  }
}
