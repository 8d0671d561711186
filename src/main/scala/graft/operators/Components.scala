package graft.operators

import org.apache.spark.sql.DataFrame
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

  /** Order-free 64-bit XOR fold as an AccumulatorV2. XOR is
    * self-inverse, so a retried task CANCELS its own contribution —
    * which is why every consumer treats the folded signature as a
    * trigger for an authoritative set-diff, never as the verdict
    * itself. */
  final class XorAccumulator
    extends org.apache.spark.util.AccumulatorV2[java.lang.Long, java.lang.Long] {
    private var x = 0L
    override def isZero: Boolean = x == 0L
    override def copy(): XorAccumulator = {
      val c = new XorAccumulator; c.x = x; c
    }
    override def reset(): Unit = x = 0L
    override def add(v: java.lang.Long): Unit = x ^= v.longValue
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[java.lang.Long, java.lang.Long])
        : Unit = x ^= o.value.longValue
    override def value: java.lang.Long = x
  }

  /** Connected components of the undirected graph given by `edges`
    * (two LONG columns `a`, `b`). Returns one row per distinct node:
    * (node, cluster) where cluster = min node id reachable.
    *
    * Convergence detection rides the materialization job for FREE:
    * the round's snapshot already computes every (old, new) label
    * pair, so a changed-row accumulator incremented inside that pass
    * replaces any separate probe — one Spark job per round total,
    * for every CC consumer (d9/d18, g10, g11, m17,
    * x20/x24/x42/x49). Task retries can only OVER-count the
    * accumulator, and over-counting a zero-change round is
    * impossible (its retries add 0), so `changed == 0 ⟺ fixpoint`
    * holds exactly even under speculative/re-run tasks. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // symmetric closure once, reused every round
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().snapshot()
    // round 0's labels are a LAZY view over the pinned sym — the
    // round-1 materialization computes them in its own pass, so no
    // separate init job exists
    val labels0 = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var changed: org.apache.spark.util.LongAccumulator = null
    val (labels, converged) = Engine.iterate(labels0, maxIters,
        done = (_, _) => changed.value == 0L) { (labels, round) =>
      val acc = spark.sparkContext.longAccumulator(s"cc-changed-${round - 1}")
      changed = acc
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_min"))
      labels.alias("l")
        .join(nbrMin.alias("p"), col("l.node") === col("p.a"), "left")
        .select(col("l.node").as("node"),
          least(col("l.label"), coalesce(col("p.nbr_min"), col("l.label")))
            .as("label"),
          col("l.label").as("old"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (n, nl, ol) =>
            if (nl != ol) acc.add(1L)
            (n, nl)
          }
        }
        .toDF("node", "label")
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
    * Convergence detector: (edge count, XOR of per-edge xxhash64)
    * folded by accumulators INSIDE each round's materialization pass
    * — zero extra jobs (XOR is order-independent and cannot
    * overflow). Signature equality is necessary but not sufficient,
    * so the terminal round CONFIRMS with one real set diff
    * (`except`) — the expensive comparison runs exactly once, and a
    * hash collision or a retry-skewed fold can only send the loop
    * around again (or trip the one-shot maxIters confirm), never end
    * it on a non-fixpoint. At the fixpoint the edge
    * set is a star forest: every non-minimum node holds exactly one
    * edge to its component minimum. Returns the same contract as
    * `connectedComponents`: (node, cluster = min reachable id). */
  def connectedComponentsTwoPhase(edges: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical orientation large → small; (u, v) with u > v
    val cur0 = e
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().snapshot()

    def signature(ed: DataFrame): (Long, Long) = {
      val r = ed.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

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
    // m(u) = min of those; emitted pairs stay canonical because
    // m(u) is the group minimum
    def smallStar(ed: DataFrame): DataFrame = {
      val mins = ed.groupBy(col("u")).agg(min(col("v")).as("m"))
      ed.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // the round signature rides the materialization pass (the
    // min-label accumulator discipline): count + order-free XOR of
    // per-edge hashes, folded while the snapshot job computes the
    // rows — no separate aggregate job per round. A task RETRY
    // skews both folds (xor self-cancels, count over-counts), but
    // never the RESULT: signature equality is only ever a
    // trigger for the authoritative except-diff confirm in `done`,
    // and a skew-missed equality just runs one more round (bounded by
    // the terminal confirm at maxIters).
    var sig = signature(cur0)
    var roundSig: () => (Long, Long) = null
    val (cur, sigConverged) = Engine.iterate(cur0, maxIters,
        done = { (prev, next) =>
          val nextSig = roundSig()
          val same = nextSig == sig && next.except(prev).isEmpty
          sig = nextSig
          same
        }) { (cur, round) =>
      val cnt = spark.sparkContext.longAccumulator(s"cc2-count-${round - 1}")
      val xor = new XorAccumulator
      spark.sparkContext.register(xor, s"cc2-xor-${round - 1}")
      roundSig = () => (cnt.value.longValue, xor.value.longValue)
      smallStar(largeStar(cur))
        .select(col("u"), col("v"), xxhash64(col("u"), col("v")).as("h"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (u, v, h) => cnt.add(1L); xor.add(h); (u, v) }
        }
        .toDF("u", "v")
    }
    if (cur ne cur0) Engine.release(cur0)
    // terminal authority: if signatures never matched (e.g. skewed by
    // retries), one real set-diff decides before declaring failure
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
