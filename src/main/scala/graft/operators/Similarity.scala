package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.cosineSim
import graft.functions.VectorFunctions.lshBucket
import graft.Engine
import graft.Engine.SnapshotOps

/** Similarity search over an embeddings table (vec_id LONG,
  * embedding ARRAY<FLOAT>, label INT) — the second LLM-pipeline
  * family. Two plans:
  *
  *  - brute-force top-k: broadcast the (small) query set against the
  *    corpus — a broadcast nested loop whose inner work is one
  *    codegen'd cosine per row; correct baseline at any corpus size
  *    as long as the query set stays broadcastable;
  *  - sign-LSH ANN: join queries to corpus on a hyperplane-sign
  *    bucket — candidate set shrinks ~2^planes-fold, the 100 TB path
  *    (the IVF analog: bucket = inverted-list key).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector (brute
    * force). The rank window partitions by query — fine for a
    * bounded query set; for huge query sets switch to a partial
    * per-partition top-k aggregation before the final rank. */
  def knnBruteForce(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = embeddings.alias("c")
      .join(broadcast(queries.alias("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** ANN top-k via sign-LSH: only candidates in the query's bucket
    * are scored. Equi-join on bucket — no cross join anywhere in the
    * plan. */
  def knnLsh(embeddings: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 4, dim: Int = 64): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), planes, dim).as("bucket"))
    val qs = queries
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), planes, dim).as("bucket"))
    val joined = corpus.alias("c")
      .join(broadcast(qs.alias("q")),
        col("q.bucket") === col("c.bucket") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its
    * nearest centroid's cell (the inverted list); queries search only
    * their own cell. Here the "trained" centroids are a deterministic
    * stand-in (a fixed id-range of corpus vectors) so the oracle can
    * restate the whole index build; KMeans.train feeds real Lloyd's
    * centroids through the same API. Plan shape: the whole centroid
    * set folds into ONE broadcast row of (centroid_id, embedding)
    * structs, and each vector's cell is a per-row argmax over that
    * array — a NARROW projection (no exchange of corpus rows at all;
    * the round-2 Window.partitionBy(vec_id) argmax shuffled
    * |corpus|×|centroids| rows, which would dwarf the search itself
    * at 100 TB) — then the cell-keyed equi-join. No cross join
    * between corpus and corpus. */
  def knnIvf(embeddings: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int): DataFrame = {
    val corpusCells = assignCells(embeddings, centroids)
    val queryCells = assignCells(queries, centroids)
    val joined = corpusCells.alias("c")
      .join(broadcast(queryCells.alias("q")),
        col("q.cell") === col("c.cell") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Multi-probe sign-LSH ANN: each query searches its own bucket
    * PLUS the `planes` buckets at Hamming distance 1 (one sign bit
    * flipped) — the standard recall fix for LSH's hard bucket
    * boundaries. Cost model at 100 TB: the corpus side is untouched
    * (same single bucketed scan); only the tiny broadcast query side
    * fans out ×(planes+1), so recall is bought with broadcast rows,
    * not corpus shuffle. Candidates from different probes are
    * disjoint by construction (distinct XOR masks → distinct
    * buckets), so no dedup step is needed before ranking. */
  def knnLshMultiProbe(embeddings: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 4, dim: Int = 64): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), planes, dim).as("bucket"))
    val probeMasks = array((0 until planes).map(b => lit(1L << b)) :+ lit(0L): _*)
    val qs = queries
      .select(col("vec_id"), col("embedding"),
        explode(transform(probeMasks,
          m => lshBucket(col("embedding"), planes, dim).bitwiseXOR(m)))
          .as("bucket"))
    val joined = corpus.alias("c")
      .join(broadcast(qs.alias("q")),
        col("q.bucket") === col("c.bucket") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Coarse-quantizer cell assignment, shuffle-free: centroids fold
    * into a single broadcast row holding a (cid, cemb) struct array
    * sorted ascending by cid; each vector scores the array in one
    * `transform` (cosine evaluated once per centroid) and takes the
    * argmax with a strict-`>` fold, so the FIRST maximum — the lowest
    * cid — wins ties: the exact (cos DESC, centroid_id ASC) tiebreak
    * of the oracle's row_number restatement. A NULL cosine
    * (zero-norm) never beats the accumulator; the accumulator is
    * SEEDED with the lowest cid so an all-NULL vector still lands in
    * that cell — exactly what the window's NULLS-LAST descending
    * order + cid tiebreak assigns, instead of vanishing into a
    * nonexistent cell. */
  def assignCells(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .select(struct(col("vec_id").as("cid"), col("embedding").as("cemb")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .withColumn("scored", transform(col("cents"), c =>
        struct(cosineSim(col("embedding"), c.getField("cemb")).as("cos"),
          c.getField("cid").as("cell"))))
      .withColumn("best", aggregate(col("scored"),
        struct(lit(Double.NegativeInfinity).as("cos"),
          element_at(col("cents"), 1).getField("cid").as("cell")),
        (acc, s) => when(s.getField("cos") > acc.getField("cos"), s)
          .otherwise(acc)))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
  }

  /** INDEX-HEALTH PROFILE of an IVF layout: per cell, how many
    * vectors it holds, their mean and worst cosine fit to the cell's
    * centroid, and the cell's share of the corpus — the serving-side
    * diagnostics that decide when to retrain the quantizer (falling
    * mean fit), re-balance (share skew starving the probe budget),
    * or split a cell (worst-fit outliers). Complements s12's recall
    * measurement: recall says the index is bad, this says WHERE and
    * WHY.
    *
    * Exactness: per-row fit is floored to integer micro-units before
    * any cross-row aggregation (the x31/g5 discipline — integer sums
    * are order-insensitive where double sums are not), so mean/min
    * hash identically on any engine; divisions happen once per
    * output row.
    *
    * 100 TB shape: assignCells' narrow broadcast-fold pass, one
    * partial-agg groupBy on cell (≤ |cells| rows out), and a one-row
    * broadcast total — no corpus exchange at all. */
  def cellHealth(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val fit = assignCells(embeddings, centroids)
      .join(broadcast(centroids.select(col("vec_id").as("cell"),
        col("embedding").as("cemb"))), Seq("cell"))
      .select(col("cell"),
        floor(cosineSim(col("embedding"), col("cemb")) * 1000000)
          .cast("long").as("cm"))
    val perCell = fit.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("cm")).as("sm"), min(col("cm")).as("mm"))
    val total = perCell.agg(sum(col("n_vecs")).as("n_total"))
    perCell.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        round(col("sm").cast("double") / col("n_vecs") / 1000000.0, 6)
          .as("mean_fit"),
        round(col("mm").cast("double") / 1000000.0, 6).as("worst_fit"),
        round(col("n_vecs").cast("double") / col("n_total"), 6).as("share"))
  }

  /** IVF with query-side multi-cell probing: the corpus keeps its
    * single-cell inverted lists (assignCells — one narrow pass), but
    * each QUERY searches its `nprobe` nearest centroids' cells, the
    * standard IVF recall fix for queries near a cell boundary (the
    * same asymmetry as knnLshMultiProbe: recall is bought with
    * broadcast query fan-out, never with corpus shuffle). Candidates
    * from different probes are disjoint — a corpus vector lives in
    * exactly one cell — so no dedup precedes the ranking. */
  def knnIvfProbe(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val corpusCells = assignCells(embeddings, centroids)
    val queryCells = assignCellsMulti(queries, centroids, nprobe)
    val joined = corpusCells.alias("c")
      .join(broadcast(queryCells.alias("q")),
        col("q.cell") === col("c.cell") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** ADAPTIVE-PROBE IVF search — instead of a fixed `nprobe`, each
    * query keeps opening cells (in centroid-similarity order) until
    * the CANDIDATE BUDGET is met: probe cell r+1 only while the
    * first r cells hold fewer than `budget` corpus vectors. Fixed
    * nprobe is blind to list-length skew — on an imbalanced layout
    * it scans thousands of candidates for a query landing in hot
    * cells and starves a query landing in sparse ones; the budget
    * rule spends the SAME scan cost per query and converts skew
    * into extra recall (sparse-cell queries probe wider). Always
    * probes ≥ 1 cell (the stop looks at the count BEFORE each
    * cell); empty cells carry no candidates and are skipped.
    *
    * 100 TB shape: cell sizes are a ≤|cells|-row broadcast; the
    * probe decision is a per-query window over ≤|cells| rows; the
    * only corpus exchange stays the cell equi-join with the (tiny)
    * probe set broadcast, followed by the WindowGroupLimit top-k —
    * identical cost structure to knnIvfProbe with the probe width
    * now data-driven. */
  def knnIvfAdaptive(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, budget: Int, k: Int): DataFrame = {
    val assigned = assignCells(embeddings, centroids)
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val qc = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      .crossJoin(broadcast(centroids.select(col("vec_id").as("cell"),
        col("embedding").as("cemb"))))
      .select(col("query_id"), col("qemb"), col("cell"),
        cosineSim(col("qemb"), col("cemb")).as("ccos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val probes = qc.join(broadcast(sizes), Seq("cell"))
      .withColumn("cum_before", coalesce(sum(col("cell_n")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("query_id"), col("qemb"), col("cell"))
    val nProbed = probes.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_probed"))
    val pairs = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("qemb"), col("embedding")).as("cos"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
      .join(broadcast(nProbed), Seq("query_id"))
      .select(col("query_id"), col("n_probed"), col("neighbor_id"),
        col("rnk"), round(col("cos"), 6).as("cosine"))
  }

  /** RANGE search — the other half of the vector-search API: not
    * "the k nearest" but "EVERY neighbor at least `tau` similar"
    * (radius/threshold query: duplicate detection at a fixed
    * similarity bar, recall sweeps, graph building). Served from the
    * same IVF layout as knnIvfProbe: corpus vectors live in one cell
    * each, queries probe their `nprobe` nearest cells, and the
    * threshold filter replaces the top-k window — so the plan has NO
    * sort and NO window at all, just the cell equi-join and a
    * codegen'd filter. At 100 TB that matters: a top-k needs a
    * per-query ranking pass; a range query streams join output
    * straight through the predicate. Result-size control is the
    * caller's tau (plus nprobe), exactly like production vector
    * stores' radius search. */
  def rangeSearch(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, tau: Double, nprobe: Int): DataFrame = {
    val corpusCells = assignCells(embeddings, centroids)
    val queryCells = assignCellsMulti(queries, centroids, nprobe)
    corpusCells.alias("c")
      .join(broadcast(queryCells.alias("q")),
        col("q.cell") === col("c.cell") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** kNN-GRAPH construction: for EVERY corpus vector, its k nearest
    * neighbors among the corpus itself — the all-source kNN join
    * semantic clustering, label propagation, and graph-based dedup
    * consume (d7 needs exactly this relation before its verify
    * stage). Blocked by the IVF cell layout: neighbors are searched
    * within the vector's own cell (the SemDeDup blocking); boundary
    * loss is the documented recall contract, bought back by raising
    * cell resolution or multi-assignment, never by widening the
    * join. Unlike knnIvfProbe there is NO small query side to
    * broadcast — both sides are the corpus, so the plan is a cell
    * equi-SELF-join whose two assignment subplans are identical: in
    * the shuffled-join regime (any real corpus) ReuseExchange
    * computes the assignment ONCE (spec-asserted with broadcast
    * disabled); at test SF AQE broadcasts one small side instead,
    * which recomputes the tiny assignment — the right trade at that
    * size. The per-source top-k is WindowGroupLimit-bounded so at
    * most k candidates per vector per partition reach the ranking
    * exchange. At 100 TB the join fan-out is Σ cell_pop² —
    * controlled by n_cells ≈ √N, the same knob as d7, never
    * all-pairs. */
  def knnGraph(embeddings: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    val cells = assignCells(embeddings, centroids)
    val joined = cells.alias("a")
      .join(cells.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("dst_id"),
        cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("dst_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("src_id"), col("dst_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Top-`nprobe` cell assignment: same single broadcast sorted
    * centroid row as assignCells, but each vector explodes to its
    * `nprobe` best cells. Ranking = lexicographic sort of
    * (-cosine, cid) structs, so ties and NULL cosines (zero-norm,
    * coalesced below every real score) break exactly like the
    * oracle's row_number OVER (ORDER BY cos DESC, cid). */
  def assignCellsMulti(vecs: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val centArr = centroids
      .select(struct(col("vec_id").as("cid"), col("embedding").as("cemb")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .withColumn("scored", transform(col("cents"), c =>
        struct((-coalesce(cosineSim(col("embedding"), c.getField("cemb")),
          lit(-2.0))).as("negcos"),
          c.getField("cid").as("cell"))))
      .select(col("vec_id"), col("embedding"),
        explode(slice(sort_array(col("scored")), 1, nprobe)).as("p"))
      .select(col("vec_id"), col("embedding"), col("p.cell").as("cell"))
  }

  /** Product-quantization ANN (the IVF-PQ storage scheme): the
    * corpus is ENCODED once — each vector becomes `m` small codes,
    * the per-subspace argmin over a shared codebook — and queries
    * rank candidates by ADC (asymmetric distance): the query keeps
    * full precision, the corpus side is reconstructed from its
    * codes. The 100 TB economics: an encoded 64-dim float vector
    * shrinks from 256 B to `m` bytes (32× here), so the ADC scan
    * reads codes, not embeddings, and the codebook rides along as
    * ONE broadcast row — both the encode and the ADC scan are
    * narrow projections over a broadcast (the assignCells shape),
    * with the only exchange the final per-query top-k window
    * (WindowGroupLimit-bounded). Like s3's centroids, the codebook
    * is a deterministic stand-in (sub-vectors of a fixed id-range)
    * so the oracle restates the full encode + search; a trained
    * per-subspace k-means plugs into the same API.
    *
    * Parity contract: distances accumulate in double, ascending
    * dimension order within a subspace and ascending subspace order
    * across them (both engines fold sequentially); argmin and top-k
    * tiebreaks are (distance ASC, id ASC) via first-minimum / row
    * number. Both kernels are codegen'd expressions (PqCodes /
    * PqAdc): one JVM loop per vector, not m×k interpreted HOF
    * lambdas — the encode pass is the operator's dominant cost at
    * corpus scale. */
  /** Codebook → ONE broadcast row: codewords sorted by id, flattened
    * to a position-indexed float array (k × dim) — the shape the
    * PqCodes/PqAdc kernels index. */
  private[operators] def pqFlatCodebook(codebook: DataFrame): DataFrame = codebook
    .select(struct(col("vec_id").as("j"), col("embedding").as("cw")).as("c"))
    .agg(sort_array(collect_list(col("c"))).as("cb"))
    .select(flatten(transform(col("cb"), c => c.getField("cw"))).as("cbf"))

  /** ADC pairs → top-k per query: (adist ASC, neighbor_id ASC) rank,
    * WindowGroupLimit-bounded. */
  private[operators] def pqRank(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("adist"), 6).as("adist"))
  }

  def knnPqAdc(embeddings: DataFrame, queries: DataFrame,
      codebook: DataFrame, m: Int, k: Int, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible by m $m")
    val cbFlat = pqFlatCodebook(codebook)
    val encoded = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cbFlat))
      .select(col("vec_id"),
        call_function("pq_codes", col("embedding"), col("cbf"), lit(m))
          .as("codes"))

    // ADC scan: codes + broadcast queries + broadcast codebook; the
    // full corpus embeddings are NOT read again
    val pairs = encoded
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qemb"))),
        col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(cbFlat))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("qemb"), col("codes"), col("cbf"))
          .as("adist"))
    pqRank(pairs, k)
  }

  /** The full IVF-PQ composition (s3's coarse quantizer × s7's
    * product quantizer): corpus vectors land in an IVF cell AND
    * carry PQ codes — one narrow pass computes both from the two
    * broadcast rows — and each query ADC-ranks only its own cell's
    * inverted list. This is the shape a production vector index
    * actually serves: the candidate set shrinks by the cell count
    * and the scanned bytes shrink by the PQ compression, stacking
    * both economies; the only corpus exchange is the cell equi-join
    * (queries broadcast), followed by the WindowGroupLimit-bounded
    * top-k. */
  /** The IVF-PQ index payload: ONE narrow pass computes each corpus
    * vector's coarse cell and PQ codes from the two broadcast rows —
    * knnIvfPq's first stage and exactly what VectorIndex.build
    * materializes to disk. */
  def encodeIvfPq(embeddings: DataFrame, centroids: DataFrame,
      codebook: DataFrame, m: Int): DataFrame =
    assignCells(embeddings, centroids)
      .crossJoin(broadcast(pqFlatCodebook(codebook)))
      .select(col("vec_id"), col("cell"),
        call_function("pq_codes", col("embedding"), col("cbf"), lit(m))
          .as("codes"))

  def knnIvfPq(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebook: DataFrame, m: Int, k: Int,
      dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible by m $m")
    val cbFlat = pqFlatCodebook(codebook)
    val encoded = encodeIvfPq(embeddings, centroids, codebook, m)
    val queryCells = assignCells(queries, centroids)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"),
        col("cell"))
    val pairs = encoded
      .join(broadcast(queryCells), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(cbFlat))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("qemb"), col("codes"), col("cbf"))
          .as("adist"))
    pqRank(pairs, k)
  }

  /** IVF-PQ over RESIDUALS — PQ encodes x − c(x) (each vector minus
    * its cell centroid) instead of x itself, the layout FAISS's
    * IndexIVFPQ actually ships: after coarse assignment the
    * residuals of every cell cluster around the origin, so ONE
    * shared codebook spends its 256 codewords describing a far
    * tighter distribution than raw vectors spread across all cells
    * (with k cells the residual norm shrinks roughly with cell
    * radius, not corpus radius). The ADC identity makes the search
    * exact over the same geometry: for query q and corpus x in the
    * same cell, ‖(q−c) − (x−c)‖ = ‖q−x‖, so ranking residual ADC
    * distances approximates the same neighbor order as raw ADC —
    * but with codebook error proportional to the residual scale.
    * Residuals are subtracted in FLOAT (zip_with on ARRAY<FLOAT>;
    * binary64 intermediate rounding is innocuous for float a−b, the
    * classic 2p+2 double-rounding theorem), so the oracle restates
    * every element bit-for-bit.
    *
    * 100 TB shape: identical to knnIvfPq plus one broadcast join of
    * the (tiny) centroid relation onto the corpus scan to form
    * residuals — still one narrow encode pass, one cell equi-join,
    * one WindowGroupLimit top-k. */
  /** (vec_id, cell, res) for an ALREADY-ASSIGNED relation (vec_id,
    * embedding, cell): res = embedding − centroid(cell), subtracted
    * element-wise in FLOAT against the broadcast centroid row. */
  def cellResiduals(assigned: DataFrame, centroids: DataFrame): DataFrame = {
    val cemb = centroids.select(col("vec_id").as("cell"),
      col("embedding").as("cemb"))
    assigned.join(broadcast(cemb), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cemb"), (x, c) => x - c).as("res"))
  }

  def knnIvfPqResidual(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebook: DataFrame, m: Int, k: Int,
      dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible by m $m")
    val cbFlat = pqFlatCodebook(codebook)
    def residual(assigned: DataFrame): DataFrame =
      cellResiduals(assigned, centroids)
    val encoded = residual(assignCells(embeddings, centroids))
      .crossJoin(broadcast(cbFlat))
      .select(col("vec_id"), col("cell"),
        call_function("pq_codes", col("res"), col("cbf"), lit(m))
          .as("codes"))
    val queryRes = residual(assignCells(queries, centroids))
      .select(col("vec_id").as("query_id"), col("cell"),
        col("res").as("qres"))
    val pairs = encoded
      .join(broadcast(queryRes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(cbFlat))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("qres"), col("codes"), col("cbf"))
          .as("adist"))
    pqRank(pairs, k)
  }

  /** IVF-PQ with an exact RE-RANK refine stage — the two-stage shape
    * every production vector index serves: the ADC scan over codes
    * produces a `shortlist` of candidates per query (cheap,
    * compressed-domain, slightly lossy), then ONLY those candidates
    * are re-scored against their full-precision embeddings and the
    * final top-k ranks by exact cosine. PQ's quantization error is
    * confined to the shortlist boundary — the returned scores are
    * exact. 100 TB economics: the refine join touches |Q|×shortlist
    * rows, so the candidates BROADCAST onto the corpus scan (the
    * corpus is read narrowly a second time for just the shortlisted
    * vec_ids — in production that read is served by the row-group
    * index of the persisted embedding table, not a full scan). */
  def knnIvfPqRerank(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebook: DataFrame, m: Int,
      shortlist: Int, k: Int, dim: Int = 64): DataFrame = {
    val short = knnIvfPq(embeddings, queries, centroids, codebook, m,
      shortlist, dim)
      .select(col("query_id"), col("neighbor_id"))
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"))
    val pairs = embeddings
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qemb), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qemb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Recall@k of an IVF-probe search against the brute-force ground
    * truth, as a first-class QUERY — the evaluation loop an index
    * owner runs after every (re)build: per query, the fraction of
    * true top-k neighbors the ANN search returned. Both sides are
    * top-k sets keyed (query_id, neighbor_id); the compare is a
    * broadcast-sized left join (|Q|×k rows), so the evaluation costs
    * two searches and nothing more. */
  def annRecall(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val truth = knnBruteForce(embeddings, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val ann = knnIvfProbe(embeddings, queries, centroids, k, nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / k.toDouble, 6).as("recall"))
  }

  /** Binary-quantization ANN with exact re-rank — the 1-bit-per-dim
    * compression scheme (64-dim float32 → two packed 32-bit sign
    * words, 32× smaller): candidates rank by Hamming distance
    * (two XOR + popcount per pair — the cheapest distance any index
    * serves), a per-query `shortlist` survives, and only the
    * shortlist is re-scored by exact cosine for the final top-k —
    * s11's refine shape over an even cheaper first stage. 100 TB
    * economics: the Hamming scan reads 8 bytes/vector instead of
    * 256 and the distance is two fused integer ops, so the first
    * stage is bandwidth-bound at the compressed size; packing is a
    * row-local fold (one narrow pass), queries broadcast, and the
    * only exchange is the WindowGroupLimit-bounded top-k. */
  def knnBinaryRerank(embeddings: DataFrame, queries: DataFrame,
      shortlist: Int, k: Int, dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.signWord
    def packed(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      signWord(col("embedding"), 0, dim / 2).as("w0"),
      signWord(col("embedding"), dim / 2, dim).as("w1"))
    // Hamming stage: only (query_id, neighbor_id, hamming) flows into
    // the top-k shuffle — the embeddings themselves stay behind (8
    // bytes/pair through the exchange, not 512).
    val corpus = packed(embeddings).drop("embedding")
    val qs = packed(queries).select(col("vec_id").as("query_id"),
      col("w0").as("q0"), col("w1").as("q1"))
    val ham = call_function("bit_count", col("q0").bitwiseXOR(col("w0"))) +
      call_function("bit_count", col("q1").bitwiseXOR(col("w1")))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    val short = corpus.join(broadcast(qs), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ham.cast("int").as("hamming"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // Refine stage (s11's shape): the tiny shortlist broadcasts back
    // onto the embedding scan; exact cosine ranks the final top-k.
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"))
    val pairs = embeddings
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qemb), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qemb"), col("embedding")).as("cos"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Truncated-prefix (Matryoshka) ANN with exact re-rank: the
    * shortlist stage scores cosine over only the FIRST `prefixDim`
    * dimensions — the nested-prefix property MRL-trained embeddings
    * are built for (a 16-dim prefix of a 64-dim vector is itself a
    * usable embedding) — then the shortlist re-ranks by full-dim
    * exact cosine (s11's refine shape). 100 TB economics: the
    * first-stage scan reads prefixDim/dim of the embedding bytes
    * (columnar layout makes the prefix slice nearly free) and the
    * per-pair cost drops by the same factor; like s13, only
    * (query_id, neighbor_id, score) rides the top-k exchange. */
  def knnTruncatedRerank(embeddings: DataFrame, queries: DataFrame,
      prefixDim: Int, shortlist: Int, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDim).as("ct"))
    val qs = queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, prefixDim).as("qt"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("tcos").desc, col("neighbor_id"))
    val short = corpus.join(broadcast(qs), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("qt"), col("ct")).as("tcos"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"))
    val pairs = embeddings
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qemb), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qemb"), col("embedding")).as("cos"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Embedding near-duplicate pairs: self-join on LSH bucket, verify
    * with exact cosine >= threshold. The all-pairs comparison is
    * confined to within-bucket groups. */
  def embedNearDupPairs(embeddings: DataFrame, threshold: Double,
      planes: Int = 4, dim: Int = 64): DataFrame = {
    val b = embeddings.select(col("vec_id"), col("label"), col("embedding"),
      lshBucket(col("embedding"), planes, dim).as("bucket"))
    b.alias("a").join(b.alias("b"),
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (col("a.label") === col("b.label")).as("same_label"),
        cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("same_label"),
        round(col("cos"), 6).as("cosine"))
  }

  /** SCALAR (int8) QUANTIZATION search — the remaining rung of the
    * compression ladder (PQ = codebooks, binary = signs, MRL =
    * prefixes; SQ = per-DIMENSION affine int8, what FAISS
    * ScalarQuantizer/Milvus SQ8 serve in production): train per-dim
    * [min, max] over the corpus (ONE 64-row partial agg folded to a
    * broadcast row), encode each vector to codes in 0..255 with
    * code = floor((x−min)/(max−min)·255 + 0.5), and serve top-k by
    * cosine of the query against the RECONSTRUCTION
    * xhat = min + code·(max−min)/255 — 4× smaller vectors at recall
    * loss bounded by the per-dim grid step.
    *
    * Exactness across engines: every step is the same double
    * expression tree from exactly-representable inputs (float casts,
    * selection min/max — never a float SUM), so codes are identical
    * integers and reconstructions identical doubles; the rank
    * orders on those with a neighbor_id tie-break. A constant
    * dimension (max = min) encodes to 0 and reconstructs the
    * constant exactly.
    *
    * 100 TB shape: training is one (dim) partial agg — 64 rows out
    * per partition; encode + serve are narrow projections over the
    * corpus scan with the stats row and query set broadcast. At
    * corpus scale the SQ codes would persist next to the vectors
    * (the s10 lifecycle) and serving reads codes only. */
  def knnSq8(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val stats = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("lo")))),
          p => p.getField("lo")).as("dmin"),
        transform(array_sort(collect_list(struct(col("dim"), col("hi")))),
          p => p.getField("hi")).as("dmax"))
    val recon = embeddings.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        transform(sequence(lit(0), size(col("embedding")) - 1), i => {
          val x = element_at(col("embedding"), i + 1).cast("double")
          val lo = element_at(col("dmin"), i + 1)
          val hi = element_at(col("dmax"), i + 1)
          val code = when(hi > lo,
            floor((x - lo) / (hi - lo) * lit(255.0) + lit(0.5)))
            .otherwise(lit(0.0))
          lo + code * (hi - lo) / lit(255.0)
        }).as("xhat"))
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, v) => acc + v)
    def dot(a: Column, b: Column): Column =
      fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val joined = recon.alias("c")
      .join(broadcast(queries.alias("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        (dot(col("q.embedding"), col("c.xhat")) /
          (sqrt(dot(col("q.embedding"), col("q.embedding"))) *
            sqrt(dot(col("c.xhat"), col("c.xhat"))))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("int").as("rnk"),
        round(col("cos"), 6).as("cosine_sq8"))
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein 1998):
    * diversified re-ranking of a relevance shortlist — greedily pick
    * the candidate maximizing 0.7·relevance − 0.3·(max similarity to
    * anything already picked), so the result set trades raw
    * relevance for coverage (the dedup-at-serve-time the d-family
    * does at ingest). The greedy loop is UNROLLED as `kOut`
    * DataFrame steps — deterministic, expressible identically as
    * unrolled oracle CTEs, and cheap because every step operates on
    * the tiny checkpointed shortlist, never the corpus. λ and 1−λ
    * are both passed as literal doubles (computing 1−0.7 in binary
    * gives 0.30000000000000004 — a hash-breaking ulp against the
    * oracle's literal 0.3).
    *
    * 100 TB shape: the corpus pays ONE brute-force scored pass
    * (replaceable by any s-family ANN shortlist); everything after
    * — the ≤k² pair sims and the unrolled argmax steps — is
    * shortlist-sized. Shortlist + pair relations are eagerly
    * snapshotted so the 5-step plan re-reads k·|queries| rows, not
    * the corpus. The step state is the one `selected` frame — the
    * still-eligible candidates are the shortlist left-anti it —
    * pinned once per step on `Engine.iterate`, which releases the
    * step it replaces. */
  def mmrDiversify(embeddings: DataFrame, queries: DataFrame,
      kShort: Int = 20, kOut: Int = 5): DataFrame = {
    val scored = embeddings.alias("c")
      .join(broadcast(queries.alias("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("vec_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("rel"))
    val wSl = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val sl = scored.withColumn("rnk", row_number().over(wSl))
      .filter(col("rnk") <= kShort)
      .select(col("query_id"), col("vec_id"), col("rel"))
      .snapshot()
    val e = embeddings.select(col("vec_id").as("eid"), col("embedding"))
    val pair = sl.alias("a")
      .join(sl.select(col("query_id"), col("vec_id").as("idb")), Seq("query_id"))
      .filter(col("vec_id") =!= col("idb"))
      .join(e.alias("ea"), col("vec_id") === col("ea.eid"))
      .join(e.alias("eb"), col("idb") === col("eb.eid"))
      .select(col("query_id"), col("vec_id").as("ida"), col("idb"),
        cosineSim(col("ea.embedding"), col("eb.embedding")).as("sim"))
      .snapshot()
    val selected0 = sl.withColumn("rk", row_number().over(wSl))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("vec_id"),
        lit(1).as("step"), col("rel").as("mmr"))
    // one iterate round per step ≥ 2 — truncating lineage per step
    // (the Components/PageRank discipline): without it each step's
    // plan re-nests every prior step's windows and anti-joins, and the
    // final plan re-evaluates them multiplicatively — the frames are
    // kOut·|queries| rows, so the eager materialization is cheap
    val (selected, _) = Engine.iterate(selected0, kOut - 1) { (selected, i) =>
      val remaining = sl.join(selected.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      val cand = remaining.alias("r")
        .join(pair.alias("p"),
          col("r.query_id") === col("p.query_id") &&
          col("r.vec_id") === col("p.ida"))
        .join(selected.select(col("query_id").as("sq"),
          col("vec_id").as("sid")),
          col("p.query_id") === col("sq") && col("p.idb") === col("sid"))
        .groupBy(col("r.query_id").as("query_id"),
          col("r.vec_id").as("vec_id"), col("r.rel").as("rel"))
        .agg(max(col("p.sim")).as("msim"))
        .withColumn("score",
          lit(0.7) * col("rel") - lit(0.3) * col("msim"))
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val pick = cand.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("vec_id"),
          lit(i + 1).as("step"), col("score").as("mmr"))
      selected.union(pick)
    }
    Engine.release(pair)
    if (kOut > 1) Engine.release(sl) // one step: selected0 reads it
    selected.select(col("query_id"), col("vec_id"), col("step"),
      round(col("mmr"), 6).as("mmr"))
  }

  /** Random-projection (Johnson–Lindenstrauss) search: project every
    * vector to `m` dims with a DETERMINISTIC ±1 sign matrix (sign of
    * (j,d) = parity of an LCG step on j·64+d — pseudo-random,
    * balanced, and restatable in exact integer arithmetic on any
    * engine, where a seeded float RNG would not be), then rank by
    * exact L2 in the PROJECTED space. The dimensionality-reduction
    * member of the compression scorecard (SQ8 = value quantization,
    * PQ = subspace codebooks, BQ = 1-bit signs; JL cuts the
    * dimension itself — distances distort by at most 1±ε with
    * m = O(log n / ε²), the JL lemma). Both folds (projection over d,
    * distance over j) run in fixed ascending order, so every double
    * is bit-identical cross-engine and the result hashes.
    *
    * 100 TB shape: projection is a row-local narrow map (64 floats →
    * m doubles, no exchange, codegen'd HOFs); the scored join
    * broadcasts the bounded query set and pays m instead of 64
    * multiplies per pair — the corpus never shuffles. */
  def knnRandomProjection(embeddings: DataFrame, queries: DataFrame,
      k: Int, m: Int = 16): DataFrame = {
    val projExpr =
      s"""transform(sequence(0, ${m - 1}), j ->
         |  aggregate(sequence(0, 63), cast(0 as double), (acc, d) ->
         |    acc + cast(element_at(embedding, d + 1) as double) *
         |      (1 - 2 * (((cast(j * 64 + d as bigint) * 1103515245
         |        + 12345) div 65536) % 2))))""".stripMargin
    val cp = embeddings.select(col("vec_id"), expr(projExpr).as("p"))
    val qp = queries.select(col("vec_id").as("query_id"),
      expr(projExpr).as("qp"))
    val scored = cp.alias("c")
      .join(broadcast(qp), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qp"), col("p"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b)
          .as("dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("int").as("rnk"),
        round(col("dist"), 6).as("dist_rp"))
  }

  /** TOP PRINCIPAL COMPONENT of an embedding corpus — exact-integer
    * covariance + fixed power iterations, entirely hash-gated (the
    * spectral statistic behind whitening, anisotropy diagnosis and
    * the "is one direction eating the variance" check run before
    * trusting cosine distances). The whole computation lives on the
    * micro-unit lattice so it is bit-identical across engines:
    *
    *  - components quantize to round(x·1e6) longs; the scatter about
    *    the (floor'd) lattice mean expands by the one-pass identity
    *    S[i][j] = Σxᵢxⱼ − mⱼΣxᵢ − mᵢΣxⱼ + n·mᵢmⱼ with every term an
    *    exact decimal(38,0) — no second centering pass over the
    *    corpus, no float accumulation anywhere;
    *  - `iters` power iterations: w = S·v (exact), then v ← w·1e6
    *    div max|w| (truncating integral division both engines share),
    *    seeded at the all-ones micro vector — deterministic, no RNG;
    *  - the leading-variance share is the Rayleigh quotient
    *    λ = vᵀSv div vᵀv scaled against trace(S), again in exact
    *    integer steps (identical floor sequence on both engines).
    *
    * 100 TB shape: ONE corpus pass — the `scatter_moments` fold
    * (functions/ScatterMoments.scala) collapses every partition to a
    * single O(dim²) buffer of exact 128-bit integer sums before the
    * exchange (no per-product rows are ever materialized — this
    * retired a 2080-struct-per-row explode spelling, kept as
    * `momentFramesExplode` under a bit-exactness parity spec);
    * everything after the moment aggregate operates on
    * 64-to-4096-row frames chained lazily in a single Catalyst plan
    * (the one-row moment frame is snapshotted so the three
    * consumers — two iterations and the Rayleigh edge — don't
    * recompute the corpus pass). Magnitude audit: |S| ≤ n·1e12, so
    * vᵀSv ≤ 4096·n·1e24 stays inside decimal(38,0) up to n ≈ 2.4e10
    * corpus rows; beyond that, shard the moment pass and merge
    * (documented escalation).
    */
  def topPrincipalComponent(vecs: DataFrame, dim: Int = 64,
      iters: Int = 2): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val micro = vecs.select(transform(col("embedding"),
      x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long")).as("xu"))
    // ONE distributed job: the scatter_moments fold reduces the
    // corpus to a single O(dim²) row of exact integer sums; the
    // collect is a scalar-stats fetch (n, 64 sums, 2080 products),
    // NOT a data collect — the same shape MLlib's RowMatrix
    // .computePrincipalComponents uses (collect the Gramian,
    // eigen-solve on the driver).
    val mom = micro.agg(expr(s"scatter_moments(xu, $dim)").as("m"))
      .select(col("m.n"), col("m.sx"), col("m.sxy")).collect().head
    val n = BigInt(mom.getLong(0))
    if (n == 0) {
      return Seq.empty[(Int, Long, Long)]
        .toDF("dim", "loading_ppm", "lead_share_ppm")
    }
    val sx = mom.getSeq[Long](1).map(BigInt(_)).toArray
    val sxyUp = mom.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)), BigInt(r.getDecimal(2).toBigInteger)))
      .toMap
    // All remaining arithmetic is the SAME exact integer sequence the
    // former distributed spelling ran (BigInt `/` and Spark's `div`
    // both truncate toward zero), just on dim²-sized driver arrays.
    val m = sx.map(_ / n) // sx div n
    val s = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      sxyUp((a, b)) - m(j) * sx(i) - m(i) * sx(j) + n * m(i) * m(j)
    }
    var v = Array.fill(dim)(BigInt(1000000L))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => s(i)(j) * v(j)).sum)
      val mw = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => (x * 1000000) / mw)
    }
    val sv = Array.tabulate(dim)(i =>
      (0 until dim).map(j => s(i)(j) * v(j)).sum)
    val vsv = (0 until dim).map(i => sv(i) * v(i)).sum
    val vv = (0 until dim).map(i => v(i) * v(i)).sum
    val tr = (0 until dim).map(i => s(i)(i)).sum
    val leadShare =
      ((vsv / vv.max(BigInt(1))) * 1000000) / tr.max(BigInt(1))
    val out = (0 until dim).map(d =>
      (d, v(d).toLong, leadShare.toLong))
    spark.createDataFrame(out).toDF("dim", "loading_ppm", "lead_share_ppm")
  }

  /** The exact integer moments of a micro-lattice corpus, as the
    * three frames the scatter build consumes: upper-triangle product
    * sums (i, j, sxy decimal(38,0)), per-dimension sums (d, sx), and
    * the one-row count (n). ONE corpus pass through the
    * `scatter_moments` fold — each partition ships a single O(dim²)
    * 128-bit-exact buffer, no per-product rows exist anywhere. The
    * one-row result is snapshotted so the downstream consumers
    * (mirror union, means, scatter assembly) never re-run the
    * corpus pass. */
  private[graft] def momentFrames(micro: DataFrame, dim: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val mom = micro.agg(expr(s"scatter_moments(xu, $dim)").as("m"))
      .snapshot()
    val sxyUp = mom.select(explode(col("m.sxy")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"),
        col("t.sxy").as("sxy"))
    val sx = mom.select(posexplode(col("m.sx")).as(Seq("d", "sx")))
      .select(col("d").cast("int").as("d"), col("sx"))
    val nRow = mom.select(col("m.n").as("n"))
    (sxyUp, sx, nRow)
  }

  /** RETIRED spelling of [[momentFrames]], kept as the parity oracle
    * for the fold: per row, explode the dim·(dim+1)/2 upper-triangle
    * `struct(i,j,p)` products and hash-aggregate them (map-side
    * combine bounds the exchange at ≤tri rows per partition, but the
    * row amplification is pure CPU — 8.8× DuckDB at sf0.1, which is
    * why the fold replaced it). Bit-identical to the fold by
    * construction: same Long products, same exact integer sums. */
  private[graft] def momentFramesExplode(micro: DataFrame, dim: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val dec = "decimal(38,0)"
    val prods = micro.select(explode(flatten(transform(
      sequence(lit(0), lit(dim - 1)), i => transform(
        sequence(i, lit(dim - 1)), j => struct(i.cast("int").as("i"),
          j.cast("int").as("j"),
          (element_at(col("xu"), i + 1) *
            element_at(col("xu"), j + 1)).as("p")))))).as("t"))
    val sxyUp = prods.groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p").cast(dec)).as("sxy"))
    val sx = micro.select(posexplode(col("xu")).as(Seq("d", "xv")))
      .groupBy(col("d")).agg(sum(col("xv")).as("sx"))
      .select(col("d").cast("int").as("d"), col("sx"))
    val nRow = micro.agg(count(lit(1)).as("n"))
    (sxyUp, sx, nRow)
  }

  /** PQ DISTORTION AUDIT — the index-quality number behind every
    * ADC ranking: per subspace, the quantization error the codes
    * carry (squared L2 between each subvector and its chosen
    * codeword). A subspace whose mean error dwarfs the others is
    * where recall dies first — it tells the operator to re-train
    * that codebook, raise k, or rotate (OPQ) before trusting s7/s8
    * rankings. The per-pair fold is the EXACT pq_codes/pq_adc kernel
    * arithmetic (floats widened to double, ascending-dim
    * accumulation), so the chosen codeword and the error agree
    * bit-for-bit with the serving path; errors quantize to
    * micro-units at the row and aggregate as exact longs (the x47
    * discipline).
    *
    * 100 TB shape: codebook broadcasts; the corpus pass is one
    * narrow projection (encode + per-subspace fold, no explode of
    * the codeword axis — pq_codes already did the argmin) into an
    * m-row partial agg. */
  def pqDistortion(embeddings: DataFrame, codebook: DataFrame,
      m: Int, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    val cbFlat = pqFlatCodebook(codebook)
    val err = aggregate(sequence(lit(1), lit(sub)), lit(0.0), (acc, d) => {
      val ve = element_at(col("embedding"),
        col("ms") * sub + d).cast("double")
      val ce = element_at(col("cbf"),
        col("cj") * dim + col("ms") * sub + d).cast("double")
      acc + (ve - ce) * (ve - ce)
    })
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cbFlat))
      .select(col("embedding"), col("cbf"),
        posexplode(call_function("pq_codes", col("embedding"), col("cbf"),
          lit(m))).as(Seq("ms", "cj")))
      .select(col("ms"),
        floor(err * 1000000.0).cast("long").as("err_micro"))
      .groupBy(col("ms"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micro")).as("total_err_micro"),
        max(col("err_micro")).as("max_err_micro"))
      .select(col("ms").cast("int").as("subspace"), col("n_vecs"),
        col("total_err_micro"), col("max_err_micro"),
        expr("total_err_micro div n_vecs").as("mean_err_micro"))
  }
}
