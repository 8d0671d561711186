package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.Engine.SnapshotOps

/** Deduplication operators over a document corpus — the first
  * LLM-data-pipeline family (BASELINE.json north star). Each method
  * takes a DataFrame with (doc_id LONG, text STRING) and is designed
  * for the 100 TB shape:
  *
  *  - per-document features (tokens, shingles, hashes) are computed
  *    EXACTLY ONCE: shingle hashing goes through explode → partial
  *    min-aggregation (map-side combine reduces each partition to one
  *    row per doc before the shuffle), never through nested
  *    higher-order expressions that Catalyst would re-evaluate per
  *    band/per join row;
  *  - candidate generation shuffles ONLY on the LSH band key (or an
  *    explicit blocking key) — never an all-pairs cross join;
  *  - pair verification intersects arrays of int64 feature hashes,
  *    not strings — cheap set ops, identical Jaccard on both engines.
  */
object Dedup {

  /** Exact dedup bookkeeping: group by content hash (md5 of the raw
    * text), survivor = min doc_id. One partial-aggregated shuffle on
    * a uniformly distributed 128-bit key — the canonical exact-dedup
    * plan at any scale. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))

  /** INCREMENTAL exact dedup — the ingest-time shape: a new `batch`
    * of documents is admitted only where its content hash appears
    * nowhere in the existing `corpus`, then deduplicated within
    * itself (survivor = min doc_id, with the batch-duplicate count
    * kept for the ingest ledger). Two equi-joins-worth of work on the
    * 128-bit hash key: one LEFT ANTI against the corpus hash set and
    * one partial-aggregated groupBy inside the (small) batch. At
    * 100 TB the corpus side is a materialized, bucketed hash table —
    * the anti-join then co-locates with zero corpus shuffle and only
    * the day's batch moves; a bloom prefilter (the x15 build) in
    * front drops the obvious non-members before the join. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val corpusHashes = corpus
      .select(md5(col("text")).as("content_hash")).distinct()
    batch.select(md5(col("text")).as("content_hash"), col("doc_id"))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
  }

  /** Exact-dedup summary: total docs, distinct contents, removable
    * copies. */
  def exactSummary(docs: DataFrame): DataFrame =
    exactGroups(docs).agg(
      sum(col("n_copies")).as("n_docs"),
      count(lit(1)).as("n_distinct"),
      (sum(col("n_copies")) - count(lit(1))).as("n_removable"))

  /** Single-scan per-document shingle features: ONE explode + ONE
    * aggregation yields both the sorted distinct hash set (for exact
    * Jaccard verification via intersect_count) and the k MinHash
    * minima mh0..mh{k-1}. Partial aggregation combines map-side, and
    * every downstream consumer (band rows ×2, verify sides ×2) reads
    * the same shuffle via ReuseExchange — shingles are hashed exactly
    * once per corpus scan. */
  def shingleFeatures(docs: DataFrame, k: Int = 12): DataFrame = {
    val hashed = docs.select(col("doc_id"),
        explode(shingles3(tokens(col("text")))).as("s"))
      .select(col("doc_id"), polyHash(col("s")).as("h"))
    val minAggs = (0 until k).map { j =>
      min((col("h") * (2 * j + 1) + lit(7919L * j)) % MinhashP).as(s"mh$j")
    }
    hashed.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("hashes"), minAggs: _*)
  }

  /** LSH candidate pairs: band the signature columns into (band,
    * band_hash) rows and self-join on the band key — docs collide in
    * a band iff all r=3 slots agree, so the join fan-out is the
    * candidate set, not all pairs. Both join sides are the same
    * subplan → Spark's ReuseExchange materializes the shuffle once.
    *
    * Mega-bucket guard: a bucket with more than `maxBucket` members
    * is a boilerplate cluster whose pair fan-out is quadratic; those
    * buckets are EXCLUDED from pair generation (the window count
    * shares the join's partitioning, so the guard costs no extra
    * shuffle). Exact dedup (d1) is the right tool for such clusters;
    * AQE skew-split handles everything below the cap. */
  /** The (doc_id, band, band_hash) rows of a signature frame, with
    * an optional bucket-population cap (the d2 mega-bucket guard).
    * Shared by the self-join candidate path and the persisted-index
    * build (d13). */
  def bandRowsOf(sigs: DataFrame, bands: Int = 4,
      maxBucket: Option[Int] = None): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val s1 = col(s"mh${3 * b}"); val s2 = col(s"mh${3 * b + 1}")
      val s3 = col(s"mh${3 * b + 2}")
      struct(lit(b).as("band"),
        (((s1 * 31 + s2) % MinhashP * 31 + s3) % MinhashP).as("band_hash"))
    }
    val rows = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_hash").as("band_hash"))
    maxBucket match {
      case Some(m) =>
        val bucketW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))
        rows.withColumn("bucket_n", count(lit(1)).over(bucketW))
          .filter(col("bucket_n") <= m)
          .drop("bucket_n")
      case None => rows
    }
  }

  def lshCandidates(sigs: DataFrame, bands: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    val bandRows = bandRowsOf(sigs, bands, Some(maxBucket))
    val a = bandRows.alias("a")
    val b = bandRows.alias("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-dup pairs: LSH candidates verified with exact Jaccard over
    * the sorted shingle-hash sets, kept at >= `threshold`. */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // pin the feature frame: the band build and BOTH verify sides
    // read it, and without the materialization the shingle+minhash
    // pass (the CPU-dominant stage) runs three times inside one plan
    // (no exchange is shared across those subtrees, so ReuseExchange
    // cannot dedup it). One corpus-width materialization vs 3×
    // recompute is the right trade at any scale — minhashing is
    // arithmetic-bound, the features row is narrow (signature +
    // hash set), and reliable-snapshot mode spills it to the
    // shared FS instead of storage memory.
    val features = shingleFeatures(docs).snapshot()
    val cands = lshCandidates(features)
    val feats = features.select(col("doc_id"), col("hashes"))
    cands
      .join(feats.alias("x"), col("doc_a") === col("x.doc_id"))
      .join(feats.alias("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("x.hashes"), col("y.hashes")).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Persisted NEAR-DUP INDEX, build half (d13 — the s10 lifecycle
    * for dedup): materialize the corpus' LSH band table (partitioned
    * by band — the on-disk posting list) and its verify features
    * (doc_id, hashes), once. Daily batches then probe the stored
    * tables without recomputing anything corpus-side. The
    * mega-bucket cap is applied at BUILD time over the corpus
    * population — a boilerplate bucket is excluded from the index
    * the same way d2 excludes it from pairing. */
  def nearDupIndexBuild(corpus: DataFrame, path: String,
      maxBucket: Int = 64): Unit = {
    val features = shingleFeatures(corpus)
    graft.sources.Writers.writePartitioned(
      bandRowsOf(features, maxBucket = Some(maxBucket)),
      s"$path/bands", Seq("band"))
    graft.sources.Writers.writePartitioned(
      features.select(col("doc_id"), col("hashes")),
      s"$path/features", Seq.empty)
  }

  /** Probe half: the batch's band rows (uncapped — the cap is a
    * corpus-population property, already baked into the stored
    * table) equi-join the stored posting list; verification joins
    * the stored hash sets against the batch's. ONE narrow feature
    * pass over the batch + two keyed joins; the standing corpus is
    * never re-scanned — the x23 incremental-dedup shape upgraded
    * from exact to NEAR duplicates. */
  def nearDupIndexProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, threshold: Double): DataFrame = {
    val bf = shingleFeatures(batch)
    val stored = spark.read.parquet(s"$path/bands")
      .select(col("doc_id").as("doc_corpus"), col("band").cast("int").as("band"),
        col("band_hash"))
    val batchBands = bandRowsOf(bf)
      .select(col("doc_id").as("doc_batch"), col("band"), col("band_hash"))
    val cands = stored.join(batchBands, Seq("band", "band_hash"))
      .select(col("doc_corpus"), col("doc_batch")).distinct()
    val storedH = spark.read.parquet(s"$path/features")
      .select(col("doc_id").as("doc_corpus"), col("hashes").as("hc"))
    cands.join(storedH, Seq("doc_corpus"))
      .join(bf.select(col("doc_id").as("doc_batch"),
        col("hashes").as("hb")), Seq("doc_batch"))
      .select(col("doc_corpus"), col("doc_batch"),
        jaccard(col("hc"), col("hb")).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("doc_corpus"), col("doc_batch"),
        round(col("jac"), 6).as("jaccard"))
  }

  /** d12: MinHash ESTIMATOR accuracy — for every LSH candidate pair,
    * the k=12-slot signature-agreement estimate ĵ = |{j : mhⱼ(a) =
    * mhⱼ(b)}| / k next to the EXACT shingle Jaccard, with the
    * absolute error. The estimator-evaluation query (s12's recall
    * analog for the dedup family): it answers "how many signature
    * slots does MY corpus need for the 0.8 threshold to be safe"
    * from the data, instead of trusting the textbook variance bound.
    * Same plan as nearDupPairs (features once, ReuseExchange on the
    * band self-join) — the estimate adds 12 codegen'd column
    * equality checks to the verify projection, nothing else. */
  def minhashAccuracy(docs: DataFrame, k: Int = 12): DataFrame = {
    val features = shingleFeatures(docs, k)
    val cands = lshCandidates(features)
    val feats = features
    val agree = (0 until k).map(j =>
      when(col(s"x.mh$j") === col(s"y.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(feats.alias("x"), col("doc_a") === col("x.doc_id"))
      .join(feats.alias("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("x.hashes"), col("y.hashes")).as("jac"),
        (agree.cast("double") / k).as("est"))
      .select(col("doc_a"), col("doc_b"),
        round(col("jac"), 6).as("jaccard"),
        round(col("est"), 6).as("mh_estimate"),
        round(abs(col("est") - col("jac")), 6).as("abs_err"))
  }

  /** LSH PARAMETER TUNING SWEEP — the "hard part (e)" instrument:
    * for every band structure (b bands × r rows) the 12-slot MinHash
    * signature factors into ((12,1), (6,2), (4,3), (3,4)), measure
    * the candidate count, the true near-dup pairs captured
    * (exact Jaccard ≥ `threshold` among candidates), and integer-
    * micro precision/recall — the evidence behind d2's chosen (4,3).
    * Ground truth is the true-pair set within the (12,1) candidate
    * universe, which PROVABLY contains every other config's
    * candidates (a pair agreeing on an r-row band agrees on each of
    * its single hashes), so recall against it is exact for the swept
    * family; a jac ≥ τ pair agreeing on NO single hash is invisible
    * to every config (probability ≤ (1−τ)^12) — the documented
    * truth-universe caveat.
    *
    * Scale contract: the sweep is an INSTRUMENT, run on a bounded
    * sample (the signature frame is snapshotted once and
    * shared by all arms); r=1 banding on a full 100 TB corpus would
    * need the d2 mega-bucket cap, which would perturb the very
    * counts being measured — sample, don't cap. */
  def lshTuning(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = shingleFeatures(docs).snapshot()
    // One TAGGED band frame carries all four sweep arms: each
    // config's band rows ride a `cfg` index, so the four per-arm
    // candidate self-joins fuse into a single (cfg, band, hash)
    // equi-join and the per-arm counts come back as one groupBy —
    // the sweep drops from ~15 sequential jobs (5 pipelines × scan/
    // join/agg) to ~5, with identical candidate sets per arm.
    val configs = Seq((12, 1), (6, 2), (4, 3), (3, 4))
    val allStructs = configs.zipWithIndex.flatMap { case ((b, r), ci) =>
      (0 until b).map { i =>
        val bh = (0 until r).map(j => col(s"mh${i * r + j}"))
          .reduce((x, y) => (x * 31 + y) % MinhashP)
        struct(lit(ci).as("cfg"), lit(i).as("band"), bh.as("band_hash"))
      }
    }
    val rows = sigs
      .select(col("doc_id"), explode(array(allStructs: _*)).as("bs"))
      .select(col("bs.cfg").as("cfg"), col("bs.band").as("band"),
        col("bs.band_hash").as("band_hash"), col("doc_id"))
    val cands = rows.alias("a").join(rows.alias("b"),
        col("a.cfg") === col("b.cfg") &&
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cfg").as("cfg"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct()
      .snapshot() // 3 consumers: truth build, arm counts, semi-join
      .ensureParallelism()
    // cfg 0 is (12,1) — the truth universe, exactly as before
    val truth = cands.filter(col("cfg") === 0)
      .join(sigs.select(col("doc_id").as("doc_a"), col("hashes").as("ha")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("hashes").as("hb")),
        Seq("doc_b"))
      .filter(jaccard(col("ha"), col("hb")) >= threshold)
      .select(col("doc_a"), col("doc_b")).snapshot()
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val perArm = cands.groupBy(col("cfg")).agg(count(lit(1)).as("nc"))
    val perArmTrue = cands.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy(col("cfg")).agg(count(lit(1)).as("nt"))
    val cfgFrame = configs.zipWithIndex
      .map { case ((b, r), ci) => (ci, b, r) }
      .toDF("cfg", "bands", "rows_per_band")
    cfgFrame
      .join(perArm, Seq("cfg"), "left")
      .join(perArmTrue, Seq("cfg"), "left")
      .crossJoin(nTrue)
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("nt"), lit(0L)).as("n_true_candidates"),
        col("n_true"))
      .select(col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_true_candidates"),
        when(col("n_candidates") > 0,
          expr("n_true_candidates * 1000000 div n_candidates"))
          .otherwise(lit(0L)).as("precision_micro"),
        when(col("n_true") > 0,
          expr("n_true_candidates * 1000000 div n_true"))
          .otherwise(lit(0L)).as("recall_micro"))
  }

  /** Per-document 64-bit SimHash fingerprint over distinct token
    * hashes (TextFunctions.simhash64 — permuted-parity bits, so all
    * 64 bits carry signal; the round-3 32-bit fingerprint saturated
    * on uniform corpora). Row-local; near-dup = small Hamming
    * distance (pairing via band-of-bits blocking, same pattern as
    * lshCandidates). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    toks.select(col("doc_id"),
      size(col("ts")).as("n_tokens"),
      simhash64(transform(array_distinct(col("ts")), t => polyHash(t)))
        .as("simhash"))
  }

  /** SimHash near-dup PAIRS — the dedup decision d3's fingerprints
    * feed. Blocking: the 64-bit fingerprint splits into 8 byte
    * bands; by pigeonhole, hamming(a,b) <= 7 implies at least one
    * band is equal, so the band self-join has COMPLETE recall for
    * any maxHamming <= 7 — no missed pairs, and the join is an
    * equi-join on (band, byte) like every other dedup path here.
    * Verification is one codegen'd bit_count(xor). Same mega-bucket
    * guard as lshCandidates (a byte band has only 256 values, so
    * popular bands are excluded rather than exploded). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame =
    simhashPairsFromFingerprints(
      simhashFingerprints(docs).select(col("doc_id"), col("simhash")),
      maxHamming, maxBucket)

  /** The banding+verify core over a (doc_id, simhash BIGINT) frame —
    * split out so the pigeonhole-recall property is testable on
    * arbitrary fingerprints. */
  def simhashPairsFromFingerprints(fp: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    require(maxHamming <= 7,
      s"8 byte-bands guarantee recall only to hamming 7, got $maxHamming")
    val bandStructs = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 8 * b).bitwiseAND(255L).as("bv"))
    }
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bv"))
    val bandRows = fp
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))
      .withColumn("bn", count(lit(1)).over(bucketW))
      .filter(col("bn") <= maxBucket)
      .drop("bn")
    val a = bandRows.alias("a"); val b = bandRows.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** (doc_id, lang, n_chars, gram hashes): sorted distinct
    * char-3-gram hashes per document, computed ROW-LOCALLY by the
    * codegen'd CharGramHashes expression — the corpus's grams never
    * leave their partition (the round-3 explode → collect_set plan
    * shuffled one row per gram, ~1000× the doc count, just to
    * rebuild per-doc sets). Empty-gram docs (under 3 chars) are
    * filtered here, exactly where the old explode dropped them, so
    * the d4 block-population window sees the same rows as the
    * oracle's `WHERE len(gs) > 0`. */
  private def charGramHashSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        charGramHashes(lower(col("text"))).as("gs"))
      .filter(size(col("gs")) > 0)

  /** Blocked character-n-gram Jaccard pairs: same lang, length
    * within `lenBand`, exact char-3-gram Jaccard >= threshold.
    *
    * The length predicate is turned into an EQUI-join on (lang,
    * length-bucket): one side joins on its own bucket, the other is
    * exploded to its three neighboring buckets, so every qualifying
    * pair is matched exactly once (a doc's bucket equals exactly one
    * of the other's three neighbor keys) — no cross join, no
    * distinct, and the per-group fan-out is bounded by the bucket
    * population, not the corpus.
    *
    * Mega-block guard (same pattern as lshCandidates' maxBucket): a
    * (lang, length-bucket) block with more than `maxBlock` members
    * would fan out quadratically in pair generation — and a single
    * key's fan-out is unsplittable by AQE — so docs in such blocks
    * are EXCLUDED from pairing on both sides (the window count shares
    * side a's join partitioning, so the guard costs no extra
    * shuffle). At 100 TB, common-length English buckets are exactly
    * such blocks; exact dedup (d1) and MinHash (d2) are the right
    * tools for them. The cap is restated in the d4 oracle. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      lenBand: Int = 20, maxBlock: Int = 256): DataFrame = {
    val blockW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("bucket"))
    // Materialized once: BOTH join sides read the blocked gram table
    // (without this the char-3-gram hashing — the CPU-dominant pass —
    // runs twice, once per alias), and the fan-out restore keeps the
    // verify join's probe side parallel when AQE coalesced the tiny
    // post-window exchange (the jaccard verify is compute-bound, not
    // byte-bound, so byte-based coalescing starves it of cores).
    val g = charGramHashSets(docs)
      .withColumn("bucket", floor(col("n_chars") / lenBand))
      .withColumn("block_n", count(lit(1)).over(blockW))
      .filter(col("block_n") <= maxBlock)
      .drop("block_n")
      .snapshot().ensureParallelism()
    val nbrs = g.withColumn("nbr",
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    val a = g.alias("a"); val b = nbrs.alias("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
        col("a.bucket") === col("b.nbr") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= lenBand &&
        col("a.doc_id") < col("b.doc_id") &&
        // lossless prune: jaccard <= min(|A|,|B|)/max(|A|,|B|), so a
        // size-ratio below the threshold can never verify — skip the
        // merge entirely for such pairs
        least(size(col("a.gs")), size(col("b.gs"))).cast("double") >=
          lit(threshold) * greatest(size(col("a.gs")), size(col("b.gs"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        jaccard(col("a.gs"), col("b.gs")).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** EXACT substring-match dedup (the Lee et al. 2022 "Deduplicating
    * Training Data" criterion): document pairs sharing at least one
    * verbatim substring of `windowLen` characters, with the count of
    * distinct shared windows. Every length-L substring match equals a
    * length-L sliding-window match, so the candidate generator is
    * complete, not approximate: each doc emits its distinct windows
    * row-locally (one `transform` over positions — windows never
    * fan out before the distinct), then one groupBy per window key
    * builds the tiny posting lists and pairs explode from lists of
    * 2..`maxDocs` members — a single shuffle end to end, no
    * self-join. Windows shared by more than `maxDocs` docs are
    * boilerplate (licence headers, navigation chrome), excluded like
    * d2/d4's mega-bucket caps: their quadratic fan-out is
    * unsplittable and their signal belongs to d8's repeated-n-gram
    * profile instead. At 100 TB the window STRING is the shuffle
    * payload (L bytes/row); production would key the shuffle on
    * poly_hash(window) and verify inside the group — kept verbatim
    * here so the oracle restates the exact criterion byte for byte. */
  def substringDupPairs(docs: DataFrame, windowLen: Int = 30,
      maxDocs: Int = 64): DataFrame = {
    // extraction is the codegen'd char_windows kernel: one JVM walk
    // into a hash set per doc. The first spelling (transform over
    // positions + substr + array_distinct) paid per-position
    // Substring allocations and a quadratic-ish distinct — 5.8 s at
    // sf0.1 vs ~0.6 s for the kernel.
    val wins = docs.filter(length(col("text")) >= windowLen)
      .select(col("doc_id"),
        explode(call_function("char_windows",
          col("text"), lit(windowLen))).as("g"))
    wins.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDocs))
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** ASYMMETRIC CONTAINMENT pairs — C(A,B) = |S_A ∩ S_B| / |S_A|
    * over distinct word-3-shingle sets, the excerpt/quote detector
    * symmetric Jaccard (d2/d4) structurally misses: a 50-shingle
    * doc fully pasted into a 5 000-shingle doc has Jaccard ≈ 0.01
    * but containment 1.0. Emits each qualifying unordered pair once
    * with BOTH directions' ppm, gated on max-containment ≥ 0.8
    * (integer form: shared·5 ≥ min(n_a, n_b)·4 — no division in the
    * filter).
    *
    * 100 TB shape: d10's posting-list discipline — one groupBy
    * shuffle on the shingle, pairs explode from capped lists (2..
    * `maxDocs` docs per shingle; boilerplate shingles route to d8's
    * profile instead of pair fan-out), sizes attach via two
    * doc-keyed joins of a strictly smaller aggregate. */
  def containmentPairs(docs: DataFrame, maxDocs: Int = 64): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(shingles3(tokens(col("text")))).as("g"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // The posting-list stage DOWNSTREAM of this groupBy multiplies
    // records (capped pair explode), but AQE coalesces the exchange
    // by the MAP side's bytes (the posting table is small), so the
    // explode ran at a handful of tasks (measured: 6 tasks burning
    // 25 CPU-s, 4.8 s wall at sf0.1). Pinning the grouping exchange
    // at the session's shuffle-partition count (an explicit
    // repartition satisfies the aggregate's distribution, so it
    // REPLACES the agg exchange rather than adding one, and AQE
    // never coalesces an explicit REPARTITION_BY_NUM) keeps the
    // record-multiplying stage fanned out; the shuffled bytes are
    // identical. Scale-neutral: the count is the cluster-sized
    // shuffle-partition knob, not a local constant.
    val fanout = sh.sparkSession.sessionState.conf.numShufflePartitions
    val shared = sh.repartition(fanout, col("g")).groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDocs))
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .filter(col("shared") * 5 >= least(col("n_a"), col("n_b")) * 4)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("shared"),
        floor(col("shared") * 1000000L / col("n_a")).cast("long")
          .as("cont_a_ppm"),
        floor(col("shared") * 1000000L / col("n_b")).cast("long")
          .as("cont_b_ppm"))
  }

  /** PREFIX-FILTERED set-similarity self-join — the AllPairs/PPJoin
    * candidate generation (Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08) on word-token SETS at Jaccard ≥ tNum/tDen: order every
    * doc's tokens by ascending GLOBAL frequency (rarest first) and
    * emit only the first n − ⌈t·n⌉ + 1 as join keys — the published
    * completeness theorem guarantees any pair at the threshold
    * shares a prefix token, so candidate fan-out concentrates on
    * RARE tokens (tiny posting lists) instead of stopwords, the
    * opposite skew profile of a naive token join. d2/d4 bound their
    * fan-out with explicit population caps; this bounds it by
    * construction, with nothing dropped.
    *
    * The total order is (frequency, token hash) — computable per
    * token with one count + one keyed join-back, NO global vocab
    * rank assignment (a dense rank would need a vocabulary-wide
    * sort; the pair (tf, th) orders identically and ships for free).
    *
    * 100 TB shape: two keyed shuffles to build ordered sets (token
    * freq + doc regroup), the prefix equi-join on rare tokens, and
    * doc-keyed verify joins. The threshold gate is pure integer
    * (inter·tDen ≥ union·tNum — no FP at the decision edge);
    * lengths prune with the same rational arithmetic inside the
    * join condition. */
  def prefixFilterPairs(docs: DataFrame, tNum: Int = 7,
      tDen: Int = 10): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(transform(tokens(col("text")),
        t => graft.functions.TextFunctions.polyHash(t)))).as("th"))
    val freq = tok.groupBy(col("th")).agg(count(lit(1)).as("tf"))
    // Materialized ONCE: four consumers read it (both prefix sides,
    // both verify sides) and the prefix side's broadcast breaks
    // ReuseExchange symmetry, so without this the whole
    // tokenize→freq-join→regroup pipeline runs four times. At
    // 100 TB this checkpoint is the persisted feature table of the
    // d13 index lifecycle (build once, consume many).
    val perDoc = tok.join(freq, Seq("th"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tf"), col("th"))))
        .as("ord"), count(lit(1)).as("n"))
      .snapshot()
      // the snapshot freezes AQE's coalesced layout; fan the probe/
      // explode work back out across the task slots (no-op at scale)
      .ensureParallelism()
    val pfxLen = (col("n") -
      ((col("n") * tNum + (tDen - 1)) / tDen).cast("long") + 1).cast("int")
    val prefixes = perDoc.select(col("doc_id"), col("n"),
      explode(slice(transform(col("ord"), s => s.getField("th")),
        lit(1), pfxLen)).as("th"))
    val cand = prefixes.alias("pa")
      .join(prefixes.alias("pb"),
        col("pa.th") === col("pb.th") &&
        col("pa.doc_id") < col("pb.doc_id") &&
        col("pb.n") * tDen >= col("pa.n") * tNum &&
        col("pa.n") * tDen >= col("pb.n") * tNum)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()
    val feats = perDoc.select(col("doc_id"),
      sort_array(transform(col("ord"), s => s.getField("th"))).as("hs"))
    val inter = call_function("intersect_count", col("x.hs"), col("y.hs"))
    cand
      .join(feats.alias("x"), col("doc_a") === col("x.doc_id"))
      .join(feats.alias("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), inter.as("i"),
        (size(col("x.hs")) + size(col("y.hs")) - inter).as("u"))
      .filter(col("i") * tDen >= col("u") * tNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") / col("u"), 6).as("jaccard"))
  }
}
