package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import graft.Engine.SnapshotOps

/** LLM-data-pipeline queries (BASELINE.json north star): dedup,
  * similarity search, and text analysis over the `documents` /
  * `embeddings` tables, each with an exact DuckDB oracle.
  *
  * Oracle parity rules: integer arithmetic everywhere possible;
  * doubles only via sequenced folds (list_reduce ↔ aggregate(), both
  * ascending) or IEEE-exact ops (sqrt, division); round(...,6) at
  * the output edge only.
  */
object LlmQueries {

  // ---- shared DuckDB fragments ------------------------------------

  /** tokens: lower, split \s+, drop empties (= TextFunctions.tokens) */
  private[queries] val tsSql =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""

  /** poly_hash(s) restated (= functions.PolyHash) */
  private[queries] def polySql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(a, b) -> (a*31 + b) % 1000000007)"

  /** sequential double dot-product of two ARRAY<FLOAT>s (= CosineSim
    * fold); `dim` < 64 restates the truncated-prefix cosine (s14) */
  private def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range($dim), k -> CAST($a[k+1] AS DOUBLE) * $b[k+1])), " +
      s"(x, y) -> x + y)"

  private[queries] def cosSql(a: String, b: String, dim: Int = 64): String =
    s"(${dotSql(a, b, dim)} / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)})))"

  /** sign-LSH bucket (= VectorFunctions.lshBucket, planes=4, dim=64) */
  private def bucketSql(e: String, planes: Int = 4): String = {
    val bits = (0 until planes).map { j =>
      val dot = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(64), k -> CAST($e[k+1] AS DOUBLE) * " +
        s"(($j*37 + k*101) % 19 - 9))), (x, y) -> x + y)"
      s"CASE WHEN $dot > 0 THEN 1 ELSE 0 END"
    }.mkString(", ")
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [$bits]), (a, b) -> a*2 + b)"
  }

  /** word-3-shingle set CTE body (= TextFunctions.shingles3) */
  private val shSql =
    """CASE WHEN len(ts) >= 3 THEN list_distinct(list_transform(
      |    range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
      |  ELSE [] END""".stripMargin

  // ---- dedup -------------------------------------------------------

  /** d1: exact dedup summary (hash-groupBy on md5(text)). */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSummary(Tables.documents(spark, dir))

  val d1Sql: String =
    """WITH g AS (
      |  SELECT md5(text) AS h, count(*) AS c, min(doc_id) AS k
      |  FROM documents GROUP BY 1
      |)
      |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(c) - count(*) AS BIGINT) AS n_removable
      |FROM g""".stripMargin

  /** d2: MinHash-LSH near-dup pairs (banded candidates, exact
    * shingle-Jaccard verify at 0.8). */
  def d2NearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(Tables.spread(Tables.documents(spark, dir)),
      threshold = 0.8)

  val d2Sql: String =
    s"""WITH toks AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, $shSql AS ss FROM toks),
       |sig AS MATERIALIZED (SELECT doc_id, ss, list_transform(range(12), k ->
       |    list_min(list_transform(ss, s ->
       |      ((2*k + 1) * ${polySql("s")} + 7919*k) % 2147483647))) AS sg
       |  FROM sh),
       |band0 AS MATERIALIZED (SELECT doc_id, b,
       |    ((sg[3*b+1]*31 + sg[3*b+2]) % 2147483647 * 31 + sg[3*b+3])
       |      % 2147483647 AS bh
       |  FROM sig CROSS JOIN range(4) r(b)),
       |band AS MATERIALIZED (SELECT doc_id, b, bh FROM (
       |    SELECT doc_id, b, bh, count(*) OVER (PARTITION BY b, bh) AS bn
       |    FROM band0)
       |  WHERE bn <= 64),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM band a JOIN band b
       |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |hsets AS MATERIALIZED (SELECT doc_id,
       |    list_distinct(list_transform(ss, s -> ${polySql("s")})) AS hs
       |  FROM sh),
       |ver AS MATERIALIZED (SELECT c.da, c.db,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) AS jac
       |  FROM cand c JOIN hsets x ON c.da = x.doc_id
       |    JOIN hsets y ON c.db = y.doc_id)
       |SELECT da AS doc_a, db AS doc_b, round(jac, 6) AS jaccard
       |FROM ver WHERE jac >= 0.8""".stripMargin

  /** d12: MinHash estimator accuracy over the d2 candidate set —
    * signature-agreement estimate vs exact Jaccard per pair (the
    * "how many slots does my corpus need" evaluation; see
    * Dedup.minhashAccuracy). Oracle = d2's CTE chain with the
    * estimate computed from the same restated signatures. */
  def d12MinhashAccuracy(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashAccuracy(Tables.spread(Tables.documents(spark, dir)))

  val d12Sql: String = {
    val pre = d2Sql.substring(0, d2Sql.indexOf("ver AS"))
    s"""${pre}est AS (SELECT c.da, c.db,
       |    CAST(len(list_filter(range(12), k -> x.sg[k+1] = y.sg[k+1]))
       |      AS BIGINT) AS n_agree,
       |    CAST(len(list_intersect(hx.hs, hy.hs)) AS DOUBLE)
       |      / (len(hx.hs) + len(hy.hs) - len(list_intersect(hx.hs, hy.hs)))
       |      AS jac
       |  FROM cand c JOIN sig x ON c.da = x.doc_id
       |    JOIN sig y ON c.db = y.doc_id
       |    JOIN hsets hx ON c.da = hx.doc_id
       |    JOIN hsets hy ON c.db = hy.doc_id)
       |SELECT da AS doc_a, db AS doc_b, round(jac, 6) AS jaccard,
       |  round(CAST(n_agree AS DOUBLE) / 12, 6) AS mh_estimate,
       |  round(abs(CAST(n_agree AS DOUBLE) / 12 - jac), 6) AS abs_err
       |FROM est""".stripMargin
  }

  /** d15: LSH BAND-STRUCTURE TUNING SWEEP (Dedup.lshTuning) — for
    * every factorization of the 12-slot signature into b bands × r
    * rows, candidate volume vs true-pair capture with integer-micro
    * precision/recall: the S-curve evidence behind d2's (4, 3)
    * choice, and the instrument SURVEY §7's hard-part (e) calls for.
    * Truth = exact Jaccard ≥ 0.5 within the (12,1) candidate
    * universe, a PROVEN superset of every swept config's candidates. */
  def d15LshTuning(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshTuning(Tables.spread(Tables.documents(spark, dir)))

  val d15Sql: String = {
    val pre = d2Sql.substring(0, d2Sql.indexOf("band0 AS"))
    val P = "2147483647"
    def bhSql(r: Int): String =
      (1 until r).foldLeft(s"sg[$r*b+1]")((acc, j) =>
        s"($acc*31 + sg[$r*b+${j + 1}]) % $P")
    val configs = Seq((12, 1), (6, 2), (4, 3), (3, 4))
    val bandCtes = configs.map { case (b, r) =>
      s"""bd${b}_$r AS (SELECT doc_id, b, ${bhSql(r)} AS bh
         |  FROM sig CROSS JOIN range($b) r(b)),
         |cd${b}_$r AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bd${b}_$r a JOIN bd${b}_$r b
         |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val aggCtes = configs.map { case (b, r) =>
      s"""nc${b}_$r AS (SELECT count(*) AS nc FROM cd${b}_$r),
         |nt${b}_$r AS (SELECT count(*) AS nt FROM cd${b}_$r s
         |  JOIN truth t ON s.da = t.da AND s.db = t.db)""".stripMargin
    }.mkString(",\n")
    val arms = configs.map { case (b, r) =>
      s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
         |  CAST(nc AS BIGINT) AS n_candidates,
         |  CAST(nt AS BIGINT) AS n_true_candidates,
         |  CAST(CASE WHEN nc > 0 THEN nt * 1000000 // nc ELSE 0 END
         |    AS BIGINT) AS precision_micro,
         |  CAST(CASE WHEN n_true > 0 THEN nt * 1000000 // n_true ELSE 0 END
         |    AS BIGINT) AS recall_micro
         |FROM nc${b}_$r CROSS JOIN nt${b}_$r CROSS JOIN tcount""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${pre}hsets AS MATERIALIZED (SELECT doc_id,
       |    list_distinct(list_transform(ss, s -> ${polySql("s")})) AS hs
       |  FROM sh),
       |$bandCtes,
       |truth AS (SELECT u.da, u.db
       |  FROM cd12_1 u JOIN hsets x ON u.da = x.doc_id
       |    JOIN hsets y ON u.db = y.doc_id
       |  WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))
       |    >= 0.5),
       |tcount AS (SELECT count(*) AS n_true FROM truth),
       |$aggCtes
       |$arms""".stripMargin
  }

  /** x34: CROSS-SOURCE duplication matrix — d2's verified near-dup
    * pairs pivoted by (source, source): how much of source A is a
    * near-copy of source B, the data-governance report that decides
    * which feed to drop when two scrapes overlap. Pair mass is
    * reported as exact counts plus the micro-unit Jaccard sum
    * (floor(jac·1e6 + 0.5) summed as LONGS — order-independent,
    * unlike a float avg). Source pairs are canonicalized
    * least/greatest so the matrix is upper-triangular.
    *
    * 100 TB shape: two doc_id equi-joins to attach sources to the
    * (already capped) d2 pair list + one tiny (source × source)
    * partial agg. */
  def x34CrossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val pairs = Dedup.nearDupPairs(
      Tables.spread(Tables.documents(spark, dir)), threshold = 0.8)
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "sa"), Seq("doc_a"))
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "sb"), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("jaccard") * 1000000 + 0.5).cast("long"))
          .as("sum_jac_micro"))
  }

  val x34Sql: String = {
    val pre = d2Sql.substring(0, d2Sql.lastIndexOf("SELECT da AS doc_a")).trim
    s"""$pre,
       |pp AS (SELECT da, db, round(jac, 6) AS jaccard FROM ver
       |  WHERE jac >= 0.8),
       |js AS (SELECT least(x.source, y.source) AS source_a,
       |    greatest(x.source, y.source) AS source_b,
       |    CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT) AS jm
       |  FROM pp JOIN documents x ON pp.da = x.doc_id
       |    JOIN documents y ON pp.db = y.doc_id)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |  CAST(sum(jm) AS BIGINT) AS sum_jac_micro
       |FROM js GROUP BY 1, 2""".stripMargin
  }

  /** d13: the PERSISTED near-dup index lifecycle — build the LSH
    * band table + verify features for the standing corpus (doc_id %
    * 10 != 7) once, then probe with the day's batch (% 10 == 7):
    * the s10/s17 build-once/serve-many shape for dedup, upgrading
    * x23's incremental EXACT dedup to NEAR duplicates. The oracle
    * restates both sides from the d2 CTE chain with the bucket cap
    * applied to the CORPUS population only (the cap is a build-time
    * index property, not a probe-time one). */
  def d13NearDupIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val path = graft.TmpPaths.workDir(spark, "neardup_index", dir)
    Dedup.nearDupIndexBuild(docs.filter(col("doc_id") % 10 =!= 7), path)
    Dedup.nearDupIndexProbe(spark, path,
      docs.filter(col("doc_id") % 10 === 7), threshold = 0.8)
  }

  val d13Sql: String = {
    val pre = d2Sql.substring(0, d2Sql.indexOf("band AS")).trim
    s"""$pre
       |bandq AS (SELECT doc_id, b, bh FROM band0),
       |cbk AS (SELECT b, bh FROM bandq WHERE doc_id % 10 <> 7
       |  GROUP BY b, bh HAVING count(*) <= 64),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, bb.doc_id AS db
       |  FROM bandq a JOIN cbk ON a.b = cbk.b AND a.bh = cbk.bh
       |  JOIN bandq bb ON bb.b = a.b AND bb.bh = a.bh
       |  WHERE a.doc_id % 10 <> 7 AND bb.doc_id % 10 = 7),
       |hsets AS MATERIALIZED (SELECT doc_id,
       |    list_distinct(list_transform(ss, s -> ${polySql("s")})) AS hs
       |  FROM sh),
       |ver AS MATERIALIZED (SELECT c.da, c.db,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) AS jac
       |  FROM cand c JOIN hsets x ON c.da = x.doc_id
       |    JOIN hsets y ON c.db = y.doc_id)
       |SELECT da AS doc_corpus, db AS doc_batch, round(jac, 6) AS jaccard
       |FROM ver WHERE jac >= 0.8""".stripMargin
  }

  /** d3: per-document 64-bit SimHash fingerprints. */
  def d3Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashFingerprints(Tables.documents(spark, dir))

  /** shared CTE chain: tokens → distinct token hashes → 64-bit
    * simhash (TextFunctions.simhash64 restated: bit b = sign of the
    * permuted-parity vote; the fingerprint is the plain SUM of the
    * signed bit weights — exact, overflow-free, so DuckDB's checked
    * arithmetic never trips even with bit 63 set). The 64 bit terms
    * are unrolled with literal signed weights (1L << b). */
  private val simhashCtes: String = {
    val bitTerms = (0 until 64).map { b =>
      val vote = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(hs, h2 -> " +
        s"(((h2*${2 * b + 1} + ${7919L * b}) % 2147483647) & 1)*2 - 1)), " +
        s"(x, y) -> x + y)"
      s"CASE WHEN $vote > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(",\n      ")
    s"""toks AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |h AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
       |    list_transform(list_distinct(ts), t -> ${polySql("t")}) AS hs
       |  FROM toks),
       |sh AS MATERIALIZED (SELECT doc_id, n_tokens,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), [
       |      $bitTerms]),
       |      (a, b) -> a + b) AS simhash
       |  FROM h)""".stripMargin
  }

  val d3Sql: String =
    s"WITH $simhashCtes\nSELECT doc_id, n_tokens, simhash FROM sh"

  /** d6: SimHash near-dup pairs — 8 byte-band blocking over the
    * 64-bit fingerprint (complete recall at hamming <= 7 by
    * pigeonhole, so the <= 3 threshold loses nothing), bit_count(xor)
    * verify, d2-style bucket cap. The round-3 32-bit fingerprint
    * saturated on this corpus (6361 near-flat pairs at sf0.01); the
    * 64 permuted-parity bits discriminate, so the pair set is the
    * actual near-duplicate population. */
  def d6SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.spread(Tables.documents(spark, dir)))

  val d6Sql: String =
    s"""WITH $simhashCtes,
       |band0 AS MATERIALIZED (SELECT doc_id, simhash, b,
       |    (simhash >> (8*b)) & 255 AS bv
       |  FROM sh CROSS JOIN range(8) r(b)),
       |band AS MATERIALIZED (SELECT doc_id, simhash, b, bv FROM (
       |    SELECT doc_id, simhash, b, bv,
       |      count(*) OVER (PARTITION BY b, bv) AS bn
       |    FROM band0)
       |  WHERE bn <= 64),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM band a JOIN band b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin

  /** d4: blocked char-3-gram Jaccard near-dup pairs (lang + length
    * band blocking, verify at 0.7). Blocks with > 256 members are
    * excluded from pairing (Dedup.ngramJaccardPairs maxBlock) — the
    * guard is restated below so both engines prune identically. */
  def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.spread(Tables.documents(spark, dir)),
      threshold = 0.7)

  val d4Sql: String =
    s"""WITH g0 AS (SELECT doc_id, lang, n_chars,
      |    CASE WHEN length(lower(text)) >= 3 THEN list_distinct(
      |      list_transform(
      |        list_transform(range(1, length(lower(text)) - 1),
      |          i -> substr(lower(text), i, 3)),
      |        gr -> ${polySql("gr")}))
      |    ELSE [] END AS gs
      |  FROM documents),
      |g AS (SELECT doc_id, lang, n_chars, gs FROM (
      |    -- count only gram-bearing docs, matching the engine: its
      |    -- explode drops empty-gram docs BEFORE the block window
      |    SELECT doc_id, lang, n_chars, gs,
      |      count(*) OVER (PARTITION BY lang, n_chars // 20) AS bn
      |    FROM g0 WHERE len(gs) > 0)
      |  WHERE bn <= 256),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jac
      |  FROM g a JOIN g b ON a.lang = b.lang
      |    AND abs(a.n_chars - b.n_chars) <= 20 AND a.doc_id < b.doc_id)
      |SELECT da AS doc_a, db AS doc_b, round(jac, 6) AS jaccard
      |FROM p WHERE jac >= 0.7""".stripMargin

  /** d5: embedding near-dup pairs via sign-LSH buckets + exact
    * cosine verify at 0.40. */
  def d5EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embedNearDupPairs(Tables.embeddings(spark, dir), threshold = 0.40)

  val d5Sql: String =
    s"""WITH bk AS (SELECT vec_id, label, embedding,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  a.label = b.label AS same_label,
       |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40""".stripMargin

  // ---- similarity search ------------------------------------------

  private[graft] def queryVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 5)

  /** s1: brute-force cosine top-10 for query vectors (vec_id < 5). */
  def s1Knn(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnBruteForce(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 10)

  val s1Sql: String =
    s"""WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM p)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM r WHERE rnk <= 10""".stripMargin

  /** s2: ANN top-3 via sign-LSH bucket join (no cross join in plan). */
  def s2KnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnLsh(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 3)

  val s2Sql: String =
    s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM p)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM r WHERE rnk <= 3""".stripMargin

  /** s4: multi-probe sign-LSH ANN — each query also probes the
    * `planes` Hamming-distance-1 buckets, recovering neighbors that
    * s2's hard bucket boundary loses; corpus side unchanged. */
  def s4KnnMultiProbe(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnLshMultiProbe(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 3)

  val s4Sql: String =
    s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |qb AS (SELECT vec_id, embedding, bucket FROM bk WHERE vec_id < 5),
       |qp AS (SELECT vec_id, embedding,
       |    unnest([xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
       |      xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT)),
       |      bucket]) AS pbucket
       |  FROM qb),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM bk c JOIN qp q ON q.pbucket = c.bucket AND q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM p)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM r WHERE rnk <= 3""".stripMargin

  /** s3: IVF-style ANN — centroids are a deterministic stand-in
    * (vec_id < 8) so the full index build restates in SQL. */
  def s3KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnIvf(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), k = 3)
  }

  /** shared s3/s6 oracle builder: IVF search with `nprobe` query-side
    * cells (corpus side always crn = 1 — one inverted list per
    * vector). */
  /** the IVF probe-and-rank CTE chain AFTER a `cent(vec_id,
    * embedding)` CTE is in scope — shared verbatim between the
    * stand-in-centroid oracles (s3/s6) and the TRAINED-centroid
    * oracle (s9), so the search restatement cannot diverge between
    * them. */
  private def ivfSearchSql(nprobe: Int): String = {
    def assign(src: String, maxCrn: Int) =
      s"""SELECT vec_id, embedding, cell FROM (
         |  SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
         |    CAST(row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id)
         |      AS INT) AS crn,
         |    c.vec_id AS cell
         |  FROM ($src) v CROSS JOIN cent c
         |) WHERE crn <= $maxCrn""".stripMargin
    s"""corpus_cells AS (${assign("SELECT vec_id, embedding FROM embeddings", 1)}),
       |query_cells AS (${assign(
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5", nprobe)}),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM corpus_cells c JOIN query_cells q
       |    ON q.cell = c.cell AND q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT)
       |    AS rnk, cos FROM p)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM r WHERE rnk <= 3""".stripMargin
  }

  private def ivfSql(nprobe: Int): String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |${ivfSearchSql(nprobe)}""".stripMargin

  val s3Sql: String = ivfSql(nprobe = 1)

  /** s6: IVF ANN with nprobe = 2 — each query searches its two
    * nearest centroids' cells (Similarity.knnIvfProbe), recovering
    * the boundary-query neighbors a single-cell search loses (the
    * IVF analog of s4's multi-probe LSH; corpus side untouched). */
  def s6KnnIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnIvfProbe(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), k = 3, nprobe = 2)
  }

  val s6Sql: String = ivfSql(nprobe = 2)

  /** s19: RANGE search over the same IVF layout as s6 — every
    * neighbor with cosine >= 0.25 within the query's two probed
    * cells (Similarity.rangeSearch). Completes the vector-search API
    * surface: s1–s18 answer "the k best", s19 answers "all above a
    * similarity bar", the primitive behind fixed-threshold duplicate
    * sweeps and similarity-graph construction (d5 is exactly this
    * shape inlined; s19 is the served-index form). Plan has no sort
    * and no window — cell equi-join + codegen'd threshold filter. */
  def s19RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.rangeSearch(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), tau = 0.25, nprobe = 2)
  }

  val s19Sql: String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |corpus_cells AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT v.vec_id, v.embedding,
       |    CAST(row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INT) AS crn,
       |    c.vec_id AS cell
       |  FROM embeddings v CROSS JOIN cent c
       |) WHERE crn <= 1),
       |query_cells AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT v.vec_id, v.embedding,
       |    CAST(row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INT) AS crn,
       |    c.vec_id AS cell
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)
       |    v CROSS JOIN cent c
       |) WHERE crn <= 2)
       |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
       |FROM corpus_cells c JOIN query_cells q
       |  ON q.cell = c.cell AND q.vec_id <> c.vec_id
       |WHERE ${cosSql("q.embedding", "c.embedding")} >= 0.25""".stripMargin

  /** s20: kNN-GRAPH construction over the corpus — every vector's
    * top-3 neighbors within its own IVF cell
    * (Similarity.knnGraph): the all-source kNN join that semantic
    * clustering, label propagation, and graph dedup consume. The
    * two cell-assignment subplans are identical, so the exchange is
    * REUSED, and the per-source top-k is WindowGroupLimit-bounded;
    * fan-out is Σ cell_pop², controlled by cell count (the d7 knob),
    * never all-pairs. */
  def s20KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnGraph(emb, emb.filter(col("vec_id") < 8), k = 3)
  }

  val s20Sql: String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |cc AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT v.vec_id, v.embedding,
       |    CAST(row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INT) AS crn,
       |    c.vec_id AS cell
       |  FROM embeddings v CROSS JOIN cent c
       |) WHERE crn <= 1)
       |SELECT src_id, dst_id, rnk, cosine FROM (
       |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${cosSql("a.embedding", "b.embedding")} DESC, b.vec_id)
       |      AS INT) AS rnk,
       |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
       |  FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |) WHERE rnk <= 3""".stripMargin

  /** s27: IVF INDEX-HEALTH PROFILE (Similarity.cellHealth) — per
    * cell of the s3/s6/s8 layout: population, mean and worst cosine
    * fit to the centroid, and corpus share. The serving-side
    * diagnostics behind every retrain/re-balance decision s9's
    * trained quantizer would act on; s12 measures that the index
    * lost recall, s27 locates the cell that lost it. Per-row fit is
    * floored to integer micros BEFORE aggregation, so the mean is an
    * order-insensitive integer sum and the whole row hashes
    * cross-engine. */
  def s27CellHealth(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.cellHealth(emb, emb.filter(col("vec_id") < 8))
  }

  val s27Sql: String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |asg AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT v.vec_id, v.embedding,
       |    CAST(row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INT) AS crn,
       |    c.vec_id AS cell
       |  FROM embeddings v CROSS JOIN cent c
       |) WHERE crn <= 1),
       |fit AS (SELECT a.cell,
       |    CAST(floor(${cosSql("a.embedding", "c.embedding")} * 1000000)
       |      AS BIGINT) AS cm
       |  FROM asg a JOIN cent c ON c.vec_id = a.cell),
       |pc AS (SELECT cell, count(*) AS n_vecs,
       |    CAST(sum(cm) AS BIGINT) AS sm, CAST(min(cm) AS BIGINT) AS mm
       |  FROM fit GROUP BY 1),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM pc)
       |SELECT cell, n_vecs,
       |  round(CAST(sm AS DOUBLE) / n_vecs / 1000000.0, 6) AS mean_fit,
       |  round(CAST(mm AS DOUBLE) / 1000000.0, 6) AS worst_fit,
       |  round(CAST(n_vecs AS DOUBLE) / n_total, 6) AS share
       |FROM pc CROSS JOIN t""".stripMargin

  /** s33: EMBEDDING NORM AUDIT — the vector-side twin of x1's text
    * quality gate, run before any index build: per order-of-magnitude
    * norm bucket, how many vectors land there (count + min/max
    * squared norm), how many zero components they carry, and how many
    * SATURATED components (|x| ≥ 1.0 — the clipped-activation
    * telltale, m31's full-scale audit for embeddings). Catches the
    * three failures an ANN index inherits silently: zero/near-zero
    * vectors (cosine undefined — they pollute every cell), scale
    * drift between encoder versions (norm buckets split), and
    * saturated dims (distance mass collapses onto clipped axes).
    * Components quantize to micro-unit longs at the scan (the x47
    * discipline), so the squared norm is an exact integer and the
    * bucket key — the DIGIT COUNT of that integer — is
    * engine-identical off the BIGINT decimal string (no float log).
    *
    * 100 TB shape: one narrow scan pass (quantize + fold per row,
    * no explode — `aggregate` over the array), one partial-agg
    * groupBy into ≤ 20 digit-bucket rows. */
  def s33NormAudit(spark: SparkSession, dir: String): DataFrame = {
    val q = CorpusQueries.emQuantize(col("embedding"))
    val norm2 = aggregate(q, lit(0L), (acc, x) => acc + x * x)
    val nZero = aggregate(q, lit(0L),
      (acc, x) => acc + when(x === 0L, 1L).otherwise(0L))
    val nSat = aggregate(q, lit(0L),
      (acc, x) => acc + when(abs(x) >= 1000000L, 1L).otherwise(0L))
    Tables.embeddings(spark, dir)
      .select(norm2.as("n2"), nZero.as("nz"), nSat.as("ns"))
      .groupBy(length(col("n2").cast("string")).cast("int")
        .as("norm2_digits"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("n2")).as("min_norm2"), max(col("n2")).as("max_norm2"),
        sum(col("nz")).as("n_zero_comp"),
        sum(col("ns")).as("n_saturated_comp"))
  }

  val s33Sql: String =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
      |      AS BIGINT)) AS qe
      |  FROM embeddings),
      |f AS (SELECT
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), qe),
      |      (a, x) -> a + x * x) AS n2,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), qe),
      |      (a, x) -> a + CASE WHEN x = 0 THEN 1 ELSE 0 END) AS nz,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), qe),
      |      (a, x) -> a + CASE WHEN abs(x) >= 1000000 THEN 1 ELSE 0 END)
      |      AS ns
      |  FROM q)
      |SELECT CAST(length(CAST(n2 AS VARCHAR)) AS INT) AS norm2_digits,
      |  count(*) AS n_vecs,
      |  CAST(min(n2) AS BIGINT) AS min_norm2,
      |  CAST(max(n2) AS BIGINT) AS max_norm2,
      |  CAST(sum(nz) AS BIGINT) AS n_zero_comp,
      |  CAST(sum(ns) AS BIGINT) AS n_saturated_comp
      |FROM f GROUP BY 1""".stripMargin

  /** s34: PQ DISTORTION AUDIT — per subspace, the quantization error
    * s7's codes carry (Similarity.pqDistortion over the s7 codebook):
    * the number that says WHERE recall dies and whether to re-train,
    * raise k, or rotate before trusting ADC rankings. The oracle
    * re-derives each subvector's argmin codeword with the exact
    * serving fold (ties to the lowest j, pq_codes' rule) and the
    * same micro-unit floor, so a drift anywhere in encode-vs-audit
    * breaks the hash. */
  def s34PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqDistortion(emb, emb.filter(col("vec_id") < 16), m = 8)
  }

  val s34Sql: String = {
    def fold(v: String, c: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(8), d -> " +
        s"(CAST($v[ms*8 + d + 1] AS DOUBLE) - CAST($c[ms*8 + d + 1] AS DOUBLE)) * " +
        s"(CAST($v[ms*8 + d + 1] AS DOUBLE) - CAST($c[ms*8 + d + 1] AS DOUBLE)))), " +
        s"(x, y) -> x + y)"
    s"""WITH cb AS (SELECT vec_id AS j, embedding AS cw FROM embeddings
       |  WHERE vec_id < 16),
       |sub AS (SELECT v.vec_id, m.ms, v.embedding
       |  FROM embeddings v CROSS JOIN range(8) m(ms)),
       |d AS (SELECT vec_id, ms,
       |    ${fold("embedding", "cw")} AS dist, j
       |  FROM sub CROSS JOIN cb),
       |pick AS (SELECT ms, dist FROM (SELECT ms, dist,
       |    row_number() OVER (PARTITION BY vec_id, ms
       |      ORDER BY dist, j) AS rn FROM d) WHERE rn = 1),
       |e AS (SELECT ms, CAST(floor(dist * 1000000.0) AS BIGINT) AS err
       |  FROM pick)
       |SELECT CAST(ms AS INT) AS subspace, count(*) AS n_vecs,
       |  CAST(sum(err) AS BIGINT) AS total_err_micro,
       |  CAST(max(err) AS BIGINT) AS max_err_micro,
       |  CAST(sum(err) // count(*) AS BIGINT) AS mean_err_micro
       |FROM e GROUP BY 1""".stripMargin
  }

  /** x56: Z-ORDER LAYOUT AUDIT — quantize the first two embedding
    * coordinates to a 256×256 grid, interleave the bits into a
    * 16-bit Morton code, and profile the resulting 64 contiguous
    * z-blocks (population + per-dimension bounding box + spans).
    * This is the lakehouse DATA-SKIPPING layout op (Delta/Iceberg
    * Z-ORDER BY): writing files in z-block order makes per-file
    * min/max stats tight on BOTH dimensions at once, so a 2-D
    * predicate prunes most files — the audit's spans ARE those
    * stats, measuring layout quality before paying the rewrite. The
    * bit interleave is pure integer arithmetic (8 shift/mask terms
    * per dimension), restated verbatim in the oracle.
    *
    * 100 TB shape: one narrow scan pass computes the code row-locally
    * (no shuffle), one partial-agg groupBy on zblock (64 rows out);
    * the real rewrite would range-partition on the same code —
    * exactly repartitionByRange(morton), one planned exchange. */
  def x56ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    def q(i: Int) = least(greatest(
      floor((col("embedding").getItem(i) + 1.0) * 128.0), lit(0.0)),
      lit(255.0)).cast("int")
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), q(0).as("xq"), q(1).as("yq"))
    val morton = (0 until 8).map(i =>
      s"(shiftleft(shiftright(xq, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(yq, $i) & 1, ${2 * i}))").mkString(" + ")
    base.withColumn("zblock", expr(s"($morton) div 1024"))
      .groupBy(col("zblock"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("xq")).as("min_x"), max(col("xq")).as("max_x"),
        min(col("yq")).as("min_y"), max(col("yq")).as("max_y"))
      .withColumn("x_span", col("max_x") - col("min_x"))
      .withColumn("y_span", col("max_y") - col("min_y"))
  }

  val x56Sql: String = {
    val morton = (0 until 8).map(i =>
      s"((((xq >> $i) & 1) << ${2 * i + 1}) + (((yq >> $i) & 1) << ${2 * i}))")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id,
       |    CAST(least(greatest(floor((embedding[1] + 1.0) * 128.0), 0),
       |      255) AS INT) AS xq,
       |    CAST(least(greatest(floor((embedding[2] + 1.0) * 128.0), 0),
       |      255) AS INT) AS yq
       |  FROM embeddings)
       |SELECT CAST(($morton) // 1024 AS BIGINT) AS zblock,
       |  count(*) AS n_vecs,
       |  min(xq) AS min_x, max(xq) AS max_x,
       |  min(yq) AS min_y, max(yq) AS max_y,
       |  max(xq) - min(xq) AS x_span, max(yq) - min(yq) AS y_span
       |FROM b GROUP BY 1""".stripMargin
  }

  /** s9: the TRAINED coarse quantizer serving the IVF search — s6's
    * exact plan (single-cell inverted lists, nprobe=2 query probing)
    * but with centroids from `KMeans.train` (DataFrame-native
    * spherical Lloyd's) instead of the vec_id<8 stand-in. This is the
    * production index lifecycle: train once, then every search reuses
    * the trained cells. The trainer's mean update runs on the integer
    * MICRO-UNIT lattice (KMeans scaladoc) — exact long sums are
    * summation-order-free, so the trained centroids are bit-identical
    * across runs AND engines, and the whole lifecycle (3 Lloyd's
    * iterations unrolled, then the s6 probe plan) restates under the
    * DuckDB hash gate; KMeansSpec still pins the training-quality
    * properties (monotone cost, dominance over the stand-in, recall
    * parity). */
  def s9KnnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = graft.operators.KMeans.train(emb, k = 8, iters = 3)
    Similarity.knnIvfProbe(emb, queryVecs(spark, dir), centroids,
      k = 3, nprobe = 2)
  }

  /** s9 oracle: KMeans.train(k=8, iters=3) unrolled — seed = the 8
    * lowest vec_ids renumbered 0..7; per iteration, cosine argmin
    * assignment (the assignCells tiebreak: cos DESC NULLS LAST, cell
    * ASC) then the micro-unit integer mean (quantize → exact sum →
    * truncating div, `//` ≡ Spark `div` for trunc-toward-zero) with
    * the empty-cell keep-previous guard — followed by the exact s6
    * search CTEs over the trained `cent`. */
  val s9Sql: String =
    s"""WITH $s9TrainerCtes,
       |${ivfSearchSql(nprobe = 2)}""".stripMargin

  /** s9's trainer chain (seed + 3 micro-unit Lloyd rounds + the
    * final `cent` relation), no WITH — shared by s9 and s36. */
  private lazy val s9TrainerCtes: String = {
    val iters = 3
    def centCte(i: Int) = if (i == 0) "c0" else s"c$i"
    val seed =
      """c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS BIGINT) AS cell, embedding AS cemb
        |  FROM embeddings QUALIFY row_number() OVER (ORDER BY vec_id) <= 8)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      val prev = centCte(i - 1)
      s"""a$i AS MATERIALIZED (SELECT vec_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${cosSql("v.embedding", "c.cemb")} DESC, c.cell) AS rn
         |    FROM embeddings v CROSS JOIN $prev c) WHERE rn = 1),
         |m$i AS (SELECT cell, d,
         |    CAST(sum(CAST(floor(CAST(embedding[d+1] AS DOUBLE)
         |        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         |      // count(*) AS cu
         |  FROM a$i CROSS JOIN range(64) t(d) GROUP BY cell, d),
         |n$i AS (SELECT cell, list(CAST(CAST(cu AS DOUBLE) / 1000000.0
         |      AS FLOAT) ORDER BY d) AS cemb
         |  FROM m$i GROUP BY cell),
         |c$i AS MATERIALIZED (SELECT p.cell, COALESCE(n.cemb, p.cemb) AS cemb
         |  FROM $prev p LEFT JOIN n$i n ON n.cell = p.cell)""".stripMargin
    }.mkString(",\n")
    s"""$seed,
       |$rounds,
       |cent AS (SELECT cell AS vec_id, cemb AS embedding
       |  FROM ${centCte(iters)})""".stripMargin
  }

  /** s7: product-quantization ANN with ADC ranking (the IVF-PQ
    * storage scheme): corpus encoded to m=8 one-byte codes per
    * vector (32× smaller than float32), queries rank by asymmetric
    * distance against codebook reconstructions. Codebook = the
    * deterministic vec_id<16 stand-in (same convention as s3's
    * centroids) so encode + search restate fully in SQL. */
  def s7PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnPqAdc(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 16), m = 8, k = 3)
  }

  /** squared L2 over subspace m's 8 dims, double-accumulated in
    * ascending dim order (floats widened before subtract) — the
    * exact fold the PqCodes/PqAdc kernels run. ONE definition shared
    * by the s7 and s8 oracles on purpose: the ADC fold is the
    * parity-critical piece and must not diverge between them. */
  private def pqSubSql(v: String, c: String, m: String): String = {
    def d(arr: String) = s"CAST($arr[$m*8 + d + 1] AS DOUBLE)"
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(8), d -> (${d(v)} - ${d(c)}) * (${d(v)} - ${d(c)}))), " +
      s"(x, y) -> x + y)"
  }

  /** the PQ encode + ADC rank CTE chain AFTER a `cb(j, cw)` CTE
    * (full-width codewords) is in scope — shared verbatim between the
    * stand-in-codebook oracle (s7) and the TRAINED-codebook oracle
    * (s15), so the ADC restatement cannot diverge between them. */
  private def pqAdcSearchSql: String = {
    def subSql(v: String, c: String, m: String) = pqSubSql(v, c, m)
    s"""ms AS (SELECT m FROM range(8) t(m)),
       |enc AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM (
       |    SELECT v.vec_id, s.m, c.j AS code, row_number() OVER (
       |      PARTITION BY v.vec_id, s.m
       |      ORDER BY ${subSql("v.embedding", "c.cw", "s.m")} ASC, c.j ASC) AS rn
       |    FROM embeddings v CROSS JOIN ms s CROSS JOIN cb c) WHERE rn = 1
       |  GROUP BY vec_id),
       |qd AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, s.m,
       |    ${subSql("q.embedding", "c.cw", "s.m")} AS dm
       |  FROM enc e CROSS JOIN ms s
       |  JOIN cb c ON c.j = e.codes[s.m + 1]
       |  JOIN embeddings q ON q.vec_id < 5 AND q.vec_id <> e.vec_id),
       |ad AS (SELECT query_id, neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(dm ORDER BY m)),
       |      (x, y) -> x + y) AS adist
       |  FROM qd GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS INT) AS rnk,
       |    adist FROM ad)
       |SELECT query_id, neighbor_id, rnk, round(adist, 6) AS adist
       |FROM r WHERE rnk <= 3""".stripMargin
  }

  val s7Sql: String =
    s"""WITH cb AS (SELECT vec_id AS j, embedding AS cw FROM embeddings
       |  WHERE vec_id < 16),
       |$pqAdcSearchSql""".stripMargin

  /** s8: the FULL IVF-PQ index (s3's coarse quantizer × s7's product
    * quantizer): queries ADC-rank only their own IVF cell's inverted
    * list, over PQ codes instead of raw floats — candidate count and
    * scanned bytes shrink multiplicatively, the production serving
    * shape. Same deterministic stand-ins as s3 (cells: vec_id<8) and
    * s7 (codebook: vec_id<16) so the whole index restates in SQL. */
  def s8IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnIvfPq(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") < 16),
      m = 8, k = 3)
  }

  /** s10: s8's IVF-PQ search served from a PERSISTED index — build
    * materializes (vec_id, codes) partitioned by cell (the on-disk
    * inverted list), serve reads it back and ADC-ranks only the
    * probed cells' directories (dynamic partition pruning on the
    * cell equi-join). Identical arithmetic to s8 end to end, so the
    * oracle IS s8's — what s10 adds under the gate is the
    * materialize/reload lifecycle: codes survive a parquet
    * roundtrip and the pruned scan serves the same answer. */
  def s10IndexServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 8)
    val codebook = emb.filter(col("vec_id") < 16)
    val path = graft.TmpPaths.workDir(spark, "ivfpq_index", dir)
    graft.operators.VectorIndex.build(emb, centroids, codebook, m = 8, path)
    graft.operators.VectorIndex.serve(spark, path, queryVecs(spark, dir),
      centroids, codebook, m = 8, k = 3)
  }

  /** s17: INCREMENTAL index update — s10's lifecycle plus the
    * daily-ingest step: the standing index is built from the corpus
    * minus today's batch (vec_id % 10 == 3 stands in for the new
    * vectors), the batch alone is encoded and APPENDED under the
    * same cell directories (quantizers frozen at build time), and
    * the search serves from the updated index. Because the appended
    * codes use the identical centroid/codebook arithmetic, the
    * updated index is bit-identical to a full rebuild — so the
    * oracle is s8's full-corpus search, and a drifted append (stale
    * codebook, wrong cell routing, lost rows) breaks the hash. Cost
    * at 100 TB: one narrow encode pass over the BATCH; the standing
    * corpus is never re-read. */
  def s17IndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 8)
    val codebook = emb.filter(col("vec_id") < 16)
    val path = graft.TmpPaths.workDir(spark, "ivfpq_incr", dir)
    graft.operators.VectorIndex.build(
      emb.filter(col("vec_id") % 10 =!= 3), centroids, codebook, m = 8, path)
    graft.operators.VectorIndex.append(
      emb.filter(col("vec_id") % 10 === 3), centroids, codebook, m = 8, path)
    graft.operators.VectorIndex.serve(spark, path, queryVecs(spark, dir),
      centroids, codebook, m = 8, k = 3)
  }

  /** s18: index serving with DELETIONS — s10's persisted index with
    * a tombstone set (vec_id % 17 == 3 stands in for deleted
    * vectors) anti-joined at serve time
    * (VectorIndex.serveWithDeletes): the soft-delete lifecycle step
    * between s17's append and the eventual compaction. The oracle is
    * s8's search with the deleted ids excluded from the candidate
    * side only — queries still search (a deleted vector can still
    * BE a query), cell assignment and codes are untouched (frozen
    * quantizers), so a tombstone leak into encoding or query
    * routing breaks the hash. */
  def s18IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 8)
    val codebook = emb.filter(col("vec_id") < 16)
    val path = graft.TmpPaths.workDir(spark, "ivfpq_del", dir)
    graft.operators.VectorIndex.build(emb, centroids, codebook, m = 8, path)
    graft.operators.VectorIndex.serveWithDeletes(spark, path,
      queryVecs(spark, dir), centroids, codebook, m = 8, k = 3,
      deletes = emb.filter(col("vec_id") % 17 === 3))
  }

  lazy val s18Sql: String = s8Sql.replace(
    "JOIN query_cells q ON q.cell = e.cell AND q.vec_id <> e.vec_id",
    "JOIN query_cells q ON q.cell = e.cell AND q.vec_id <> e.vec_id " +
      "AND e.vec_id % 17 <> 3")

  /** s21: index COMPACTION — the reclaim step s18's docs name: the
    * tombstoned rows are physically removed by REBUILDING the index
    * from the live corpus under the FROZEN build-time quantizers,
    * and the serve path drops the tombstone anti-join entirely.
    * Compaction must be invisible to queries: the oracle is s18's
    * SQL unchanged, so a compaction that re-trains quantizers,
    * loses a live row, or resurrects a deleted one breaks the hash.
    * This closes the index lifecycle: build (s10) → incremental
    * append (s17) → soft delete (s18) → compact (s21). At 100 TB
    * compaction is the amortized background rewrite of cell
    * directories whose tombstone fraction crossed a threshold; the
    * serve plan afterwards is s10's pruned scan with zero
    * delete-filter overhead. */
  def s21IndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 8)
    val codebook = emb.filter(col("vec_id") < 16)
    val path = graft.TmpPaths.workDir(spark, "ivfpq_compact", dir)
    graft.operators.VectorIndex.build(
      emb.filter(col("vec_id") % 17 =!= 3), centroids, codebook, m = 8, path)
    graft.operators.VectorIndex.serve(spark, path, queryVecs(spark, dir),
      centroids, codebook, m = 8, k = 3)
  }

  /** Compaction is query-invisible: s18's tombstone-filtered answer. */
  lazy val s21Sql: String = s18Sql

  /** the s8 CTE chain up to the per-(query, candidate) ADC distance
    * `ad` — ONE definition shared by the s8 and s11 oracles (s11 is
    * s8's ADC stage + an exact re-rank; the compressed-domain
    * arithmetic must not diverge between them). */
  private def ivfPqAdcCtes: String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |cb AS (SELECT vec_id AS j, embedding AS cw FROM embeddings
       |  WHERE vec_id < 16),
       |$ivfPqSearchCtes""".stripMargin

  /** The IVF-PQ search CTEs downstream of `cent` (coarse centroids:
    * vec_id = cell id, embedding) and `cb` (codebook: j, cw) — one
    * definition shared by the stand-in oracle (s8/s10/s31) and the
    * fully-trained one (s36), so the search arithmetic cannot
    * diverge between them. */
  private def ivfPqSearchCtes: String = {
    def subSql(v: String, c: String, m: String) = pqSubSql(v, c, m)
    def assign(src: String) =
      s"""SELECT vec_id, embedding, cell FROM (
         |  SELECT v.vec_id, v.embedding, c.vec_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id) AS crn
         |  FROM ($src) v CROSS JOIN cent c) WHERE crn = 1""".stripMargin
    s"""ms AS (SELECT m FROM range(8) t(m)),
       |corpus_cells AS (${assign("SELECT vec_id, embedding FROM embeddings")}),
       |query_cells AS (${assign(
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5")}),
       |enc AS (SELECT vec_id, cell, list(code ORDER BY m) AS codes FROM (
       |    SELECT v.vec_id, v.cell, s.m, c.j AS code, row_number() OVER (
       |      PARTITION BY v.vec_id, s.m
       |      ORDER BY ${subSql("v.embedding", "c.cw", "s.m")} ASC, c.j ASC) AS rn
       |    FROM corpus_cells v CROSS JOIN ms s CROSS JOIN cb c) WHERE rn = 1
       |  GROUP BY vec_id, cell),
       |qd AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, s.m,
       |    ${subSql("q.embedding", "c.cw", "s.m")} AS dm
       |  FROM enc e CROSS JOIN ms s
       |  JOIN cb c ON c.j = e.codes[s.m + 1]
       |  JOIN query_cells q ON q.cell = e.cell AND q.vec_id <> e.vec_id),
       |ad AS (SELECT query_id, neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(dm ORDER BY m)),
       |      (x, y) -> x + y) AS adist
       |  FROM qd GROUP BY 1, 2)""".stripMargin
  }

  val s8Sql: String =
    s"""$ivfPqAdcCtes,
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS INT) AS rnk,
       |    adist FROM ad)
       |SELECT query_id, neighbor_id, rnk, round(adist, 6) AS adist
       |FROM r WHERE rnk <= 3""".stripMargin

  /** s30: IVF-PQ over RESIDUALS (Similarity.knnIvfPqResidual) — the
    * layout FAISS's IndexIVFPQ actually ships: PQ encodes x − c(x)
    * so one shared codebook describes the tight residual
    * distribution instead of raw vectors spread across all cells,
    * and the CODEBOOK itself lives in residual space (codewords =
    * the residuals of vec_id < 16 w.r.t. their own cells — the
    * deterministic stand-in in the same space a trained residual
    * codebook would occupy). ‖(q−c) − (x−c)‖ = ‖q−x‖ keeps the
    * in-cell geometry exact; residuals subtract in FLOAT on both
    * engines (binary64 double rounding is innocuous for float a−b),
    * so the whole index restates in SQL under the hash gate. */
  def s30IvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id") < 8)
    val codebook = Similarity.cellResiduals(
      Similarity.assignCells(emb.filter(col("vec_id") < 16), cents), cents)
      .select(col("vec_id"), col("res").as("embedding"))
    Similarity.knnIvfPqResidual(emb, queryVecs(spark, dir), cents,
      codebook, m = 8, k = 3)
  }

  val s30Sql: String = {
    def subSql(v: String, c: String, m: String) = pqSubSql(v, c, m)
    def assign(src: String) =
      s"""SELECT vec_id, embedding, cell FROM (
         |  SELECT v.vec_id, v.embedding, c.vec_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id) AS crn
         |  FROM ($src) v CROSS JOIN cent c) WHERE crn = 1""".stripMargin
    def residual(src: String) =
      s"""SELECT v.vec_id, v.cell,
         |    list_transform(range(64), i ->
         |      CAST(v.embedding[i + 1] - ct.embedding[i + 1] AS FLOAT)) AS res
         |  FROM ($src) v JOIN cent ct ON ct.vec_id = v.cell""".stripMargin
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |ms AS (SELECT m FROM range(8) t(m)),
       |corpus_cells AS (${assign("SELECT vec_id, embedding FROM embeddings")}),
       |query_cells AS (${assign(
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5")}),
       |corpus_res AS (${residual("SELECT * FROM corpus_cells")}),
       |query_res AS (${residual("SELECT * FROM query_cells")}),
       |cb AS (SELECT vec_id AS j, res AS cw FROM corpus_res
       |  WHERE vec_id < 16),
       |enc AS (SELECT vec_id, cell, list(code ORDER BY m) AS codes FROM (
       |    SELECT v.vec_id, v.cell, s.m, c.j AS code, row_number() OVER (
       |      PARTITION BY v.vec_id, s.m
       |      ORDER BY ${subSql("v.res", "c.cw", "s.m")} ASC, c.j ASC) AS rn
       |    FROM corpus_res v CROSS JOIN ms s CROSS JOIN cb c) WHERE rn = 1
       |  GROUP BY vec_id, cell),
       |qd AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, s.m,
       |    ${subSql("q.res", "c.cw", "s.m")} AS dm
       |  FROM enc e CROSS JOIN ms s
       |  JOIN cb c ON c.j = e.codes[s.m + 1]
       |  JOIN query_res q ON q.cell = e.cell AND q.vec_id <> e.vec_id),
       |ad AS (SELECT query_id, neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(dm ORDER BY m)),
       |      (x, y) -> x + y) AS adist
       |  FROM qd GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS INT) AS rnk,
       |    adist FROM ad)
       |SELECT query_id, neighbor_id, rnk, round(adist, 6) AS adist
       |FROM r WHERE rnk <= 3""".stripMargin
  }

  /** s31: ADAPTIVE-PROBE IVF search (Similarity.knnIvfAdaptive) —
    * the probe width becomes DATA-DRIVEN: each query opens cells in
    * centroid-similarity order until the candidate budget (150) is
    * met, so a query landing in hot cells stops early and one
    * landing in sparse cells probes wider — the same scan cost per
    * query on any skew, where s6's fixed nprobe either wastes or
    * starves. `n_probed` is emitted per query, making the
    * adaptivity itself part of the hash-gated answer. */
  def s31AdaptiveProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnIvfAdaptive(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), budget = 150, k = 3)
  }

  val s31Sql: String = {
    def assign(src: String) =
      s"""SELECT vec_id, embedding, cell FROM (
         |  SELECT v.vec_id, v.embedding, c.vec_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id) AS crn
         |  FROM ($src) v CROSS JOIN cent c) WHERE crn = 1""".stripMargin
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |corpus_cells AS (${assign("SELECT vec_id, embedding FROM embeddings")}),
       |sz AS (SELECT cell, count(*) AS cell_n FROM corpus_cells
       |  GROUP BY 1),
       |qr AS (SELECT q.vec_id AS query_id, c.vec_id AS cell,
       |    ${cosSql("q.embedding", "c.embedding")} AS ccos
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5),
       |rk AS (SELECT query_id, cell, cell_n,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ccos DESC, cell) AS crn
       |  FROM qr JOIN sz USING (cell)),
       |cm AS (SELECT query_id, cell,
       |    coalesce(sum(cell_n) OVER (PARTITION BY query_id ORDER BY crn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM rk),
       |pb AS (SELECT query_id, cell FROM cm WHERE cum_before < 150),
       |np AS (SELECT query_id, count(*) AS n_probed FROM pb GROUP BY 1),
       |pr AS (SELECT p.query_id, v.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "v.embedding")} AS cos
       |  FROM pb p JOIN corpus_cells v ON v.cell = p.cell
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE q.vec_id <> v.vec_id),
       |fr AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT)
       |      AS rnk, cos FROM pr)
       |SELECT query_id, CAST(n_probed AS BIGINT) AS n_probed,
       |  neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM fr JOIN np USING (query_id) WHERE rnk <= 3""".stripMargin
  }

  /** s32: TOP PRINCIPAL COMPONENT of the embedding corpus — the
    * spectral statistic behind whitening and anisotropy diagnosis
    * (one dominant direction eating the variance is why raw cosine
    * over contextual embeddings misleads — the "all embeddings
    * point the same way" pathology). Exact-integer covariance (the
    * one-pass scatter identity on the micro-unit lattice) + two
    * deterministic power iterations + the Rayleigh-quotient variance
    * share, every step integer arithmetic both engines share —
    * see Similarity.topPrincipalComponent for the magnitude audit
    * and the 100 TB one-pass/4096-sums shape. */
  def s32TopPc(spark: SparkSession, dir: String): DataFrame =
    Similarity.topPrincipalComponent(Tables.embeddings(spark, dir),
      dim = 64, iters = 2)

  val s32Sql: String = {
    val iters = 2
    val rounds = (1 to iters).map { it =>
      val prev = if (it == 1) "v0" else s"v${it - 1}"
      s"""w$it AS (SELECT sc.i AS d, sum(sc.sc * $prev.v) AS w
         |  FROM scat sc JOIN $prev ON $prev.d = sc.j GROUP BY 1),
         |m$it AS (SELECT greatest(max(abs(w)), 1) AS mw FROM w$it),
         |v$it AS (SELECT d, (w * 1000000) // mw AS v
         |  FROM w$it CROSS JOIN m$it)""".stripMargin
    }.mkString(",\n")
    s"""WITH mx AS MATERIALIZED (SELECT list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
       |      AS BIGINT)) AS xu
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM mx),
       |sx AS MATERIALIZED (SELECT d, CAST(sum(xu[d+1]) AS BIGINT) AS sx
       |  FROM mx CROSS JOIN range(64) t(d) GROUP BY 1),
       |mean AS (SELECT d, sx, sx // n AS m FROM sx CROSS JOIN nn),
       |sxyu AS MATERIALIZED (SELECT i, j,
       |    sum(CAST(xu[i+1] AS HUGEINT) * xu[j+1]) AS sxy
       |  FROM mx CROSS JOIN range(64) ti(i) CROSS JOIN range(64) tj(j)
       |  WHERE j >= i GROUP BY 1, 2),
       |sxy AS (SELECT i, j, sxy FROM sxyu
       |  UNION ALL SELECT j, i, sxy FROM sxyu WHERE i <> j),
       |scat AS MATERIALIZED (SELECT s.i, s.j,
       |    s.sxy - CAST(mj.m AS HUGEINT) * mi.sx
       |      - CAST(mi.m AS HUGEINT) * mj.sx
       |      + CAST(nn.n AS HUGEINT) * mi.m * mj.m AS sc
       |  FROM sxy s JOIN mean mi ON mi.d = s.i
       |  JOIN mean mj ON mj.d = s.j CROSS JOIN nn),
       |v0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v FROM range(64) t(d)),
       |$rounds,
       |sv AS (SELECT sc.i AS d, sum(sc.sc * v$iters.v) AS sv
       |  FROM scat sc JOIN v$iters ON v$iters.d = sc.j GROUP BY 1),
       |ed AS (SELECT sum(sv.sv * v$iters.v) AS vsv,
       |    sum(v$iters.v * v$iters.v) AS vv
       |  FROM sv JOIN v$iters ON v$iters.d = sv.d),
       |tr AS (SELECT sum(sc) AS tr FROM scat WHERE i = j)
       |SELECT CAST(v$iters.d AS INT) AS dim,
       |  CAST(v$iters.v AS BIGINT) AS loading_ppm,
       |  CAST((CAST(vsv // greatest(vv, 1) AS HUGEINT) * 1000000)
       |    // greatest(tr, 1) AS BIGINT) AS lead_share_ppm
       |FROM v$iters CROSS JOIN ed CROSS JOIN tr""".stripMargin
  }

  /** s11: IVF-PQ with the exact RE-RANK refine stage — s8's ADC scan
    * keeps only a top-10 shortlist per query, then the shortlist is
    * re-scored against full-precision embeddings and the final top-3
    * ranks by EXACT cosine (Similarity.knnIvfPqRerank). The scores a
    * user sees are exact; PQ error can only cost shortlist-boundary
    * recall — the production serve path (FAISS's refine, SCaNN's
    * reordering) in one declarative plan. */
  def s11IvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnIvfPqRerank(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") < 16),
      m = 8, shortlist = 10, k = 3)
  }

  val s11Sql: String =
    s"""$ivfPqAdcCtes,
       |sh AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS srn
       |    FROM ad) WHERE srn <= 10),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM sh s
       |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = s.query_id),
       |fr AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM rr)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM fr WHERE rnk <= 3""".stripMargin

  /** s12: ANN quality measured AS A QUERY — per-query recall@3 of
    * the nprobe=2 IVF search (s6's exact configuration) against the
    * brute-force ground truth (Similarity.annRecall). This is the
    * evaluation an index owner re-runs after every build/retrain;
    * wiring it as a first-class query means the quality number comes
    * from the same engine, same session, same scan as the searches
    * it judges. */
  def s12AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.annRecall(emb, queryVecs(spark, dir),
      emb.filter(col("vec_id") < 8), k = 3, nprobe = 2)
  }

  /** shared s12/s28 oracle builder: recall@3 of the IVF search at a
    * given query-side probe width against exact brute force. */
  private def recallSql(nprobe: Int): String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 5) WHERE rnk <= 3),
       |iv AS (SELECT query_id, neighbor_id FROM (
       |${ivfSql(nprobe)}
       |))
       |SELECT bf.query_id, count(iv.neighbor_id) AS n_hits,
       |  round(count(iv.neighbor_id) / 3.0, 6) AS recall
       |FROM bf LEFT JOIN iv ON iv.query_id = bf.query_id
       |  AND iv.neighbor_id = bf.neighbor_id
       |GROUP BY 1""".stripMargin

  val s12Sql: String = recallSql(nprobe = 2)

  /** s28: the RECALL-vs-NPROBE TUNING CURVE — s12's recall
    * instrument swept across probe widths 1..4 in one query: per
    * (nprobe, query), hits@3 against exact brute force. This is THE
    * number an index operator reads to set the serving knob (recall
    * rises with nprobe, cost rises linearly; the curve says where it
    * plateaus) — s6 picked nprobe=2 by fiat, s28 is the evidence.
    * Union of four independent searches; the ground-truth brute-force
    * ranking is computed once per arm from the same deterministic
    * arithmetic, so every row hashes cross-engine. */
  def s28NprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id") < 8)
    (1 to 4).map { np =>
      Similarity.annRecall(emb, queryVecs(spark, dir), cents,
        k = 3, nprobe = np)
        .select(lit(np).as("nprobe"), col("query_id"), col("n_hits"),
          col("recall"))
    }.reduce(_ unionByName _)
  }

  val s28Sql: String = (1 to 4).map { np =>
    s"""SELECT CAST($np AS INT) AS nprobe, query_id, n_hits, recall FROM (
       |${recallSql(np)}
       |)""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** s13: binary-quantization ANN — 1 bit per dimension (the third
    * compression point after s5's int8 and s7's PQ: 64-dim float32 →
    * 8 bytes, 32×), Hamming-distance shortlist (XOR + popcount — the
    * cheapest candidate scan any index serves, and the one modern
    * engines run over binary embeddings), exact-cosine re-rank of the
    * top-10 shortlist (s11's refine shape). The oracle restates
    * Hamming as the count of per-dimension sign disagreements —
    * arithmetically identical to the engine's packed
    * bit_count(w0^w0')+bit_count(w1^w1'), integer end to end. */
  def s13BinaryRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnBinaryRerank(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), shortlist = 10, k = 3)

  val s13Sql: String =
    s"""WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    len(list_filter(range(64), k ->
       |      (q.embedding[k+1] > 0) <> (c.embedding[k+1] > 0))) AS ham
       |  FROM embeddings c
       |  JOIN embeddings q ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |sh AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY ham ASC, neighbor_id) AS srn
       |    FROM p) WHERE srn <= 10),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM sh s
       |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = s.query_id),
       |fr AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM rr)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM fr WHERE rnk <= 3""".stripMargin

  /** s29: BINARY-RERANK SHORTLIST SWEEP — s13's 1-bit Hamming
    * shortlist + exact re-rank measured for recall@3 against brute
    * force at shortlist widths 5/10/20: the refine-budget tuning
    * curve (the third after d15's bands and s28's nprobe — each
    * serving knob now ships with its evidence). The shortlist width
    * is THE binary-quantization serving knob: Hamming is nearly
    * free, every shortlist slot costs one exact re-score, and the
    * curve shows where widening stops buying recall. */
  def s29ShortlistSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val truth = Similarity.knnBruteForce(emb, q, k = 3)
      .select(col("query_id"), col("neighbor_id")).snapshot()
    Seq(5, 10, 20).map { sl =>
      val ann = Similarity.knnBinaryRerank(emb, q, shortlist = sl, k = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      truth.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).as("n_hits"))
        .select(lit(sl).as("shortlist"), col("query_id"), col("n_hits"),
          round(col("n_hits") / 3.0, 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  val s29Sql: String = {
    def arm(sl: Int): String =
      s"""SELECT CAST($sl AS INT) AS shortlist, bf.query_id,
         |  count(iv.neighbor_id) AS n_hits,
         |  round(count(iv.neighbor_id) / 3.0, 6) AS recall
         |FROM bf LEFT JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT s.query_id, s.neighbor_id, CAST(row_number() OVER (
         |        PARTITION BY s.query_id ORDER BY
         |        ${cosSql("qe.embedding", "ne.embedding")} DESC,
         |        s.neighbor_id) AS INT) AS rnk
         |    FROM (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (
         |          PARTITION BY query_id ORDER BY ham ASC, neighbor_id)
         |          AS srn FROM p) WHERE srn <= $sl) s
         |    JOIN embeddings ne ON ne.vec_id = s.neighbor_id
         |    JOIN embeddings qe ON qe.vec_id = s.query_id)
         |  WHERE rnk <= 3) iv
         |  ON iv.query_id = bf.query_id AND iv.neighbor_id = bf.neighbor_id
         |GROUP BY 1, 2""".stripMargin
    s"""WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    len(list_filter(range(64), k ->
       |      (q.embedding[k+1] > 0) <> (c.embedding[k+1] > 0))) AS ham
       |  FROM embeddings c
       |  JOIN embeddings q ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 5) WHERE rnk <= 3)
       |${Seq(5, 10, 20).map(arm).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** s14: truncated-prefix (Matryoshka) ANN — the shortlist scores
    * cosine over only the FIRST 16 of 64 dimensions (the nested-
    * prefix contract MRL-trained embeddings are built for: every
    * prefix is itself a usable embedding), the top-10 shortlist
    * re-ranks by full-dim exact cosine. The fourth compression point
    * on the serving-cost curve (int8 s5, PQ s7, binary s13, prefix
    * s14), and unlike the others it needs NO codebook or packing —
    * just a column slice the scan can prune to. */
  def s14MrlRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnTruncatedRerank(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), prefixDim = 16, shortlist = 10, k = 3)

  val s14Sql: String =
    s"""WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding", 16)} AS tcos
       |  FROM embeddings c
       |  JOIN embeddings q ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |sh AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY tcos DESC, neighbor_id) AS srn
       |    FROM p) WHERE srn <= 10),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM sh s
       |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = s.query_id),
       |fr AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk,
       |    cos FROM rr)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
       |FROM fr WHERE rnk <= 3""".stripMargin

  /** s15: the TRAINED product-quantizer serving the ADC search —
    * s7's exact plan but with the codebook from
    * `KMeans.trainPqCodebook` (per-subspace L2 Lloyd's) instead of
    * the vec_id<16 stand-in: the second half of the index-training
    * lifecycle s9 opened (s9 trained the coarse cells; s15 trains
    * the compression codewords). Like s9, the codeword mean update
    * runs on the integer micro-unit lattice, so the trained codebook
    * is bit-identical across runs AND engines and the train-then-
    * search lifecycle restates under the DuckDB hash gate (2 Lloyd's
    * iterations per subspace unrolled, then the s7 ADC CTEs); the
    * spec keeps the Lloyd's quality pins (trained self-distortion ≤
    * stand-in's, determinism). */
  def s15PqTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.operators.KMeans.trainPqCodebook(emb, m = 8, k = 16,
      iters = 2)
    Similarity.knnPqAdc(emb, queryVecs(spark, dir), cb, m = 8, k = 3)
  }

  /** s15 oracle: KMeans.trainPqCodebook(m=8, k=16, iters=2) unrolled —
    * seeds are the vec_id<16 subspace slices (the s7 stand-in,
    * renumbered per subspace); per iteration, squared-L2 argmin over
    * that subspace's codewords (double fold in ascending dim order,
    * floats widened before subtract — the exact trainer/PqAdc
    * arithmetic) then the micro-unit integer mean with the
    * empty-codeword keep-previous guard; codewords reassemble
    * full-width in subspace order and feed the exact s7 ADC CTEs. */
  val s15Sql: String =
    s"""WITH $s15TrainerCtes,
       |$pqAdcSearchSql""".stripMargin

  /** s15's trainer chain (subspace seed + 2 L2 Lloyd rounds + the
    * reassembled `cb` relation), no WITH — shared by s15 and s36. */
  private lazy val s15TrainerCtes: String = {
    val iters = 2
    // squared L2 over two 8-wide float lists, ascending-dim double fold
    def l2sub(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(8), d -> (CAST($a[d+1] AS DOUBLE) - " +
        s"CAST($b[d+1] AS DOUBLE)) * (CAST($a[d+1] AS DOUBLE) - " +
        s"CAST($b[d+1] AS DOUBLE)))), (x, y) -> x + y)"
    val seed =
      """sd AS (SELECT vec_id, embedding FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
        |cb0 AS MATERIALIZED (SELECT t.ms,
        |    CAST(row_number() OVER (PARTITION BY t.ms ORDER BY s.vec_id)
        |      - 1 AS INT) AS j,
        |    list_transform(range(8), d -> s.embedding[t.ms*8 + d + 1])
        |      AS csv
        |  FROM sd s CROSS JOIN range(8) t(ms)),
        |cx AS MATERIALIZED (SELECT t.ms, v.vec_id,
        |    list_transform(range(8), d -> v.embedding[t.ms*8 + d + 1])
        |      AS sv
        |  FROM embeddings v CROSS JOIN range(8) t(ms))""".stripMargin
    val rounds = (1 to iters).map { i =>
      val prev = s"cb${i - 1}"
      s"""pa$i AS MATERIALIZED (SELECT ms, vec_id, sv, j FROM (
         |    SELECT x.ms, x.vec_id, x.sv, c.j,
         |      row_number() OVER (PARTITION BY x.ms, x.vec_id ORDER BY
         |        ${l2sub("x.sv", "c.csv")} ASC, c.j) AS rn
         |    FROM cx x JOIN $prev c ON c.ms = x.ms) WHERE rn = 1),
         |pm$i AS (SELECT ms, j, d,
         |    CAST(sum(CAST(floor(CAST(sv[d+1] AS DOUBLE)
         |        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         |      // count(*) AS cu
         |  FROM pa$i CROSS JOIN range(8) t(d) GROUP BY ms, j, d),
         |pn$i AS (SELECT ms, j, list(CAST(CAST(cu AS DOUBLE) / 1000000.0
         |      AS FLOAT) ORDER BY d) AS csv
         |  FROM pm$i GROUP BY ms, j),
         |cb$i AS MATERIALIZED (SELECT p.ms, p.j,
         |    COALESCE(n.csv, p.csv) AS csv
         |  FROM $prev p LEFT JOIN pn$i n ON n.ms = p.ms AND n.j = p.j)"""
        .stripMargin
    }.mkString(",\n")
    s"""$seed,
       |$rounds,
       |cb AS (SELECT j, flatten(list(csv ORDER BY ms)) AS cw
       |  FROM cb$iters GROUP BY j)""".stripMargin
  }

  // ---- s36: fully-trained IVF-PQ -------------------------------------

  /** s36: the PRODUCTION END-STATE of the index lifecycle — s8's
    * IVF-PQ search with BOTH halves trained: the coarse quantizer
    * from `KMeans.train` (s9's cells) and the compression codebook
    * from `KMeans.trainPqCodebook` (s15's codewords), feeding the
    * exact s8 encode + ADC plan. Every stand-in is retired in one
    * query: this is what a user deploys after s9 and s15 proved the
    * trainers, and the audits (s12 recall, s34 distortion, s35
    * recall) measure. The oracle chains BOTH trainer restatements
    * into the shared search CTEs, so engine and oracle train AND
    * search identically.
    *
    * 100 TB shape: trainers as documented at s9/s15; the search is
    * s8's — broadcast centroid/codebook rows, one narrow encode
    * pass, cell-pruned ADC join. */
  def s36IvfPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = graft.operators.KMeans.train(emb, k = 8, iters = 3)
    val cb = graft.operators.KMeans.trainPqCodebook(emb, m = 8, k = 16,
      iters = 2)
    Similarity.knnIvfPq(emb, queryVecs(spark, dir), cents, cb,
      m = 8, k = 3)
  }

  val s36Sql: String =
    s"""WITH $s9TrainerCtes,
       |$s15TrainerCtes,
       |$ivfPqSearchCtes,
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS INT) AS rnk,
       |    adist FROM ad)
       |SELECT query_id, neighbor_id, rnk, round(adist, 6) AS adist
       |FROM r WHERE rnk <= 3""".stripMargin

  // ---- s35: trained-PQ recall audit ---------------------------------

  /** s35: RECALL@3 OF THE TRAINED PQ — the end-to-end quality number
    * for the compression half of the index lifecycle, closing the
    * audit triangle: s12 measures the COARSE quantizer's recall, s34
    * measures the codebook's DISTORTION, s35 measures what the user
    * feels — how many of the exact top-3 the trained ADC scan
    * returns. Exactly the s12 instrument pointed at s15's search
    * (same trained codebook, same ADC kernel), so a codebook change
    * that tanks recall fails this gate even while s15's own ranking
    * hash stays self-consistent.
    *
    * 100 TB shape: the brute-force truth side is query-bounded
    * (|queries|·k rows); the ADC side is s15's scan; the join is on
    * (query, neighbor) — nothing corpus-sized beyond the two scans
    * already audited. */
  def s35PqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.operators.KMeans.trainPqCodebook(emb, m = 8, k = 16,
      iters = 2)
    val truth = Similarity.knnBruteForce(emb, queryVecs(spark, dir), 3)
      .select(col("query_id"), col("neighbor_id"))
    val ann = Similarity.knnPqAdc(emb, queryVecs(spark, dir), cb,
        m = 8, k = 3)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / 3.0, 6).as("recall"))
  }

  val s35Sql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 5) WHERE rnk <= 3),
       |pq AS (SELECT query_id, neighbor_id FROM (
       |$s15Sql
       |))
       |SELECT bf.query_id, count(pq.neighbor_id) AS n_hits,
       |  round(count(pq.neighbor_id) / 3.0, 6) AS recall
       |FROM bf LEFT JOIN pq ON pq.query_id = bf.query_id
       |  AND pq.neighbor_id = bf.neighbor_id
       |GROUP BY 1""".stripMargin

  /** s5: int8 scalar quantization quality — the storage-path op an
    * embedding corpus runs before ANN serving (4× smaller vectors):
    * per-vector symmetric scale 127/max|v|, q = floor(v·s + 0.5)
    * (explicit floor — Spark round() and DuckDB round() disagree on
    * halves, floor+0.5 is bit-identical), and the reconstruction
    * error profile of dequantization. Entirely row-local: at 100 TB
    * this is a narrow projection over the embedding scan. */
  def s5Quantize(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions.bind
    val stats = bind(col("embedding"), v =>
      bind(array_max(transform(v, x => abs(x.cast("double")))), ma => {
        val scale = lit(127.0) / ma
        val errs = transform(v, x => abs(x.cast("double") -
          floor(x.cast("double") * scale + 0.5) / scale))
        // zero-vector guard: 127/0 = Inf -> 0*Inf = NaN would leak
        // engine-specific NaN handling into the gate; quantizing the
        // zero vector is exact, so its errors are zero by definition
        when(ma === 0.0,
          struct(lit(0.0).as("max_abs"), lit(0.0).as("max_err"),
            lit(0.0).as("mean_err")))
        .otherwise(struct(round(ma, 6).as("max_abs"),
          round(array_max(errs), 6).as("max_err"),
          round(aggregate(errs, lit(0.0), (a, b) => a + b) / size(v), 6)
            .as("mean_err")))
      }))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), stats.as("s"))
      .select(col("vec_id"), col("s.max_abs").as("max_abs"),
        col("s.max_err").as("max_err"), col("s.mean_err").as("mean_err"))
  }

  val s5Sql: String =
    """WITH b AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      |er AS (SELECT vec_id, ma,
      |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE) -
      |      floor(CAST(x AS DOUBLE) * (127.0/ma) + 0.5) / (127.0/ma))) AS errs
      |  FROM b)
      |SELECT vec_id,
      |  CASE WHEN ma = 0 THEN 0.0 ELSE round(ma, 6) END AS max_abs,
      |  CASE WHEN ma = 0 THEN 0.0 ELSE round(list_max(errs), 6) END AS max_err,
      |  CASE WHEN ma = 0 THEN 0.0 ELSE
      |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE), errs),
      |      (a, b) -> a + b) / len(errs), 6) END AS mean_err
      |FROM er""".stripMargin

  // ---- text analysis ----------------------------------------------

  /** x1: per-document quality metrics (token/stopword/punct counts,
    * rational quality score — no transcendentals, parity-safe).
    * Zero-token docs (empty/whitespace text) score 0.0 on both
    * ratios — without the guard the division would emit NULL and
    * trip Verify's no-NULL gate on any future corpus that contains
    * an empty document. */
  /** The x1 stats struct as a row-local column over `text` — shared
    * by textStats and any curation query that ranks or gates on
    * quality (x24/x25) so the formula cannot diverge between the
    * profile and its consumers (the repetitionStatsCol discipline),
    * and so consumers never pay a doc_id self-join to re-attach a
    * pure per-row metric. */
  private[queries] def textStatsCol: Column = {
    import TextFunctions.bind
    bind(TextFunctions.tokens(col("text")), ts =>
      struct(size(ts).as("n_tokens"),
        size(filter(ts, t => t.isInCollection(TextFunctions.Stopwords)))
          .as("n_stop"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("n_punct")))
  }

  /** quality derivation from the stats struct (zero-token guard +
    * round-at-edge). Requires `n_chars` in scope at the same select
    * level as the struct. */
  private[queries] def qualityFrom(s: Column): Column = {
    val nTok = s.getField("n_tokens")
    when(nTok === 0, 0.0).otherwise(round(
      least(lit(1.0), nTok.cast("double") / 100) * 0.6
        + s.getField("n_stop").cast("double") / nTok * 0.2
        + (lit(1.0) - s.getField("n_punct").cast("double") / col("n_chars"))
          * 0.2, 6))
  }

  def textStats(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("n_chars"), textStatsCol.as("s"))
    val nTok = col("s.n_tokens")
    docs.select(col("doc_id"),
      nTok.as("n_tokens"), col("s.n_stop").as("n_stop"),
      col("s.n_punct").as("n_punct"),
      when(nTok === 0, 0.0)
        .otherwise(round(col("s.n_stop").cast("double") / nTok, 6))
        .as("stop_ratio"),
      qualityFrom(col("s")).as("quality"))
  }

  def x1TextStats(spark: SparkSession, dir: String): DataFrame =
    // spread: the stats struct is a heavy row-local pass and the
    // table is a single parquet split — without the fan-out it
    // computes on one core (row-local, so results are unchanged)
    textStats(Tables.spread(Tables.documents(spark, dir)))

  /** the x1 stats CTE pair over `documents` (per-doc n_tokens /
    * n_stop / n_punct, n_chars and any `extra` passthrough columns
    * carried along) — shared with the x24/x25 oracles so the
    * restated formula matches x1Sql's exactly. */
  private[queries] def statsCtesSql(extra: String*): String = {
    val pass = extra.map(c => s"$c, ").mkString
    s"""t AS (SELECT ${pass}doc_id, n_chars, text, $tsSql AS ts FROM documents),
       |m AS (SELECT ${pass}doc_id, n_chars,
       |    CAST(len(ts) AS INT) AS n_tokens,
       |    CAST(len(list_filter(ts, s -> s IN
       |      ('the','a','and','of','to','in','is','it'))) AS INT) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT)
       |      AS n_punct
       |  FROM t)""".stripMargin
  }

  /** the x1 quality CASE over the `m` CTE's columns (= qualityFrom) */
  private[queries] val qualitySql: String =
    """CASE WHEN n_tokens = 0 THEN 0.0 ELSE
      |    round(least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100) * 0.6
      |      + CAST(n_stop AS DOUBLE) / n_tokens * 0.2
      |      + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.2, 6) END""".stripMargin

  val x1Sql: String =
    s"""WITH ${statsCtesSql()}
       |SELECT doc_id, n_tokens, n_stop, n_punct,
       |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |    round(CAST(n_stop AS DOUBLE) / n_tokens, 6) END AS stop_ratio,
       |  $qualitySql AS quality
       |FROM m""".stripMargin

  /** x3: corpus token histogram (explode → hash agg; partial
    * map-side combine makes the shuffle proportional to vocabulary,
    * not corpus). */
  def x3TokenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  val x3Sql: String =
    s"""SELECT t AS token, count(*) AS n FROM (
       |  SELECT unnest($tsSql) AS t FROM documents
       |) GROUP BY 1""".stripMargin

  /** x4: rolling-hash document fingerprint (poly_hash of the 8-token
    * prefix); groups with >1 doc = prefix-duplicate clusters. */
  def x4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.polyHash(
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 8)))
          .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)

  val x4Sql: String =
    s"""WITH t AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |fp AS (SELECT doc_id,
       |    ${polySql("array_to_string(ts[1:8], ' ')")} AS fingerprint
       |  FROM t)
       |SELECT fingerprint, count(*) AS n_docs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM fp GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** x5: exact cardinality profile of the events stream (count,
    * exact distinct users, active days). */
  def x5Cardinality(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"))

  val x5Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  min(user_id) AS min_user, max(user_id) AS max_user
      |FROM events GROUP BY 1""".stripMargin

  /** x2: n-gram-marker language ID. Each language gets a few marker
    * n-grams; score = total marker characters matched (computed via
    * replace-and-measure, identical left-to-right semantics on both
    * engines); prediction = argmax with a fixed tiebreak order.
    * Output: actual × predicted confusion counts. (The synthetic
    * corpus is English-ish for every lang value, so accuracy is
    * meaningless — the mechanism is what's under test.) */
  private[queries] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " is ", " a "),
    "de" -> Seq("sch", "ein", " der "),
    "es" -> Seq(" los ", "ción", " es "),
    "fr" -> Seq(" les ", " une ", "eau"),
    "zh" -> Seq("的", "是"))

  def x2LangId(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(lit(" "), lower(col("text")), lit(" "))
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => length(t) - length(replace(t, lit(m), lit(""))))
        .reduce(_ + _)
    }
    val pred = scores.foldRight(lit(scores.last._1)) { case ((lang, s), els) =>
      when(scores.filter(_._1 != lang).map(_._2)
        .foldLeft(lit(true))((acc, o) => acc && s >= o), lang).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  val x2Sql: String = {
    val scoreSql = langMarkers.map { case (lang, ms) =>
      val terms = ms.map(m =>
        s"(length(t) - length(replace(t, '$m', '')))").mkString(" + ")
      s"($terms) AS s_$lang"
    }.mkString(",\n    ")
    val langs = langMarkers.map(_._1)
    val caseSql = langs.map { lang =>
      val conds = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o")
        .mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.dropRight(1).mkString("\n    ")
    s"""WITH t AS (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents),
       |s AS (SELECT lang, $scoreSql FROM t),
       |p AS (SELECT lang, CASE $caseSql ELSE '${langs.last}' END AS pred_lang
       |  FROM s)
       |SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin
  }

  /** m1: multimodal columns — the payload rides as BINARY, metadata
    * is typed, and the decode stage is the deterministic stub of
    * operators.Multimodal (real plumbing, fake codec: the stub dims
    * are pure arithmetic on the payload fingerprint so DuckDB can
    * restate them). */
  def m1Multimodal(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"))
      .select(col("doc_id"), length(col("data")).as("byte_len"),
        TextFunctions.polyHash(lower(hex(col("data")))).as("content_fp"))
      .selectExpr("doc_id", "byte_len", "content_fp",
        "CAST(64 + content_fp % 61 AS INT) AS width",
        "CAST(64 + (content_fp div 61) % 53 AS INT) AS height",
        "CAST(1 + content_fp % 7 AS INT) AS n_frames")

  val m1Sql: String =
    s"""WITH b AS (SELECT doc_id, encode(text) AS data FROM documents),
       |f AS (SELECT doc_id, CAST(octet_length(data) AS INT) AS byte_len,
       |    ${polySql("lower(hex(data))")} AS content_fp
       |  FROM b)
       |SELECT doc_id, byte_len, content_fp,
       |  CAST(64 + content_fp % 61 AS INT) AS width,
       |  CAST(64 + (content_fp // 61) % 53 AS INT) AS height,
       |  CAST(1 + content_fp % 7 AS INT) AS n_frames
       |FROM f""".stripMargin

  /** m2: REAL compressed-image decode under the hash gate. Per doc:
    * a deterministic RGB image (dims + pixels are arithmetic on
    * doc_id) is encoded to a genuine PNG by the JDK encoder, and the
    * engine's AutoCodec must magic-dispatch it and actually parse it
    * back (ImageIO inflate) — the output reports the DECODED dims and
    * a poly-hash of the DECODED pixels. PNG is lossless, so the
    * oracle restates the expected values with pure arithmetic: any
    * decoder defect (wrong dims, channel swap, row order, inflate
    * bug) breaks the hash. Partition-scoped narrow map — pixels
    * never shuffle (same shape as the S2 decode stage). JPEG rides
    * the same seam but is lossy, so its pixel assertions live in
    * specs (GraftNetSpec), not the SQL gate. */
  def m2PngDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (_, _, png) = SyntheticMedia.pngImage(id)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == dec.width && dh == dec.height,
            s"codec metadata/pixel disagreement for doc $id")
          (id, dec.width, dec.height, dec.channels, dec.n_frames,
            graft.functions.PolyHash.hashBytes(back))
        }
      }.toDF("doc_id", "width", "height", "channels", "n_frames", "pixel_fp")
  }

  val m2Sql: String =
    """SELECT doc_id,
      |  CAST(8 + doc_id % 13 AS INT) AS width,
      |  CAST(8 + doc_id % 7 AS INT) AS height,
      |  3 AS channels, 1 AS n_frames,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range((8 + doc_id % 13) * (8 + doc_id % 7) * 3),
      |      i -> (doc_id*7 + i*13) % 256)),
      |    (a, b) -> (a*31 + b) % 1000000007) AS pixel_fp
      |FROM documents""".stripMargin

  /** m4: REAL multi-frame compressed-VIDEO decode under the hash
    * gate. Per doc: an animated GIF (frame pixels are palette
    * indexes, index and palette both arithmetic on doc_id) is
    * written by the JDK encoder and the engine's AutoCodec must
    * magic-dispatch it to the GIF codec, walk every frame, and
    * inflate each one — the output reports DECODED dims/frame count
    * and a poly-hash of ALL frames' decoded pixels concatenated in
    * frame order. LZW over an explicit palette is lossless, so the
    * oracle restates the expected pixels arithmetically: any defect
    * in the frame walk, palette application or inflate breaks the
    * hash. This closes the multi-frame compressed slice of the
    * reference's `decodebin` (/root/reference/run.sh:53) that
    * MJPEG-AVI (lossy JPEG, spec-only assertions) couldn't put
    * under the gate. */
  def m4GifDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = (1 + id % 4).toInt
          val (w, h, gif) = SyntheticMedia.gifClip(id, nf)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          val decoded = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
          require(decoded.length == dec.n_frames,
            s"codec frame-count disagreement for doc $id")
          val all = new Array[Byte](dec.n_frames * w * h * 3)
          var off = 0
          decoded.foreach { case (fw, fh, rgb) =>
            require(fw == dec.width && fh == dec.height,
              s"codec metadata/pixel disagreement for doc $id")
            System.arraycopy(rgb, 0, all, off, rgb.length)
            off += rgb.length
          }
          (id, dec.width, dec.height, dec.channels, dec.n_frames,
            graft.functions.PolyHash.hashBytes(all))
        }
      }.toDF("doc_id", "width", "height", "channels", "n_frames", "pixel_fp")
  }

  val m4Sql: String =
    """WITH g AS (SELECT doc_id,
      |    6 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
      |    1 + doc_id % 4 AS nf
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, nf,
      |    flatten(list_transform(
      |      list_transform(range(nf * w * h),
      |        p -> (doc_id*7 + (p // (w*h))*31 + (p % (w*h))*13) % 256),
      |      v -> [v, (v*37) % 256, (v*91) % 256])) AS rgb
      |  FROM g)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  3 AS channels, CAST(nf AS INT) AS n_frames,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), rgb),
      |    (a, b) -> (a*31 + b) % 1000000007) AS pixel_fp
      |FROM px""".stripMargin

  /** m7: FRAME SAMPLING as a first-class query — the decode →
    * frame-sample stage of the reference's video path (every 2nd
    * frame of each decoded stream) run through the shipped
    * `Multimodal.sampleFrames` operator and put under the hash gate:
    * per SAMPLED frame, the decoded-pixel RGB sum of m4's animated
    * GIF. Plan shape: one partition-scoped decode pass produces the
    * stream metadata AND the per-frame sums (pixels never leave the
    * partition — only the ≤4-element sums array does), sampleFrames
    * explodes the sampled frame rows from the metadata, and an
    * equi-join on media_id attaches each sampled frame's decoded
    * sum. In production the decoded metadata + per-frame stats table
    * is materialized once and this join is exactly how a sampler
    * consumes it; here both branches derive from the same scan. */
  def m7FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val stats = Tables.spread(Tables.documents(spark, dir)
      .select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = (1 + id % 4).toInt
          val (_, _, gif) = SyntheticMedia.gifClip(id, nf)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          val sums = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
            .map { case (_, _, rgb) =>
              var s = 0L; var i = 0
              while (i < rgb.length) { s += rgb(i) & 0xff; i += 1 }
              s
            }
          (dec, sums)
        }
      }.toDF("dec", "frame_sums")
      .select(col("dec.*"), col("frame_sums"))
    val decoded = stats.select(col("media_id"), col("kind"),
      col("byte_len"), col("checksum"), col("width"), col("height"),
      col("channels"), col("n_frames")).as[Multimodal.DecodedMedia]
    Multimodal.sampleFrames(decoded, step = 2)
      .join(stats.select(col("media_id"), col("frame_sums")), Seq("media_id"))
      .select(col("media_id").as("doc_id"), col("frame_idx"),
        col("width"), col("height"),
        element_at(col("frame_sums"), col("frame_idx") + 1).as("rgb_sum"))
  }

  val m7Sql: String =
    """WITH g AS (SELECT doc_id,
      |    6 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
      |    1 + doc_id % 4 AS nf
      |  FROM documents),
      |f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS frame_idx
      |  FROM g),
      |s AS (SELECT doc_id, w, h, frame_idx,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(w * h), i ->
      |        (doc_id*7 + frame_idx*31 + i*13) % 256
      |        + ((doc_id*7 + frame_idx*31 + i*13) % 256 * 37) % 256
      |        + ((doc_id*7 + frame_idx*31 + i*13) % 256 * 91) % 256)),
      |      (a, b) -> a + b) AS rgb_sum
      |  FROM f)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height, rgb_sum
      |FROM s""".stripMargin

  /** x7: token counting two ways — whitespace tokens and a BPE-ish
    * subword regex (runs of letters, runs of digits, single
    * punctuation). The alternation classes are disjoint so Java
    * regex and RE2 agree on every match boundary. */
  def x7TokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(spark, dir))

  def tokenCounts(docs: DataFrame): DataFrame = {
    val sub = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    val nWs = size(TextFunctions.tokens(col("text")))
    // zero-token guard: an empty/whitespace-only doc would divide by
    // zero → NULL on both engines → trips Verify's no-NULL gate
    // (same defect class as x1's round-4 fix)
    docs.select(col("doc_id"),
      nWs.as("n_ws_tokens"),
      size(sub).as("n_subword_tokens"),
      when(nWs === 0, 0.0).otherwise(
        round(size(sub).cast("double") / nWs, 6)).as("subword_ratio"))
  }

  val x7Sql: String =
    s"""SELECT doc_id,
       |  CAST(len($tsSql) AS INT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subword_tokens,
       |  CASE WHEN len($tsSql) = 0 THEN 0.0 ELSE
       |    round(CAST(len(regexp_extract_all(lower(text),
       |        '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS DOUBLE)
       |      / len($tsSql), 6) END AS subword_ratio
       |FROM documents""".stripMargin

  /** x8: exact interpolated percentiles of the event value stream —
    * Spark `percentile` and DuckDB `quantile_cont` share the
    * definition ((1-f)·a + f·b on the sorted values), so this is
    * oracle-exact, unlike t-digest/GK sketch approximations. */
  def x8Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax"))

  val x8Sql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  round(min(value), 6) AS vmin,
      |  round(max(value), 6) AS vmax
      |FROM events GROUP BY 1""".stripMargin

  /** x9: corpus profiling — per-column exact stats over the fact
    * table's numeric columns in ONE scan (unpivot + hash agg). */
  def x9Profile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.numericProfile(
      Tables.spread(Tables.lineitem(spark, dir)),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  val x9Sql: String =
    """WITH s AS (
      |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
      |)
      |SELECT col_name, count(*) AS n_rows, count(v) AS n_nonnull,
      |  count(DISTINCT v) AS n_distinct, min(v) AS vmin, max(v) AS vmax
      |FROM s GROUP BY 1""".stripMargin

  /** d9: dedup CLUSTERS — the transitive closure of the d2 near-dup
    * pairs via distributed connected components (iterative min-label
    * propagation, operators.Components). Pair-based dropping (x10)
    * under-merges chains: a~b and b~c never compare a to c, yet all
    * three are one duplicate family — production curation clusters
    * first, then keeps ONE survivor per cluster (the min doc_id).
    * The oracle restates the fixpoint as a recursive CTE (min
    * reachable node per node), so the distributed iteration is
    * hash-checked against a declarative transitive closure. */
  def d9DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(Tables.spread(Tables.documents(spark, dir)),
      threshold = 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.operators.Components.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("cluster"),
        (col("node") === col("cluster")).as("survivor"))
  }

  val d9Sql: String = {
    val d2Ctes = d2Sql.substring(0, d2Sql.lastIndexOf("SELECT da AS doc_a"))
      .trim.replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$d2Ctes,
       |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM ver WHERE jac >= 0.8),
       |sym AS MATERIALIZED (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
       |reach(node, lab) AS (
       |  SELECT DISTINCT a AS node, a AS lab FROM sym
       |  UNION
       |  SELECT s.a AS node, r.lab FROM sym s JOIN reach r ON r.node = s.b
       |)
       |SELECT node AS doc_id, min(lab) AS cluster,
       |  node = min(lab) AS survivor
       |FROM reach GROUP BY node""".stripMargin
  }

  /** d16: d9's dedup clusters via the ALTERNATING STAR algorithm
    * (Components.connectedComponentsTwoPhase) — the O(log² n)-round
    * escalation the min-label contract names for deep-chain corpora,
    * now an executable query instead of a scaladoc sentence. Same
    * near-dup pair graph, same output contract (doc_id, cluster =
    * component min, survivor), and the SAME recursive-CTE oracle as
    * d9 — so the driver hash gate certifies that both distributed
    * formulations compute the identical closure, and a corpus that
    * trips min-label's round budget has a drop-in replacement whose
    * round count is diameter-independent. Round9Spec adds the
    * complementary property on a 200-node path graph: two-phase
    * closes it inside a 30-round budget, where min-label would need
    * 199 rounds, past its default budget of 50. */
  def d16DedupClustersTwoPhase(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(Tables.spread(Tables.documents(spark, dir)),
      threshold = 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.operators.Components.connectedComponentsTwoPhase(pairs)
      .select(col("node").as("doc_id"), col("cluster"),
        (col("node") === col("cluster")).as("survivor"))
  }

  val d16Sql: String = d9Sql

  /** d18: INCREMENTAL connected-components maintenance — the daily
    * dedup-ingest shape d9 cannot serve: a standing corpus already
    * carries its component labeling, today's batch (docs with
    * `doc_id % 10 == 7` stand in) brings NEW near-dup edges, and the
    * update touches only the DELTA — new edges CONTRACT through the
    * standing labels to a supernode graph (each old component is one
    * node, because anything connecting to any member connects to the
    * whole component), a small CC runs on that contracted graph, and
    * every node relabels through the chain node → old label → merged
    * label. The standing closure is never recomputed: the work is
    * O(|delta| + |affected components|), not O(|corpus|).
    *
    * The oracle is the FULL recompute (d9's recursive closure over
    * ALL pairs), so the hash gate certifies incremental ≡ rebuild —
    * the same trust property s17 establishes for index appends.
    * Contract (documented): edges arrive incrementally; pair
    * GENERATION drift (LSH caps shifting when the corpus grows) is
    * the separate re-banding concern d13's persisted index carries. */
  def d18IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(Tables.spread(Tables.documents(spark, dir)),
      threshold = 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .snapshot()
    val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 7
    val oldPairs = pairs.filter(!isNew(col("a")) && !isNew(col("b")))
    val newPairs = pairs.filter(isNew(col("a")) || isNew(col("b")))
    // already a projection of the final label snapshot — no re-pin
    val labels0 = graft.operators.Components.connectedComponents(oldPairs)
    graft.operators.Components.incrementalComponents(labels0, newPairs)
      .select(col("node").as("doc_id"), col("cluster"),
        (col("node") === col("cluster")).as("survivor"))
  }

  /** Incremental maintenance must be invisible: full-rebuild oracle. */
  val d18Sql: String = d9Sql

  /** x64: the DEDUP LEDGER — one per-document keep/drop VERDICT with
    * its reason, composing the three dedup criteria a curation run
    * actually applies, in precedence order: byte-identity ('exact',
    * d1's md5 groups, min-id survivor), transitive near-duplication
    * ('near', d9's component closure, non-survivors), and excerpt
    * containment ('contained', d17's ≥ 0.8 pairs — the SMALLER side
    * drops, doc-id breaking exact-size ties). This is the artifact a
    * user ships to the trainer: every doc appears exactly once,
    * survivors read 'keep', and each drop names which criterion
    * fired — the audit trail pair-level outputs (d1/d9/d17) cannot
    * give without this join. Precedence matters and is hash-gated:
    * an exact duplicate that is ALSO a near-dup non-survivor must
    * read 'exact'.
    *
    * 100 TB shape: three independently scale-safe pipelines (one
    * hash groupBy; the capped-band closure; capped posting lists)
    * merged by doc-keyed left joins against strictly smaller
    * verdict sets. The containment PAIR frame is pinned once —
    * both direction filters of the drop-side union read it, and
    * without the snapshot the whole d17 posting-join subtree runs
    * twice inside one plan. */
  def x64DedupLedger(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .snapshot()
    val exactDrop = docs
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("keep_id",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash"))))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(1).as("is_exact"))
    val nearDrop = d9DedupClusters(spark, dir)
      .filter(!col("survivor"))
      .select(col("doc_id"), lit(1).as("is_near"))
    val ct = Dedup.containmentPairs(docs).snapshot()
    val containedDrop = ct
      .filter(col("cont_a_ppm") >= 800000 &&
        (col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("doc_a") > col("doc_b"))))
      .select(col("doc_a").as("doc_id"))
      .unionByName(ct
        .filter(col("cont_b_ppm") >= 800000 &&
          (col("n_b") < col("n_a") ||
            (col("n_a") === col("n_b") && col("doc_b") > col("doc_a"))))
        .select(col("doc_b").as("doc_id")))
      .distinct()
      .select(col("doc_id"), lit(1).as("is_contained"))
    docs.select(col("doc_id"))
      .join(exactDrop, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(containedDrop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact")
          .when(col("is_near") === 1, "near")
          .when(col("is_contained") === 1, "contained")
          .otherwise("keep").as("verdict"))
  }

  // lazy: composes d17Sql, which initializes later in this object
  lazy val x64Sql: String =
    s"""WITH ex AS (SELECT doc_id, 1 AS is_exact FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text))
       |      AS keep_id FROM documents)
       |  WHERE doc_id <> keep_id),
       |nr AS (SELECT doc_id, 1 AS is_near FROM (
       |$d9Sql
       |) WHERE NOT survivor),
       |ctp AS (SELECT * FROM (
       |$d17Sql
       |)),
       |cd AS (SELECT DISTINCT doc_id, 1 AS is_contained FROM (
       |  SELECT doc_a AS doc_id FROM ctp
       |  WHERE cont_a_ppm >= 800000
       |    AND (n_a < n_b OR (n_a = n_b AND doc_a > doc_b))
       |  UNION ALL
       |  SELECT doc_b FROM ctp
       |  WHERE cont_b_ppm >= 800000
       |    AND (n_b < n_a OR (n_a = n_b AND doc_b > doc_a))))
       |SELECT d.doc_id,
       |  CASE WHEN ex.is_exact = 1 THEN 'exact'
       |    WHEN nr.is_near = 1 THEN 'near'
       |    WHEN cd.is_contained = 1 THEN 'contained'
       |    ELSE 'keep' END AS verdict
       |FROM documents d
       |LEFT JOIN ex ON ex.doc_id = d.doc_id
       |LEFT JOIN nr ON nr.doc_id = d.doc_id
       |LEFT JOIN cd ON cd.doc_id = d.doc_id""".stripMargin

  /** d17: ASYMMETRIC CONTAINMENT (Dedup.containmentPairs) — the
    * excerpt/quote detector: C(A,B) = |S_A ∩ S_B| / |S_A| over
    * distinct word-3-shingles, gated on max-direction containment
    * ≥ 0.8. Symmetric Jaccard (d2/d4) structurally misses a short
    * doc pasted into a long one (J ≈ |A|/|B| → 0); containment is
    * exactly that signal, and a curation pipeline drops or
    * down-weights the CONTAINED side. Same posting-list discipline
    * as d10: shingles with 2..64 docs expand to pairs, the rest
    * route to d8's boilerplate profile. */
  def d17Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.spread(Tables.documents(spark, dir)))

  val d17Sql: String =
    s"""WITH t AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |w AS (SELECT DISTINCT doc_id,
       |    ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
       |  FROM t, unnest(range(1, len(ts) - 1)) r(i)
       |  WHERE len(ts) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
       |gl AS (SELECT g FROM w GROUP BY g
       |  HAVING count(*) BETWEEN 2 AND 64),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS shared
       |  FROM w a JOIN gl ON a.g = gl.g
       |  JOIN w b ON b.g = a.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, shared,
       |  CAST(floor(shared * 1000000 / sa.n) AS BIGINT) AS cont_a_ppm,
       |  CAST(floor(shared * 1000000 / sb.n) AS BIGINT) AS cont_b_ppm
       |FROM p JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE shared * 5 >= least(sa.n, sb.n) * 4""".stripMargin

  /** d10: EXACT substring-match dedup (Lee et al. 2022's criterion,
    * complementing d2/d4's set-similarity ones): pairs sharing a
    * verbatim 30-char window, plus how many distinct windows they
    * share — the dedup that catches a paragraph pasted into an
    * otherwise-different document, which whole-document Jaccard
    * misses. Candidate generation is complete (every length-L common
    * substring IS a length-L common window); the >64-doc window cap
    * routes boilerplate to d8's profile instead (restated in the
    * oracle's HAVING). One groupBy shuffle, pairs explode from
    * posting lists — no self-join. */
  def d10SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringDupPairs(Tables.spread(Tables.documents(spark, dir)),
      windowLen = 30, maxDocs = 64)

  val d10Sql: String =
    """WITH w AS (SELECT DISTINCT doc_id, substr(text, i, 30) AS g
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1, length(text) - 29)) AS i) t
      |  WHERE length(text) >= 30),
      |gl AS (SELECT g FROM w
      |  GROUP BY g HAVING count(*) BETWEEN 2 AND 64),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM w a JOIN gl ON a.g = gl.g
      |  JOIN w b ON b.g = a.g AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, count(*) AS n_shared
      |FROM p GROUP BY 1, 2""".stripMargin

  /** d11: EDIT-DISTANCE fuzzy dedup — Levenshtein ≤ 4 over the
    * normalized 24-char document prefix, the record-linkage
    * primitive set-similarity dedup (d2/d4) can't express: character
    * TRANSPOSITIONS and typos move every shingle, but barely move
    * edit distance. All-pairs Levenshtein is quadratic and
    * unshardable, so candidates come from PREFIX BLOCKING (exact
    * first-8-char agreement — the standard record-linkage blocking
    * key), with d2's population discipline: blocks over 64 docs are
    * boilerplate routed to d8's profile, not pair-expanded
    * (restated in the oracle's HAVING). The documented recall seam
    * is edits inside the first 8 chars — the price of never
    * comparing across blocks, same contract as d4's length buckets.
    *
    * 100 TB shape: one equi-join on the block key with a hard
    * population cap, so pair fan-out is ≤ 64²/2 per block; the
    * Levenshtein verify runs post-join on 24-char keys (bounded
    * cost per pair, inside codegen — both engines implement the
    * classic Wagner-Fischer unit-cost recurrence). */
  def d11EditDistanceDedup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        lower(substring(col("text"), 1, 24)).as("key"))
      .withColumn("blk", substring(col("key"), 1, 8))
    val blocks = keyed.groupBy(col("blk"))
      .agg(count(lit(1)).as("n_in_block"))
      .filter(col("n_in_block").between(2, 64))
      .select(col("blk"))
    val member = keyed.join(blocks, Seq("blk"))
    member.as("a").join(member.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.key"), col("b.key")).as("dist"))
      .filter(col("dist") <= 4)
  }

  val d11Sql: String =
    """WITH k AS (SELECT doc_id, substr(lower(text), 1, 24) AS key,
      |    substr(lower(text), 1, 8) AS blk FROM documents),
      |c AS (SELECT blk FROM k GROUP BY blk HAVING count(*) BETWEEN 2 AND 64),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(levenshtein(a.key, b.key) AS INT) AS dist
      |  FROM k a JOIN c USING (blk)
      |  JOIN k b ON b.blk = a.blk AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, dist FROM p WHERE dist <= 4""".stripMargin

  /** x20: curation capstone v2 — the round-6 operators composed into
    * one declarative pipeline: cluster-aware dedup (keep only d9's
    * per-cluster survivors, the transitive-closure discipline x10's
    * pair-greedy drop lacks) + the x14 repetition gate applied IN
    * PLACE on the anti-joined scan (the gate is a pure per-row
    * function, so it must not cost a documents self-join), reported
    * as a per-lang mixture summary. Catalyst plans the anti-join +
    * gate + aggregate together; the d9 cluster set itself is
    * pre-materialized by the connectedComponents fixpoint (driver-
    * side iteration at construction time — see PLANS.md's caveat). */
  def x20CurationV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val nonSurvivors = d9DedupClusters(spark, dir)
      .filter(!col("survivor")).select(col("doc_id"))
    // The dup-word gate is a HEAVY row-local expression; left lazy,
    // predicate pushdown hoists it below spread()'s fan-out exchange
    // into the single-split scan (measured: one task burning 4.9
    // CPU-seconds with the stats struct re-evaluated per field).
    // Materialize the derived column once, fanned out, and gate on
    // the column — same rows, the anti-join and the per-doc gate
    // commute.
    val scored = docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        dupWordFracFrom(repetitionStatsCol).as("dup_word_frac"))
      .snapshot().ensureParallelism()
    scored.join(nonSurvivors, Seq("doc_id"), "left_anti")
      .filter(col("dup_word_frac") <= 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  // lazy: x14Sql is declared later in this object — an eager val
  // would interpolate null at object-init time
  lazy val x20Sql: String =
    s"""SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
       |FROM documents d
       |JOIN (SELECT doc_id, dup_word_frac FROM (
       |$x14Sql
       |)) r ON d.doc_id = r.doc_id
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM (
       |$d9Sql
       |) WHERE NOT survivor)
       |  AND r.dup_word_frac <= 0.5
       |GROUP BY 1""".stripMargin

  /** x19: corpus MIXING — the data-mixture rebalancing step: cap
    * every source at a target character budget T by computing
    * rate_s = min(1, T / total_chars_s) and keeping docs whose
    * content hash falls under the integer threshold
    * floor(rate·1e6 + 0.5) — deterministic, engine-exact, and stable
    * as the corpus grows (x12's per-lang sampling with DATA-DRIVEN
    * rates instead of fixed ones). Two-phase plan: the per-source
    * totals aggregate is tiny (one row per source) and broadcasts
    * back onto the scan, so the mixture decision is row-local — at
    * 100 TB this is one small agg + one narrow filtered scan, the
    * standard rate-computation shape. */
  def x19Mixing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val totals = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("total_chars"))
      .withColumn("threshold",
        floor(least(lit(1.0), lit(5000.0) / col("total_chars"))
          * 1000000 + 0.5).cast("long"))
    docs.join(broadcast(totals), Seq("source"))
      .filter(TextFunctions.polyHash(col("text")) % 1000000
        < col("threshold"))
      .groupBy(col("source"), col("total_chars"), col("threshold"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
  }

  val x19Sql: String =
    s"""WITH t AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |  FROM documents GROUP BY 1),
       |r AS (SELECT source, total_chars,
       |    CAST(floor(least(CAST(1 AS DOUBLE),
       |      CAST(5000 AS DOUBLE) / total_chars) * 1000000 + 0.5) AS BIGINT)
       |      AS threshold
       |  FROM t)
       |SELECT d.source, r.total_chars, r.threshold,
       |  count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${polySql("d.text")} % 1000000 < r.threshold
       |GROUP BY 1, 2, 3""".stripMargin

  /** x27: TEMPERATURE-scaled corpus mixing — the multilingual/
    * multi-source balancing act (the mT5/PaLM alpha-sampling recipe):
    * sampling share q_s ∝ p_s^alpha flattens the source distribution
    * so low-resource sources aren't drowned. alpha = 0.5, so the
    * temperature weight is sqrt(n_s) — IEEE sqrt is correctly
    * rounded, and the normalizer folds over the sources in sorted
    * order, so both engines produce bit-identical rates with NO
    * rounding slack anywhere before the output edge. Same two-phase
    * shape as x19: one tiny per-source agg, the finished rate row
    * broadcasts back onto a narrow filtered scan (membership =
    * content poly-hash under the integer threshold — deterministic
    * and stable as the corpus grows), one final per-source agg. */
  def x27TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir), budget = 300L)

  /** DataFrame-taking core of x27 (docsIn: source, text) — the unit
    * spec asserts the flattening property on THIS, so a rate-formula
    * regression can't hide behind a test-local copy. */
  def temperatureMix(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // normalizer: Σ_s sqrt(n_s), folded in sorted-source order
    val z = counts
      .select(struct(col("source"), col("n_docs")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(aggregate(col("cs"), lit(0.0),
        (acc, c) => acc + sqrt(c.getField("n_docs").cast("double"))).as("z"))
    val rates = counts.crossJoin(broadcast(z))
      .withColumn("rate", least(lit(1.0),
        sqrt(col("n_docs").cast("double")) / col("z") * budget
          / col("n_docs").cast("double")))
      .withColumn("threshold", floor(col("rate") * 1000000 + 0.5).cast("long"))
      .select(col("source"), col("n_docs"), col("rate"), col("threshold"))
    val kept = docs.join(broadcast(rates), Seq("source"))
      .filter(TextFunctions.polyHash(col("text")) % 1000000 < col("threshold"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(col("rate"), 6).as("rate"))
  }

  val x27Sql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
       |    (x, y) -> x + y) AS z FROM c),
       |r AS (SELECT source, n_docs,
       |    least(CAST(1 AS DOUBLE),
       |      sqrt(CAST(n_docs AS DOUBLE)) / z * 300 / n_docs) AS rate,
       |    CAST(floor(least(CAST(1 AS DOUBLE),
       |      sqrt(CAST(n_docs AS DOUBLE)) / z * 300 / n_docs)
       |      * 1000000 + 0.5) AS BIGINT) AS threshold
       |  FROM c, t),
       |k AS (SELECT d.source, count(*) AS n_kept
       |  FROM documents d JOIN r ON d.source = r.source
       |  WHERE ${polySql("d.text")} % 1000000 < r.threshold
       |  GROUP BY 1)
       |SELECT r.source, r.n_docs, coalesce(k.n_kept, 0) AS n_kept,
       |  round(r.rate, 6) AS rate
       |FROM r LEFT JOIN k ON r.source = k.source""".stripMargin

  /** x18: string-column profile of the documents table — the
    * companion to x9's numeric profile (together the two cover a
    * table's full schema in two scans): per-column cardinality,
    * empties, character-length bounds and UTF-8 byte volume, one
    * unpivot + hash agg. */
  def x18StringProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.stringProfile(Tables.documents(spark, dir),
      Seq("text", "lang", "source"))

  val x18Sql: String =
    """WITH s AS (
      |  SELECT 'text' AS col_name, text AS v FROM documents
      |  UNION ALL SELECT 'lang', lang FROM documents
      |  UNION ALL SELECT 'source', source FROM documents
      |)
      |SELECT col_name, count(*) AS n_rows, count(v) AS n_nonnull,
      |  count(DISTINCT v) AS n_distinct,
      |  count(*) FILTER (v = '') AS n_empty,
      |  CAST(min(length(v)) AS INT) AS len_min,
      |  CAST(max(length(v)) AS INT) AS len_max,
      |  CAST(sum(octet_length(encode(v))) AS BIGINT) AS total_bytes
      |FROM s GROUP BY 1""".stripMargin

  /** x10: the capstone composition — corpus curation. The training
    * set a reference user actually materializes: drop the younger
    * side of every near-duplicate pair (d2's MinHash-LSH verified
    * pairs), then gate on the x1 quality score. Demonstrates that
    * the dedup + quality operators compose into one declarative
    * plan Catalyst optimizes end to end. */
  def x10Curation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val dropIds = Dedup.nearDupPairs(docs, threshold = 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    // barrier after the scored projection: the quality gate would
    // otherwise push below every join and exchange into the
    // single-split scan (measured: one task, 1.7 CPU-s)
    val stats = x1TextStats(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .snapshot().ensureParallelism()
    docs.select(col("doc_id"), col("lang"))
      .join(dropIds, Seq("doc_id"), "left_anti")
      .join(stats, Seq("doc_id"))
      .filter(col("quality") >= 0.55)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
  }

  val x10Sql: String = {
    // reuse d2's CTE chain up to `ver`, then gate on quality
    val d2Ctes = d2Sql.substring(0, d2Sql.lastIndexOf("SELECT da AS doc_a"))
    s"""${d2Ctes.trim},
       |drop_ids AS (SELECT DISTINCT db AS doc_id FROM ver
       |  WHERE jac >= 0.8),
       |metrics AS (
       |${x1Sql.linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT d.doc_id, d.lang, q.n_tokens, q.quality
       |FROM documents d
       |JOIN metrics q ON d.doc_id = q.doc_id
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)
       |  AND q.quality >= 0.55""".stripMargin
  }

  /** x11: deterministic train/val/test split — the assignment every
    * training-data pipeline makes before materializing a corpus.
    * Hash-based (poly_hash of the doc id string, mod 10 → 80/10/10),
    * so the split is stable across runs, machines and engines — no
    * RNG, no sampling state, and a doc keeps its split when the
    * corpus grows. Row-local projection + one small agg: at 100 TB
    * the split is free (no shuffle of the docs themselves; the only
    * exchange carries lang×split summary rows). */
  def x11Split(spark: SparkSession, dir: String): DataFrame = {
    val h = TextFunctions.polyHash(col("doc_id").cast("string")) % 10
    val split = when(h < 8, "train").when(h === 8, "val").otherwise("test")
    Tables.documents(spark, dir)
      .select(col("lang"), split.as("split"), col("n_chars"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  val x11Sql: String =
    s"""WITH s AS (SELECT lang, n_chars,
       |    ${polySql("CAST(doc_id AS VARCHAR)")} % 10 AS h
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
       |    ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM s GROUP BY 1, 2""".stripMargin

  /** Doc-level CLUSTER-AWARE split assignment: the split hash runs
    * over the d9 cluster id (the doc's own id for singletons), so an
    * entire near-dup family always lands in ONE split — x11's
    * per-doc hash can put a doc in train and its 0.9-Jaccard twin in
    * test, and the eval set then scores memorization, not
    * generalization (the leakage mode x13 can't catch: the eval twin
    * is not an EXACT fingerprint match). Split out so the
    * no-pair-spans-splits property is spec-testable doc-level. */
  def clusterSplitAssign(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val ck = docs.join(clusters.select(col("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .withColumn("ck", coalesce(col("cluster"), col("doc_id")))
    val h = TextFunctions.polyHash(col("ck").cast("string")) % 10
    ck.withColumn("split",
      when(h < 8, "train").when(h === 8, "val").otherwise("test"))
  }

  /** x33: LEAKAGE-SAFE train/val/test split — x11's deterministic
    * hash split with the hash keyed by near-dup CLUSTER instead of
    * doc, composed from d9's connected components. Reported like x11
    * (per lang × split totals) plus n_clustered, the count of docs
    * whose split was decided by a family rather than themselves.
    *
    * 100 TB shape: one left join of the corpus against the (small)
    * clustered-doc relation on doc_id — broadcastable while the
    * near-dup population fits, hash join beyond — then row-local
    * hash arithmetic and the same tiny partial agg as x11. The d9
    * fixpoint cost is the price of the guarantee and is charged to
    * this query's construction (the x20/x24 precedent). */
  def x33ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val clusters = d9DedupClusters(spark, dir)
    clusterSplitAssign(docs, clusters)
      .select(col("lang"), col("split"), col("n_chars"),
        col("cluster").isNotNull.as("clustered"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("clustered"), 1)).as("n_clustered"))
  }

  lazy val x33Sql: String =
    s"""WITH cl AS (SELECT doc_id, cluster FROM (
       |$d9Sql
       |)),
       |a AS (SELECT d.lang, d.n_chars, cl.cluster IS NOT NULL AS clustered,
       |    ${polySql("CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)")} % 10
       |      AS h
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
       |SELECT lang,
       |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
       |    ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  count(*) FILTER (clustered) AS n_clustered
       |FROM a GROUP BY 1, 2""".stripMargin

  /** x12: stratified deterministic sampling — per-language rates
    * (content-hash mod 100 under a per-lang percentage), the
    * up/down-sampling step of corpus mixing. Pure narrow filter: the
    * sample decision is row-local arithmetic on the content hash, so
    * the plan is a filtered scan — no sort, no shuffle, and the
    * sample is reproducible bit-for-bit (same doc set in or out)
    * regardless of partitioning or cluster size. */
  def x12Sample(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 20)
      .when(col("lang") === "zh", 10).otherwise(5)
    Tables.documents(spark, dir)
      .filter(TextFunctions.polyHash(col("text")) % 100 < rate)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x12Sql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${polySql("text")} % 100 <
       |  CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 10
       |    ELSE 5 END""".stripMargin

  /** x13: train/eval DECONTAMINATION — the step after splitting
    * (x11): an eval doc whose 8-token-prefix fingerprint (x4's
    * rolling hash) also appears in the train split is contaminated
    * and must be reported/dropped before the eval set means
    * anything. Composition of split assignment + fingerprinting +
    * a fingerprint-keyed LEFT SEMI join — at 100 TB that is one
    * row-local projection and one equi semi join on a 64-bit key
    * (broadcastable whenever the train fingerprint set is small
    * enough; hash join otherwise). */
  /** Shared x13/x15 derivation: the x11 split assignment plus the
    * x4-style 8-token-prefix fingerprint per doc. ONE definition on
    * purpose — x15's oracle contract is "output ≡ x13", which only
    * holds while both queries derive splits and fingerprints
    * identically. */
  private def splitFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val h = TextFunctions.polyHash(col("doc_id").cast("string")) % 10
    val split = when(h < 8, "train").when(h === 8, "val").otherwise("test")
    val fp = TextFunctions.polyHash(
      concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 8)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split.as("split"),
        fp.as("fingerprint"))
  }

  def x13Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val base = splitFingerprints(spark, dir)
    val trainFps = base.filter(col("split") === "train")
      .select(col("fingerprint"))
    base.filter(col("split") =!= "train")
      .join(trainFps, Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), col("lang"), col("split"), col("fingerprint"))
  }

  val x13Sql: String = {
    val splitSql =
      s"""CASE WHEN ${polySql("CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
         |    WHEN ${polySql("CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
         |    ELSE 'test' END""".stripMargin
    s"""WITH tk AS (SELECT doc_id, lang, $tsSql AS ts FROM documents),
       |b AS (SELECT doc_id, lang, $splitSql AS split,
       |    ${polySql("array_to_string(ts[1:8], ' ')")} AS fingerprint
       |  FROM tk)
       |SELECT doc_id, lang, split, fingerprint FROM b
       |WHERE split <> 'train'
       |  AND fingerprint IN (SELECT fingerprint FROM b WHERE split = 'train')""".stripMargin
  }

  /** x6: HyperLogLog cardinality (approx_count_distinct) — sketch
    * register values differ across engines, so the raw estimate can
    * never hash cross-engine; instead the query SELF-CERTIFIES: it
    * emits the exact per-group distinct next to a boolean proving the
    * HLL estimate landed within 3× its stated relative standard
    * deviation (rsd = 0.05 → ±150000 ppm), checked in exact integer
    * arithmetic inside the same plan. The oracle restates the exact
    * side and asserts the certificate is TRUE — so the hash gate now
    * DOES exercise the sketch (a broken HLL flips hll_ok and fails),
    * which a rows-only check never did. At 100 TB the exact column is
    * the expensive side (x5's shuffle); production keeps only the
    * sketch and this query is the periodic audit that earns that
    * trust. */
  def x6ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx") - col("exact_users")) * 1000000L <=
          col("exact_users") * 150000L).as("hll_ok"))

  val x6Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  count(*) AS n_events, TRUE AS hll_ok
      |FROM events GROUP BY 1""".stripMargin

  /** x43: MERGEABLE approximate quantiles — the last member of the
    * sketch family (HLL x6, bloom x15, Misra–Gries x36): per
    * language, approx p50/p90/p99 of document length via Spark's
    * GK-based percentile_approx (accuracy=100 → rank error ε =
    * 1/100). The sketch's VALUES depend on merge order, so like x6
    * the query SELF-CERTIFIES instead of emitting them raw: each
    * returned value's exact rank interval [count(<v)+1, count(≤v)]
    * is computed in-plan (one broadcast join of the 3-values-per-
    * lang frame back to the corpus + one aggregate — no sort) and
    * checked against the GK guarantee ⌈(q−ε)n⌉ ≤ r ≤ ⌈(q+ε)n⌉ (±1
    * rank slack for the sketch's boundary rounding) in exact ppm
    * integer arithmetic. The oracle asserts all three certificates
    * TRUE — the GK bound is a deterministic worst-case guarantee
    * (unlike HLL's probabilistic one), so this holds under ANY merge
    * order, the property that makes the sketch safe at 100 TB where
    * exact quantiles need the x32 value-atomic pass and the sketch
    * needs one scan and O(1/ε) state per partition. */
  def x43ApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), col("n_chars"))
    val epsPpm = 10000L // accuracy=100 → ε = 1/100
    val approx = docs.groupBy(col("lang"))
      .agg(percentile_approx(col("n_chars"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(100)).as("qs"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        col("qs").getItem(0).as("a50"), col("qs").getItem(1).as("a90"),
        col("qs").getItem(2).as("a99"))
    def okCol(v: Column, qPpm: Long): Column = {
      val le = sum(when(col("n_chars") <= v, 1L).otherwise(0L))
      val lt = sum(when(col("n_chars") < v, 1L).otherwise(0L))
      // rank interval of v intersects [⌈(q−ε)n⌉, ⌈(q+ε)n⌉] ± 1 rank
      ((le + 1) * 1000000L >= col("n_docs") * (qPpm - epsPpm)) &&
        (lt * 1000000L < col("n_docs") * (qPpm + epsPpm) + 1000000L)
    }
    docs.join(broadcast(approx), Seq("lang"))
      .groupBy(col("lang"), col("n_docs"))
      .agg(okCol(col("a50"), 500000L).as("ok_p50"),
        okCol(col("a90"), 900000L).as("ok_p90"),
        okCol(col("a99"), 990000L).as("ok_p99"))
      .select(col("lang"), col("n_docs"), lit(epsPpm).as("eps_ppm"),
        col("ok_p50"), col("ok_p90"), col("ok_p99"))
  }

  val x43Sql: String =
    """SELECT lang, count(*) AS n_docs, CAST(10000 AS BIGINT) AS eps_ppm,
      |  TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
      |FROM documents GROUP BY 1""".stripMargin

  /** d7: SEMANTIC near-dedup (the SemDeDup recipe): block candidate
    * pairs by IVF cell — the same trained-or-seeded coarse quantizer
    * the ANN index uses (s3's deterministic vec_id<8 centroids, so
    * the full pipeline restates in SQL) — then verify with exact
    * cosine inside each cell. The cluster assignment is
    * Similarity.assignCells' shuffle-free broadcast fold; the only
    * exchange is the cell equi-join, and candidate population per
    * cell is corpus_size/n_cells — at 100 TB the operator scales by
    * raising n_cells (cells ≈ √N keeps per-cell pair counts flat),
    * never by widening the join. Complements d5 (sign-LSH blocking):
    * LSH buckets are geometry-oblivious hyperplane cuts, cells adapt
    * to the corpus distribution. */
  def d7SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cells = Similarity.assignCells(emb, emb.filter(col("vec_id") < 8))
    val a = cells.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = cells.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", TextFunctions.cosineSim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.40)
      .select(col("cell"), col("vec_a"), col("vec_b"),
        round(col("cos"), 6).as("cosine"))
  }

  val d7Sql: String =
    s"""WITH cent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       |cc AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT v.vec_id, v.embedding, c.vec_id AS cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosSql("v.embedding", "c.embedding")} DESC, c.vec_id) AS crn
       |  FROM embeddings v CROSS JOIN cent c) WHERE crn = 1)
       |SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40""".stripMargin

  /** x14: repetition-quality profile (the Gopher-style repetition
    * rules): duplicate-word fraction, most-frequent-word fraction and
    * duplicate-bigram fraction per document — the filters that catch
    * boilerplate/spam a stopword-ratio score (x1) misses. Entirely
    * row-local: the top-word count is the codegen'd TopTokenCount
    * expression (one hash-map pass per doc), so the corpus profile
    * is a narrow projection — the oracle's unnest+GROUP BY
    * restatement shuffles one row per TOKEN and is exactly the plan
    * this engine avoids at 100 TB. */
  def x14Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionProfile(Tables.spread(Tables.documents(spark, dir)))

  /** DataFrame-taking core of x14 (docsIn: doc_id, text) — the unit
    * specs assert on THIS, so a metric regression can't hide behind
    * a test-local copy. */
  /** The x14 stats struct as a row-local column over `text` — shared
    * by repetitionProfile and any query (x20) that wants the metrics
    * IN PLACE on an existing scan instead of via a doc_id self-join
    * (a self-join would rescan and reshuffle the corpus to recompute
    * a pure per-row function). */
  private def repetitionStatsCol: Column = {
    import TextFunctions.bind
    bind(TextFunctions.tokens(col("text")), ts => {
      val nTok = size(ts)
      val bigrams = when(nTok >= 2,
        array_distinct(transform(sequence(lit(1), nTok - 1),
          i => concat_ws(" ", element_at(ts, i), element_at(ts, i + 1)))))
        .otherwise(array().cast("array<string>"))
      struct(nTok.as("n_tok"),
        size(array_distinct(ts)).as("n_distinct"),
        TextFunctions.topTokenCount(ts).as("top_n"),
        size(bigrams).as("n_dbig"))
    })
  }

  /** dup_word_frac derivation from the stats struct (zero-token
    * guard + round-at-edge), shared by profile and gate. */
  private def dupWordFracFrom(s: Column): Column =
    when(s.getField("n_tok") === 0, 0.0).otherwise(
      round((s.getField("n_tok") - s.getField("n_distinct")).cast("double") /
        s.getField("n_tok"), 6))

  def repetitionProfile(docsIn: DataFrame): DataFrame = {
    docsIn
      .select(col("doc_id"), repetitionStatsCol.as("s"))
      .select(col("doc_id"),
        col("s.n_tok").as("n_tok"),
        col("s.n_distinct").as("n_distinct"),
        col("s.top_n").as("top_n"),
        dupWordFracFrom(col("s")).as("dup_word_frac"),
        when(col("s.n_tok") === 0, 0.0).otherwise(
          round(col("s.top_n").cast("double") / col("s.n_tok"), 6))
          .as("top_word_frac"),
        when(col("s.n_tok") < 2, 0.0).otherwise(
          round((col("s.n_tok") - 1 - col("s.n_dbig")).cast("double") /
            (col("s.n_tok") - 1), 6)).as("dup_bigram_frac"))
  }

  val x14Sql: String =
    s"""WITH tk AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |b AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tok,
       |    CAST(len(list_distinct(ts)) AS INT) AS n_distinct,
       |    CAST(CASE WHEN len(ts) >= 2 THEN len(list_distinct(
       |        list_transform(range(1, len(ts)),
       |          i -> ts[i] || ' ' || ts[i+1])))
       |      ELSE 0 END AS INT) AS n_dbig
       |  FROM tk),
       |fr AS (SELECT doc_id, max(c) AS top_c FROM (
       |    SELECT doc_id, w, count(*) AS c FROM (
       |      SELECT doc_id, unnest(ts) AS w FROM tk) GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT b.doc_id, b.n_tok, b.n_distinct,
       |  CAST(coalesce(f.top_c, 0) AS INT) AS top_n,
       |  CASE WHEN b.n_tok = 0 THEN 0.0 ELSE
       |    round(CAST(b.n_tok - b.n_distinct AS DOUBLE) / b.n_tok, 6)
       |    END AS dup_word_frac,
       |  CASE WHEN b.n_tok = 0 THEN 0.0 ELSE
       |    round(CAST(coalesce(f.top_c, 0) AS DOUBLE) / b.n_tok, 6)
       |    END AS top_word_frac,
       |  CASE WHEN b.n_tok < 2 THEN 0.0 ELSE
       |    round(CAST(b.n_tok - 1 - b.n_dbig AS DOUBLE) / (b.n_tok - 1), 6)
       |    END AS dup_bigram_frac
       |FROM b LEFT JOIN fr f ON b.doc_id = f.doc_id""".stripMargin

  /** x15: decontamination with a BLOOM prefilter — x13's exact
    * fingerprint semi-join, fronted by the sketch pattern Spark's own
    * runtime bloom join uses: build one bloom_filter_agg sketch over
    * the train-side fingerprints (a 1-row aggregate, collected once —
    * megabytes at 100 TB), probe it with the codegen'd might_contain
    * predicate on the scan side, and let the exact semi join verify
    * the survivors (bloom false positives are removed, so the answer
    * is bit-identical to x13 and shares its oracle). The win at
    * scale: the probe side drops to the bloom's pass rate BEFORE the
    * join exchange — most eval docs never shuffle. */
  def x15BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val base = splitFingerprints(spark, dir)
    val trainFps = base.filter(col("split") === "train")
      .select(col("fingerprint"))
    val bloom = trainFps
      .agg(expr("bloom_filter_agg(xxhash64(fingerprint), " +
        "CAST(100000 AS BIGINT), CAST(800000 AS BIGINT))").as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe = base.filter(col("split") =!= "train")
    // empty train side → null sketch → nothing is contaminated
    val prefiltered =
      if (bloom == null) probe.filter(lit(false))
      else probe.filter(call_function("might_contain",
        lit(bloom), xxhash64(col("fingerprint"))))
    prefiltered
      .join(trainFps, Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), col("lang"), col("split"), col("fingerprint"))
  }

  /** x15 output ≡ x13 output (the bloom is a pure prefilter). */
  val x15Sql: String = x13Sql

  /** m3: REAL audio decode under the hash gate (the WAV analog of
    * m2's PNG path): a deterministic PCM16 waveform per doc is
    * encoded to a genuine RIFF/WAVE payload, AutoCodec must
    * magic-dispatch it, and the output reports stats computed from
    * the DECODED samples (count, sum, min/max, rolling fingerprint).
    * PCM is lossless, so the oracle restates the expected values
    * with pure arithmetic — any header-walk or sample-extraction
    * defect (endianness, offset, truncation) breaks the hash.
    * Partition-scoped narrow map: waveforms never shuffle. */
  def m3WavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 97).toInt
          val samples = SyntheticMedia.pcmRamp(id, n)
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && h.nSampleFrames == n,
            s"wav sample count mismatch for doc $id")
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var fp = 0L
          back.foreach { s =>
            sum += s; mn = math.min(mn, s); mx = math.max(mx, s)
            fp = (fp * 31 + (s + 32768)) % 1000000007L
          }
          (id, n, h.sampleRate, sum, mn, mx, fp)
        }
      }.toDF("doc_id", "n_samples", "sample_rate", "sum_pcm",
        "min_pcm", "max_pcm", "pcm_fp")
  }

  val m3Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n_samples,
      |    list_transform(range(64 + doc_id % 97),
      |      i -> (doc_id * 31 + i * 97) % 65536 - 32768) AS pcm
      |  FROM documents)
      |SELECT doc_id, n_samples, 8000 AS sample_rate,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), pcm),
      |    (a, b) -> a + b) AS BIGINT) AS sum_pcm,
      |  CAST(list_min(pcm) AS INT) AS min_pcm,
      |  CAST(list_max(pcm) AS INT) AS max_pcm,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(pcm, s -> s + 32768)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pcm_fp
      |FROM s""".stripMargin

  /** m5: audio FEATURE EXTRACTION — the feature stage downstream of
    * m3's decode: each decoded waveform splits into fixed 32-sample
    * windows and every window reports energy (exact sum of squares —
    * the RMS numerator, kept integral so the hash gate is
    * drift-free), zero-crossing count (the classic voicing/noisiness
    * feature), and peak amplitude. The 1→N window explode happens
    * INSIDE the partition-scoped decode map — samples never leave
    * the partition, only (doc, window, features) rows do, which is
    * the exact contract a 100 TB audio pipeline needs (features are
    * ~1% of waveform bytes). PCM is lossless so the oracle restates
    * every window arithmetically. */
  def m5AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val win = 32
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val n = (64 + id % 97).toInt
          val samples = SyntheticMedia.pcmRamp(id, n)
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (_, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && back.length == n,
            s"wav sample count mismatch for doc $id")
          (0 until (n + win - 1) / win).map { wi =>
            val lo = wi * win; val hi = math.min((wi + 1) * win, n)
            var energy = 0L; var zc = 0; var peak = 0
            var i = lo
            while (i < hi) {
              val s = back(i).toInt
              energy += s.toLong * s
              peak = math.max(peak, math.abs(s))
              if (i > lo && ((back(i - 1) < 0) != (s < 0))) zc += 1
              i += 1
            }
            (id, wi, hi - lo, energy, zc, peak)
          }
        }
      }.toDF("doc_id", "window_idx", "n_in_window", "energy",
        "n_zero_cross", "peak")
  }

  val m5Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n,
      |    list_transform(range(64 + doc_id % 97),
      |      i -> (doc_id * 31 + i * 97) % 65536 - 32768) AS pcm
      |  FROM documents),
      |w AS (SELECT doc_id, pcm, CAST(wi AS INT) AS window_idx,
      |    CAST(wi * 32 + 1 AS INT) AS lo,
      |    CAST(least((wi + 1) * 32, n) AS INT) AS hi
      |  FROM s, unnest(range((n + 31) // 32)) r(wi))
      |SELECT doc_id, window_idx,
      |  CAST(hi - lo + 1 AS INT) AS n_in_window,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), pcm[lo:hi]),
      |    (a, b) -> a + b * b) AS BIGINT) AS energy,
      |  CAST(len(list_filter(range(lo + 1, hi + 1),
      |    i -> (pcm[i - 1] < 0) <> (pcm[i] < 0))) AS INT) AS n_zero_cross,
      |  CAST(list_max(list_transform(pcm[lo:hi], v -> abs(v))) AS INT) AS peak
      |FROM w""".stripMargin

  /** m10: audio SILENCE SEGMENTATION — the voice-activity-detection
    * shape downstream of m5's windowed features: windows whose
    * energy falls under a threshold are silent, and consecutive
    * silent windows group into SEGMENTS (start, end, width, energy),
    * the unit an audio curation pipeline actually drops or splits
    * on. The run-grouping walk happens INSIDE the partition-scoped
    * decode, right where the samples already are — a row-local
    * gaps-and-islands, emitting one tiny row per segment; the
    * relational formulation (r35's island key over a shuffle) is
    * only needed when runs span rows, which audio windows never do.
    * The fixture interleaves quiet stretches (every 4-window period
    * has 2 attenuated windows) so segments of width ≥ 2 exist; PCM
    * is lossless and the threshold integral, so the oracle restates
    * every segment exactly.
    *
    * 100 TB shape: identical to m5 — waveform bytes never leave the
    * decode partition; only (doc, segment) rows reach the sink. */
  def m10SilenceSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val win = 32
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val n = (64 + id % 97).toInt
          val samples = Array.tabulate(n) { i =>
            val base = ((id * 31 + i.toLong * 97) % 65536) - 32768
            val quiet = (i / win + id) % 4 < 2
            (if (quiet) base % 17 else base).toShort
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (_, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && back.length == n,
            s"wav sample count mismatch for doc $id")
          val nw = (n + win - 1) / win
          val energy = Array.tabulate(nw) { wi =>
            var e = 0L
            var i = wi * win
            val hi = math.min((wi + 1) * win, n)
            while (i < hi) { e += back(i).toLong * back(i); i += 1 }
            e
          }
          val segs = Seq.newBuilder[(Long, Int, Int, Int, Int, Long)]
          var wi = 0; var seg = 0
          while (wi < nw) {
            if (energy(wi) < 32768L) {
              val start = wi; var e = 0L
              while (wi < nw && energy(wi) < 32768L) {
                e += energy(wi); wi += 1
              }
              seg += 1
              segs += ((id, seg, start, wi - 1, wi - start, e))
            } else wi += 1
          }
          segs.result()
        }
      }.toDF("doc_id", "seg_idx", "w_start", "w_end", "n_windows",
        "energy_sum")
  }

  val m10Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n,
      |    list_transform(range(64 + doc_id % 97), i ->
      |      CASE WHEN (i // 32 + doc_id) % 4 < 2
      |        THEN ((doc_id * 31 + i * 97) % 65536 - 32768) % 17
      |        ELSE (doc_id * 31 + i * 97) % 65536 - 32768 END) AS pcm
      |  FROM documents),
      |w AS (SELECT doc_id, CAST(wi AS INT) AS window_idx,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      pcm[wi * 32 + 1 : least((wi + 1) * 32, n)]),
      |      (a, b) -> a + b * b) AS BIGINT) AS energy
      |  FROM s, unnest(range((n + 31) // 32)) r(wi)),
      |q AS (SELECT doc_id, window_idx, energy FROM w
      |  WHERE energy < 32768),
      |i AS (SELECT doc_id, window_idx, energy, window_idx - row_number()
      |    OVER (PARTITION BY doc_id ORDER BY window_idx) AS isl FROM q),
      |g AS (SELECT doc_id, isl, CAST(min(window_idx) AS INT) AS w_start,
      |    CAST(max(window_idx) AS INT) AS w_end,
      |    CAST(count(*) AS INT) AS n_windows,
      |    CAST(sum(energy) AS BIGINT) AS energy_sum
      |  FROM i GROUP BY 1, 2)
      |SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY w_start) AS INT) AS seg_idx,
      |  w_start, w_end, n_windows, energy_sum
      |FROM g""".stripMargin

  /** m6: image FEATURE EXTRACTION over real compressed decode — the
    * stage after m2's decode in a multimodal pipeline (the
    * "feature-extract" half of the decode/feature-extract contract):
    * per image, integer channel sums and the peak BT.601 luminance
    * (299R+587G+114B) computed from the DECODED pixels of a genuine
    * PNG. Integer arithmetic end-to-end, so the oracle restates the
    * features exactly (PNG is lossless) — a decoder defect shifts
    * the sums and breaks the hash. Same narrow partition-scoped
    * shape as m2/m5: pixels are decoded and reduced to features
    * inside one partition pass, and only the tiny feature rows ever
    * reach an exchange — at 100 TB the image bytes themselves never
    * shuffle. */
  def m6ImageStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (_, _, png) = SyntheticMedia.pngImage(id)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == meta.width && dh == meta.height,
            s"codec metadata/pixel disagreement for doc $id")
          var sr = 0L; var sg = 0L; var sb = 0L; var maxLum = 0L
          var p = 0
          while (p < dw * dh) {
            val r = back(p * 3) & 0xff
            val g = back(p * 3 + 1) & 0xff
            val b = back(p * 3 + 2) & 0xff
            sr += r; sg += g; sb += b
            val lum = 299L * r + 587L * g + 114L * b
            if (lum > maxLum) maxLum = lum
            p += 1
          }
          (id, dw, dh, sr, sg, sb, maxLum)
        }
      }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
        "max_lum")
  }

  val m6Sql: String =
    """WITH g AS (SELECT doc_id,
      |    8 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h,
      |    list_transform(range(w * h), p -> [
      |      (doc_id*7 + (3*p)*13) % 256,
      |      (doc_id*7 + (3*p + 1)*13) % 256,
      |      (doc_id*7 + (3*p + 2)*13) % 256]) AS pxs
      |  FROM g)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(list_sum(list_transform(pxs, q -> q[1])) AS BIGINT) AS sum_r,
      |  CAST(list_sum(list_transform(pxs, q -> q[2])) AS BIGINT) AS sum_g,
      |  CAST(list_sum(list_transform(pxs, q -> q[3])) AS BIGINT) AS sum_b,
      |  CAST(list_max(list_transform(pxs,
      |    q -> 299*q[1] + 587*q[2] + 114*q[3])) AS BIGINT) AS max_lum
      |FROM px""".stripMargin

  /** s23: scalar-quantization (SQ8) search — train per-dim [min,max],
    * encode to int8 codes, serve top-10 by cosine of the raw query
    * against the reconstruction (`Similarity.knnSq8`). */
  def s23KnnSq8(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnSq8(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 10)

  /** s24: SQ8 recall@10 vs exact brute force — s12's recall
    * instrument pointed at the scalar quantizer, completing the
    * compression scorecard (IVF: s12; SQ8: here; PQ and binary carry
    * equality/refine properties in their specs): the number an index
    * operator reads before trading 4× memory for recall. Exact
    * integer hit counts; one rounded division at the edge. */
  def s24Sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val bf = Similarity.knnBruteForce(emb, q, k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val sq = Similarity.knnSq8(emb, q, k = 10)
      .select(col("query_id").as("sq_query"),
        col("neighbor_id").as("sq_neighbor"))
    bf.join(sq, col("query_id") === col("sq_query") &&
        col("neighbor_id") === col("sq_neighbor"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("sq_neighbor")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / 10.0, 6).as("recall"))
  }

  // lazy: refers to s23Sql, which is declared below
  lazy val s24Sql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 5) WHERE rnk <= 10),
       |sq AS (SELECT query_id, neighbor_id FROM (
       |${s23Sql}
       |))
       |SELECT bf.query_id, count(sq.neighbor_id) AS n_hits,
       |  round(count(sq.neighbor_id) / 10.0, 6) AS recall
       |FROM bf LEFT JOIN sq ON sq.query_id = bf.query_id
       |  AND sq.neighbor_id = bf.neighbor_id
       |GROUP BY 1""".stripMargin

  /** s25: RANDOM-PROJECTION search (Similarity.knnRandomProjection)
    * — the JL-lemma member of the compression scorecard: 64 dims →
    * 16 via a deterministic ±1 LCG-parity sign matrix, exact L2
    * top-10 in the projected space. Projection and distance folds
    * run in fixed ascending order, so the oracle restates every
    * double bit-identically. */
  def s25KnnRandomProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnRandomProjection(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 10)

  val s25Sql: String = {
    val proj =
      """list_transform(range(16), j ->
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(64), d ->
        |          CAST(embedding[d+1] AS DOUBLE) *
        |          (1 - 2 * ((((j*64 + d) * 1103515245 + 12345)
        |            // 65536) % 2)))),
        |        (a, b) -> a + b))""".stripMargin
    s"""WITH pr AS (SELECT vec_id, $proj AS p FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, p AS qp FROM pr
       |  WHERE vec_id < 5),
       |sc AS (SELECT query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(16), i ->
       |        (qp[i+1] - c.p[i+1]) * (qp[i+1] - c.p[i+1]))),
       |      (a, b) -> a + b) AS dist
       |  FROM pr c JOIN qv ON query_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY dist ASC, neighbor_id)
       |    AS INT) AS rnk, dist FROM sc)
       |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist_rp
       |FROM r WHERE rnk <= 10""".stripMargin
  }

  /** s26: MMR diversified retrieval (Similarity.mmrDiversify) — the
    * serve-time diversity re-rank: greedy 0.7·rel − 0.3·max-sim-to-
    * selected over the brute-force top-20 shortlist, 5 picks per
    * query. Oracle unrolls the same 5 argmax steps. */
  def s26MmrDiversify(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrDiversify(Tables.embeddings(spark, dir),
      queryVecs(spark, dir))

  lazy val s26Sql: String = {
    val steps = (2 to 5).map { st =>
      s"""c$st AS (SELECT r.query_id, r.vec_id, r.rel, max(p.sim) AS msim
         |  FROM sl r
         |  JOIN pr p ON p.query_id = r.query_id AND p.ida = r.vec_id
         |  JOIN sel${st - 1} s ON s.query_id = p.query_id
         |    AND s.vec_id = p.idb
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${st - 1} x
         |    WHERE x.query_id = r.query_id AND x.vec_id = r.vec_id)
         |  GROUP BY 1, 2, 3),
         |s$st AS (SELECT query_id, vec_id, $st AS step,
         |    0.7 * rel - 0.3 * msim AS mmr
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY 0.7 * rel - 0.3 * msim DESC, vec_id) AS rk
         |    FROM c$st) WHERE rk = 1),
         |sel$st AS (SELECT query_id, vec_id, step, mmr FROM sel${st - 1}
         |  UNION ALL SELECT query_id, vec_id, step, mmr FROM s$st)""".stripMargin
    }.mkString(",\n")
    s"""WITH sc AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS rel
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5),
       |sl AS (SELECT query_id, vec_id, rel FROM (SELECT *,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, vec_id) AS rnk FROM sc) WHERE rnk <= 20),
       |pr AS (SELECT a.query_id, a.vec_id AS ida, b.vec_id AS idb,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS sim
       |  FROM sl a JOIN sl b ON a.query_id = b.query_id
       |    AND a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |sel1 AS (SELECT query_id, vec_id, 1 AS step, rel AS mmr
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, vec_id) AS rk FROM sl) WHERE rk = 1),
       |$steps
       |SELECT query_id, vec_id, CAST(step AS INT) AS step,
       |  round(mmr, 6) AS mmr
       |FROM sel5""".stripMargin
  }

  val s23Sql: String = {
    val recon =
      """dmin[i+1] + (CASE WHEN dmax[i+1] > dmin[i+1] THEN
        |        floor((CAST(embedding[i+1] AS DOUBLE) - dmin[i+1])
        |          / (dmax[i+1] - dmin[i+1]) * 255.0 + 0.5)
        |      ELSE 0.0 END) * (dmax[i+1] - dmin[i+1]) / 255.0""".stripMargin
    s"""WITH st AS (SELECT k AS dim,
       |    min(CAST(embedding[k+1] AS DOUBLE)) AS lo,
       |    max(CAST(embedding[k+1] AS DOUBLE)) AS hi
       |  FROM embeddings, LATERAL (SELECT unnest(range(64)) AS k) t
       |  GROUP BY 1),
       |sa AS (SELECT list(lo ORDER BY dim) AS dmin,
       |    list(hi ORDER BY dim) AS dmax FROM st),
       |rc AS (SELECT vec_id,
       |    list_transform(range(64), i -> $recon) AS xhat
       |  FROM embeddings CROSS JOIN sa),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.xhat")} AS cos
       |  FROM rc c JOIN embeddings q ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5),
       |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT)
       |    AS rnk, cos FROM p)
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine_sq8
       |FROM r WHERE rnk <= 10""".stripMargin
  }

  /** d19: PREFIX-FILTERED set-similarity self-join (the AllPairs/
    * PPJoin candidate generation — Dedup.prefixFilterPairs) at token
    * Jaccard ≥ 0.7. d2 buys scale with banded MinHash (probabilistic
    * recall, capped buckets), d4 with blocking + explicit caps; this
    * is the third classic: EXACT at the threshold with nothing
    * dropped, because candidates only need to collide on a rarest-
    * prefix token. The oracle is the deliberate all-pairs
    * restatement — the quadratic plan the prefix filter replaces —
    * so the hash gate certifies the filter loses no pair.
    * The threshold gate is pure integer on both engines
    * (inter·10 ≥ union·7); docs with no tokens carry no set and
    * pair with nothing. */
  def d19PrefixFilter(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterPairs(Tables.spread(Tables.documents(spark, dir)))

  val d19Sql: String =
    s"""WITH t AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |hs AS MATERIALIZED (SELECT doc_id,
       |    list_sort(list_distinct(list_transform(ts,
       |      tkn -> ${polySql("tkn")}))) AS hs
       |  FROM t WHERE len(ts) > 0),
       |pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |    len(list_intersect(a.hs, b.hs)) AS i,
       |    len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS u
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT da AS doc_a, db AS doc_b,
       |  round(CAST(i AS DOUBLE) / u, 6) AS jaccard
       |FROM pr WHERE i * 10 >= u * 7""".stripMargin

  /** d20: CROSS-METHOD dedup agreement audit — d2's MinHash-LSH
    * pairs vs d6's SimHash pairs on one corpus, refereed by exact
    * shingle-set Jaccard (d2's own verify criterion, recomputed for
    * every pair only ONE method found). s12 answers "how much recall
    * does the ANN index give up"; this answers the same question
    * for the dedup family, from the engine's own outputs: LSH
    * recall = lsh / (lsh + sim-only-true), SimHash precision vs the
    * Jaccard criterion = (both + sim-only-true) / sim. One summary
    * row, every figure an exact count or floor-ppm.
    *
    * 100 TB shape: both pair generators are the already-audited
    * capped/banded plans; the FULL OUTER join is keyed by the pair;
    * the referee joins features only against the (small)
    * disagreement set; the closing aggregate is one row. */
  def d20PairAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.spread(Tables.documents(spark, dir))
    val feats = Dedup.shingleFeatures(docs)
      .select(col("doc_id"), col("hashes"))
    val lsh = Dedup.nearDupPairs(docs, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_lsh"))
    val sim = Dedup.simhashPairs(docs)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_sim"))
    // materialize the pair-agreement frame ONCE: both consumers
    // (the referee leg and the count leg) sit in one plan, and
    // without this pin each re-executes the full LSH + SimHash
    // pipelines it joins (ReuseExchange does not cover the whole
    // duplicated join subtree)
    val j = lsh.join(sim, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("in_lsh"), lit(0L)).as("in_lsh"),
        coalesce(col("in_sim"), lit(0L)).as("in_sim"))
      .snapshot()
    val simOnlyTrue = j.filter(col("in_lsh") === 0)
      .join(feats.select(col("doc_id").as("doc_a"),
        col("hashes").as("ha")), Seq("doc_a"))
      .join(feats.select(col("doc_id").as("doc_b"),
        col("hashes").as("hb")), Seq("doc_b"))
      .agg(coalesce(sum(
        (TextFunctions.jaccard(col("ha"), col("hb")) >= 0.8)
          .cast("long")), lit(0L)).as("n_sim_only_true"))
    val counts = j.agg(
      sum(col("in_lsh") * col("in_sim")).as("n_both"),
      sum(col("in_lsh") * (lit(1L) - col("in_sim"))).as("n_lsh_only"),
      sum((lit(1L) - col("in_lsh")) * col("in_sim")).as("n_sim_only"),
      sum(col("in_lsh")).as("n_lsh"),
      sum(col("in_sim")).as("n_sim"))
    counts.crossJoin(broadcast(simOnlyTrue))
      .select(col("n_lsh"), col("n_sim"), col("n_both"),
        col("n_lsh_only"), col("n_sim_only"), col("n_sim_only_true"),
        when(col("n_lsh") + col("n_sim_only_true") === 0, lit(0L))
          .otherwise(floor(col("n_lsh") * lit(1000000L) /
            (col("n_lsh") + col("n_sim_only_true"))).cast("long"))
          .as("lsh_recall_ppm"),
        when(col("n_sim") === 0, lit(0L))
          .otherwise(floor((col("n_both") + col("n_sim_only_true")) *
            lit(1000000L) / col("n_sim")).cast("long"))
          .as("sim_precision_ppm"))
  }

  lazy val d20Sql: String =
    s"""WITH lshp AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |${d2Sql}
       |)),
       |simp AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |${d6Sql}
       |)),
       |j AS MATERIALIZED (SELECT
       |    coalesce(l.doc_a, s.doc_a) AS doc_a,
       |    coalesce(l.doc_b, s.doc_b) AS doc_b,
       |    CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS in_lsh,
       |    CASE WHEN s.doc_a IS NULL THEN 0 ELSE 1 END AS in_sim
       |  FROM lshp l FULL OUTER JOIN simp s
       |    ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b),
       |tk2 AS (SELECT doc_id, $tsSql AS ts FROM documents),
       |sg2 AS (SELECT doc_id, $shSql AS ss FROM tk2),
       |hsx AS MATERIALIZED (SELECT doc_id,
       |    list_distinct(list_transform(ss, s -> ${polySql("s")})) AS hs
       |  FROM sg2),
       |so AS (SELECT CASE WHEN
       |      CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |        (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
       |      >= 0.8 THEN 1 ELSE 0 END AS is_true
       |  FROM j JOIN hsx a ON a.doc_id = j.doc_a
       |    JOIN hsx b ON b.doc_id = j.doc_b
       |  WHERE j.in_lsh = 0),
       |c AS (SELECT
       |    CAST(sum(in_lsh * in_sim) AS BIGINT) AS n_both,
       |    CAST(sum(in_lsh * (1 - in_sim)) AS BIGINT) AS n_lsh_only,
       |    CAST(sum((1 - in_lsh) * in_sim) AS BIGINT) AS n_sim_only,
       |    CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
       |    CAST(sum(in_sim) AS BIGINT) AS n_sim
       |  FROM j),
       |st AS (SELECT CAST(coalesce(sum(is_true), 0) AS BIGINT)
       |    AS n_sim_only_true FROM so)
       |SELECT n_lsh, n_sim, n_both, n_lsh_only, n_sim_only,
       |  n_sim_only_true,
       |  CASE WHEN n_lsh + n_sim_only_true = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor(n_lsh * 1000000 /
       |      (n_lsh + n_sim_only_true)) AS BIGINT) END AS lsh_recall_ppm,
       |  CASE WHEN n_sim = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor((n_both + n_sim_only_true) * 1000000 /
       |      n_sim) AS BIGINT) END AS sim_precision_ppm
       |FROM c CROSS JOIN st""".stripMargin

  /** m26: dominant-color PALETTE extraction — the feature-extract
    * stage a vision curation pipeline runs after decode (near-dup
    * blocking by palette, censoring flat images, art-vs-photo
    * heuristics): per image the top-4 most frequent 12-bit RGB
    * buckets ((r≫4, g≫4, b≫4) packed), with exact pixel counts,
    * ties to the smaller bucket. Engine side decodes a GENUINE PNG
    * round-trip (the m2/m6 contract: a decoder defect shifts the
    * counts and breaks the hash); the oracle restates the synthetic
    * pixels arithmetically — PNG is lossless, so the histograms
    * agree exactly.
    *
    * 100 TB shape: pixels never leave the partition — the histogram
    * and its top-4 reduce per image inside one mapPartitions pass,
    * and only ≤4 tiny rows per image reach the exchange. */
  def m26Palette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val (_, _, png) = SyntheticMedia.pngImage(id)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == meta.width && dh == meta.height,
            s"codec metadata/pixel disagreement for doc $id")
          val counts = scala.collection.mutable.HashMap.empty[Long, Long]
          var p = 0
          while (p < dw * dh) {
            val r = back(p * 3) & 0xff
            val g = back(p * 3 + 1) & 0xff
            val b = back(p * 3 + 2) & 0xff
            val bucket = (r / 16).toLong * 256 + (g / 16) * 16 + (b / 16)
            counts(bucket) = counts.getOrElse(bucket, 0L) + 1L
            p += 1
          }
          counts.toSeq.sortBy(kv => (-kv._2, kv._1)).take(4)
            .zipWithIndex.map { case ((bucket, n), i) =>
              (id, i + 1, bucket, n)
            }
        }
      }.toDF("doc_id", "palette_rank", "bucket", "n_px")
  }

  val m26Sql: String =
    """WITH g AS (SELECT doc_id,
      |    8 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h,
      |    list_transform(range(w * h), p -> [
      |      (doc_id*7 + (3*p)*13) % 256,
      |      (doc_id*7 + (3*p + 1)*13) % 256,
      |      (doc_id*7 + (3*p + 2)*13) % 256]) AS pxs
      |  FROM g),
      |b AS (SELECT doc_id, unnest(list_transform(pxs,
      |    q -> (q[1] // 16) * 256 + (q[2] // 16) * 16 + (q[3] // 16)))
      |    AS bucket
      |  FROM px),
      |c AS (SELECT doc_id, bucket, count(*) AS n_px
      |  FROM b GROUP BY 1, 2),
      |r AS (SELECT doc_id, bucket, n_px,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY n_px DESC, bucket) AS palette_rank
      |  FROM c)
      |SELECT doc_id, CAST(palette_rank AS INT) AS palette_rank,
      |  CAST(bucket AS BIGINT) AS bucket, n_px
      |FROM r WHERE palette_rank <= 4""".stripMargin
}
