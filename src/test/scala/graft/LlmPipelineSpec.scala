package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{PolyHash, TextFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.unsafe.types.UTF8String

class LlmPipelineSpec extends AnyFunSuite with SparkTestBase {
  import testImplicits._

  test("poly_hash matches the documented fold") {
    // "ab" -> (0*31+97)*31+98
    assert(PolyHash.hash(UTF8String.fromString("ab")) === 97L * 31 + 98)
    assert(PolyHash.hash(UTF8String.fromString("")) === 0L)
    val got = Seq("ab").toDF("s")
      .select(TextFunctions.polyHash(col("s"))).head().getLong(0)
    assert(got === 97L * 31 + 98)
  }

  test("cosine_sim: identical vectors ~1, opposite ~-1, null on mismatch") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(-1f, 0f, 0f))
    ).toDF("a", "b").select(TextFunctions.cosineSim(col("a"), col("b")).as("c"))
    val rows = df.collect().map(_.getDouble(0))
    assert(math.abs(rows(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1) + 1.0) < 1e-12)
    val mismatch = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(TextFunctions.cosineSim(col("a"), col("b"))).head()
    assert(mismatch.isNullAt(0))
  }

  test("tokens + shingles3: counts and short-doc guard") {
    val byId = Seq((1L, "  The quick  brown fox jumps  "), (2L, "a b"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n"),
        size(TextFunctions.shingles3(col("ts"))).as("nsh"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(byId(1L) === ((5, 3))) // 5 tokens -> 3 shingles
    assert(byId(2L) === ((2, 0))) // under 3 tokens -> no shingles
  }

  test("near-dup pairs: planted duplicate found, unrelated not paired") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base + " lambda" // one-token edit: high shingle overlap
    val other = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("mega-bucket guard: over-cap LSH buckets generate no pairs") {
    // 5 identical docs: every band bucket has 5 members
    val docs = (1L to 5L).map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val sigs = Dedup.shingleFeatures(docs)
    assert(Dedup.lshCandidates(sigs, maxBucket = 4).count() === 0L)
    assert(Dedup.lshCandidates(sigs, maxBucket = 5).count() === 10L)
  }

  test("exact dedup summary counts copies") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "unique"))
      .toDF("doc_id", "text")
    val row = Dedup.exactSummary(docs).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((3L, 2L, 1L)))
  }

  test("char_gram_hashes: codegen'd kernel matches the composed gram+hash path") {
    val texts = Seq("The quick brown fox", "aaaaaa", "ab", "", "  x  ",
      "MiXeD CaSe PUNCT!?.,", "tab\tand\nnewline", "日本語のテキストです",
      "ascii with 日本 mixed", "a" * 500)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextFunctions.charGramHashes(lower(col("text"))).as("gs"))
      .as[(Long, Seq[Long])].collect().toMap
    val ref = df.select(col("doc_id"), sort_array(array_distinct(
        transform(TextFunctions.charGrams3(col("text")),
          g => TextFunctions.polyHash(g)))).as("gs"))
      .as[(Long, Seq[Long])].collect().toMap
    texts.indices.foreach { i =>
      assert(got(i.toLong) === ref(i.toLong), s"text #$i: '${texts(i).take(30)}'")
    }
    // sorted distinct by construction
    got.values.foreach { gs =>
      assert(gs === gs.distinct.sorted)
    }
  }

  test("x1 text stats: zero-token doc scores 0.0, no NULL cells") {
    val docs = Seq((1L, 0, ""), (2L, 3, "   "), (3L, 11, "the fox ran"))
      .toDF("doc_id", "n_chars", "text")
    val rows = graft.queries.LlmQueries.textStats(docs).collect()
    // the guard exists to keep Verify's no-NULL gate safe on any corpus
    assert(rows.forall(r => (0 until r.length).forall(i => !r.isNullAt(i))))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Double]("stop_ratio") === 0.0)
    assert(byId(1L).getAs[Double]("quality") === 0.0)
    assert(byId(2L).getAs[Double]("quality") === 0.0) // whitespace-only
    assert(byId(3L).getAs[Double]("stop_ratio") > 0.0)
  }

  test("x7 token counts: zero-token doc gets ratio 0.0, no NULL cells") {
    val docs = Seq((1L, ""), (2L, "   \t\n"), (3L, "the fox ran!"))
      .toDF("doc_id", "text")
    val rows = graft.queries.LlmQueries.tokenCounts(docs).collect()
    // the guard keeps Verify's no-NULL gate safe on any corpus
    assert(rows.forall(r => (0 until r.length).forall(i => !r.isNullAt(i))))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Double]("subword_ratio") === 0.0)
    assert(byId(2L).getAs[Double]("subword_ratio") === 0.0)
    assert(byId(3L).getAs[Int]("n_ws_tokens") === 3)
    assert(byId(3L).getAs[Int]("n_subword_tokens") === 4) // "!" splits off
    assert(byId(3L).getAs[Double]("subword_ratio") > 1.0)
  }

  test("simhash fingerprints: identical docs collide, all 64 bits carry signal") {
    val docs = Seq((1L, "spark fast engine"), (2L, "spark fast engine"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val fp = Dedup.simhashFingerprints(docs)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    // the permuted-parity family uses the high bits too (a raw-bit
    // fold over ~2^30 poly hashes would pin bits 30..63 to zero and
    // saturate, the round-3 defect); across a few distinct docs the
    // high half must not be constant-zero
    val moreFp = Dedup.simhashFingerprints(
        (1L to 12L).map(i => (i, s"doc number $i with words ${i * 7}"))
          .toDF("doc_id", "text"))
      .select("simhash").as[Long].collect()
    assert(moreFp.exists(h => (h >>> 32) != 0L))
    // SQL-surface misuse: a NULL array element must fail loudly, not
    // fold garbage votes (getLong on a null slot is undefined)
    val err = intercept[Exception](
      spark.sql("SELECT simhash64(array(CAST(NULL AS BIGINT), 1))").collect())
    assert(err.toString.contains("NULL element") ||
      Option(err.getCause).exists(_.toString.contains("NULL element")))
  }

  test("simhash pairs: 8-band blocking has complete recall to hamming 7") {
    // arbitrary 64-bit fingerprints with planted near-misses at
    // hamming 1..8; brute force is the reference
    val rnd = new scala.util.Random(20260812)
    val base = Seq.fill(30)(rnd.nextLong())
    val planted = base.zipWithIndex.flatMap { case (h, i) =>
      val flips = i % 9 // 0..8 bit flips
      val mutated = (0 until flips).foldLeft(h)((acc, j) =>
        acc ^ (1L << ((i * 11 + j * 7) % 64)))
      Seq(h, mutated)
    }
    val fp = planted.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "simhash")
    val got = Dedup.simhashPairsFromFingerprints(fp, maxHamming = 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expect = (for {
      (a, i) <- planted.zipWithIndex; (b, j) <- planted.zipWithIndex
      if i < j && java.lang.Long.bitCount(a ^ b) <= 7
    } yield (i.toLong, j.toLong)).toSet
    assert(got === expect) // no missed pairs (pigeonhole), no extras
    assert(expect.nonEmpty)
    intercept[IllegalArgumentException](
      Dedup.simhashPairsFromFingerprints(fp, maxHamming = 8))
  }

  test("knn brute force returns k ranked neighbors per query") {
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(64)(k => ((i + k) % 7).toFloat - 3f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnBruteForce(vecs, vecs.filter(col("vec_id") < 2), 5)
    val got = out.select("query_id", "rnk").as[(Long, Int)].collect()
    assert(got.length === 10)
    assert(got.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5) })
  }

  test("two cosine_sim in one codegen scope compile (fresh local names)") {
    // regression for the fixed-variable collision: with fallback
    // disabled, a janino compile failure throws instead of silently
    // interpreting — so passing here proves the generated code for
    // two cosine_sim calls in ONE projection actually compiles
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (Array(1f, 0f, 0f), Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
        .toDF("a", "b", "c")
        .select(
          graft.functions.TextFunctions.cosineSim(col("a"), col("b")).as("ab"),
          graft.functions.TextFunctions.cosineSim(col("a"), col("c")).as("ac"))
      val row = df.collect()(0)
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(row.getDouble(1)) < 1e-12)
    } finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }

  test("ivf multi-probe: nprobe=all-cells equals brute force; nprobe=2 never worse than 1") {
    val rnd = new scala.util.Random(99)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val cents = corpus.filter(col("vec_id") % 10 === 0) // 4 centroids
    def collectKnn(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rnk").as[(Long, Long, Int)]
        .collect().toSet
    // probing every cell searches the whole corpus == brute force
    val all = collectKnn(Similarity.knnIvfProbe(corpus, queries, cents,
      k = 3, nprobe = 4))
    val bf = collectKnn(Similarity.knnBruteForce(corpus, queries, k = 3))
    assert(all === bf)
    // per query, the best cosine found with nprobe=2 >= with nprobe=1
    def bestCos(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rnk") === 1).select("query_id", "cosine")
        .as[(Long, Double)].collect().toMap
    val one = bestCos(Similarity.knnIvf(corpus, queries, cents, k = 3))
    val two = bestCos(Similarity.knnIvfProbe(corpus, queries, cents,
      k = 3, nprobe = 2))
    one.foreach { case (q, c) => assert(two(q) >= c, s"query $q regressed") }
  }

  test("multi-probe lsh: recall >= single-bucket lsh, candidates stay disjoint") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(64)(k => math.sin(i * 64 + k).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val qs = vecs.filter(col("vec_id") < 4)
    val single = Similarity.knnLsh(vecs, qs, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.knnLshMultiProbe(vecs, qs, k = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // probes never produce the same candidate twice (distinct buckets)
    assert(multi.length === multi.distinct.length)
    // with k wide open, the probed candidate set contains everything
    // the single-bucket search could see
    assert(single.subsetOf(multi.toSet))
    // top-1 with probing is at least as good as without
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rnk") === 1).select("query_id", "cosine")
        .as[(Long, Double)].collect().toMap
    val s = top1(Similarity.knnLsh(vecs, qs, k = 3))
    val m = top1(Similarity.knnLshMultiProbe(vecs, qs, k = 3))
    s.foreach { case (q, c) => assert(m(q) >= c - 1e-12) }
  }

  test("custom plan node: DetectExec matches per-frame detectOne") {
    import java.sql.Timestamp
    val frames = (1L to 20L).map(i =>
      graft.model.Frame("v", i, new Timestamp(i * 1000), 480, 640,
        Array.empty[Byte]))
    val ds = spark.createDataset(frames)
    val planned = graft.operators.Detect.detect(ds,
      () => graft.operators.StubDetector, batchSize = 7)
    assert(planned.queryExecution.executedPlan.toString()
      .contains("DetectExec(batchSize=7)"))
    // reference outside Spark: the detector applied frame by frame
    val expected = frames.map(f => graft.model.FrameDetections(f.video_id,
      f.frame_id, f.height, f.width,
      graft.operators.StubDetector.detectOne(f.frame_id)))
    assert(planned.collect().sortBy(_.frame_id).toSeq === expected)
  }

  test("lsh near-dup join never compares across buckets") {
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(k => math.sin(i * 64 + k).toFloat), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    // threshold -1 keeps every in-bucket pair: pair count must be
    // strictly below the all-pairs count if bucketing partitions at all
    val pairs = Similarity.embedNearDupPairs(vecs, threshold = -1.0).count()
    assert(pairs < 30L * 29 / 2)
  }
}
