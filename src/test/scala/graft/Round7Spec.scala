package graft

import org.apache.spark.sql.functions._

/** Round-7 additions: animated-GIF codec (m4), packed-window map
  * (x21).
  */
class Round7Spec extends SparkTestBase {

  private def gifPalette: (Array[Byte], Array[Byte], Array[Byte]) = (
    Array.tabulate(256)(v => v.toByte),
    Array.tabulate(256)(v => ((v * 37) % 256).toByte),
    Array.tabulate(256)(v => ((v * 91) % 256).toByte))

  test("GIF: multi-frame roundtrip is bit-exact through the palette") {
    import graft.operators.{Codecs, Multimodal}
    val (w, h, nf) = (9, 6, 4)
    val (pr, pg, pb) = gifPalette
    val frames = (0 until nf).map { f =>
      Array.tabulate(w * h)(i => ((7 + f * 31 + i * 13) % 256).toByte)
    }
    val gif = Codecs.ImageIoCodecs.GifCodec.encodeIndexedFrames(
      w, h, pr, pg, pb, frames)
    // magic dispatch must route GIF bytes to the GIF codec
    val dec = Codecs.AutoCodec.decode(
      Multimodal.MediaRecord(1L, "video", gif))
    assert((dec.width, dec.height, dec.channels, dec.n_frames) ===
      ((w, h, 3, nf)))
    // every frame decodes to exactly palette(index) per pixel —
    // LZW + explicit palette is lossless
    for (f <- 0 until nf) {
      val (fw, fh, rgb) = Codecs.ImageIoCodecs.GifCodec
        .extractFrameRgb(gif, f)
      assert((fw, fh) === ((w, h)))
      for (i <- 0 until w * h) {
        val idx = (7 + f * 31 + i * 13) % 256
        assert(rgb(i * 3) === pr(idx), s"frame $f pixel $i R")
        assert(rgb(i * 3 + 1) === pg(idx), s"frame $f pixel $i G")
        assert(rgb(i * 3 + 2) === pb(idx), s"frame $f pixel $i B")
      }
    }
    assert(Codecs.ImageIoCodecs.GifCodec.frameCount(gif) === nf)
  }

  test("x21 packMap: hand-checked offsets, boundary spans, empty docs") {
    import testImplicits._
    import graft.queries.CorpusQueries
    // one shard (shards=1), one lang: offsets are a plain running sum
    // in doc_id order. capacity=5: doc 2 (4 tokens at offset 3)
    // crosses the first cut; doc 3 is EMPTY at offset 7 inside
    // chunk 1; doc 4 is empty exactly at cum=10 (a chunk boundary —
    // the corner where an unguarded chunk_last would go below
    // chunk_first).
    val docs = Seq(
      (1L, "en", "a b c"),
      (2L, "en", "d e f g"),
      (3L, "en", ""),
      (4L, "en", "h i j"),
      (5L, "en", "")).toDF("doc_id", "lang", "text")
    val rows = CorpusQueries.packMap(docs, capacity = 5, shards = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("token_offset"), r.getAs[Long]("chunk_first"),
          r.getAs[Long]("chunk_last")))).toMap
    assert(rows(1L) === ((0L, 0L, 0L)))
    assert(rows(2L) === ((3L, 0L, 1L))) // boundary-split across the cut
    assert(rows(3L) === ((7L, 1L, 1L))) // empty doc, mid-chunk
    assert(rows(4L) === ((7L, 1L, 1L)))
    assert(rows(5L) === ((10L, 2L, 2L))) // empty doc AT the boundary
  }

  test("x21 packMap reconciles with x16 packStats on the real corpus") {
    import graft.queries.CorpusQueries
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val fromMap = CorpusQueries.packMap(docs, capacity = 256, shards = 8)
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        count(when(col("chunk_last") > col("chunk_first"), 1))
          .as("n_boundary_docs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val fromStats = CorpusQueries.packStats(docs, capacity = 256, shards = 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("n_boundary_docs")))).toMap
    assert(fromMap === fromStats)
    assert(fromMap.nonEmpty)
  }

  test("x22 n-gram decontamination: hand-checked overlap on a planted corpus") {
    import testImplicits._
    import graft.queries.CorpusQueries
    import graft.functions.TextFunctions
    // pick real ids by their split hash so the fixture exercises the
    // shipped split convention instead of stubbing it
    val hashes = (1L to 60L).map { id =>
      id -> spark.range(1).select(
        (TextFunctions.polyHash(lit(id.toString)) % 10).as("h"))
        .head().getLong(0)
    }.toMap
    val trainId = hashes.collectFirst { case (id, h) if h < 8 => id }.get
    val train2Id = hashes.collectFirst {
      case (id, h) if h < 8 && id != trainId => id }.get
    val evalId = hashes.collectFirst { case (id, h) if h >= 8 => id }.get
    val eval2Id = hashes.collectFirst {
      case (id, h) if h >= 8 && id != evalId => id }.get
    val shared = "one two three four five six seven eight" // one 8-gram
    val docs = Seq(
      (trainId, "en", s"$shared tail words here"),
      (train2Id, "en", s"prefix $shared"), // the same gram, 2nd train doc
      (evalId, "en", s"$shared and more"), // contaminated
      (eval2Id, "en", "totally different words with no overlap at all ok"))
      .toDF("doc_id", "lang", "text")
    val rows = CorpusQueries.ngramDecontaminate(docs, n = 8).collect()
    // only the contaminated eval doc surfaces; its one shared gram
    // appears in two train docs -> weight 2
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_id") === evalId)
    assert(r.getAs[Long]("n_shared_grams") === 1L)
    assert(r.getAs[Long]("contamination_weight") === 2L)
  }

  test("GIF fuzz: corrupted payloads fail cleanly, never AIOOBE/NPE") {
    import graft.operators.{Codecs, Multimodal}
    val (pr, pg, pb) = gifPalette
    val good = Codecs.ImageIoCodecs.GifCodec.encodeIndexedFrames(
      8, 5, pr, pg, pb,
      (0 until 3).map(f => Array.tabulate(40)(i => ((f * 31 + i * 13) % 256).toByte)))
    var seed = 987654321L
    def nextInt(bound: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val cuts = Seq(1, 5, 13, good.length / 2, good.length - 1)
    val flips = (1 to 20).map { _ =>
      val b = good.clone(); val at = nextInt(good.length)
      b(at) = (b(at) ^ (1 << nextInt(8))).toByte; b
    }
    for ((bad, i) <- (cuts.map(java.util.Arrays.copyOf(good, _)) ++ flips)
        .zipWithIndex) {
      val decoded =
        try Some(Codecs.AutoCodec.decode(
          Multimodal.MediaRecord(i.toLong, "media", bad)))
        catch {
          case _: IllegalArgumentException => None // clean contractual failure
          case scala.util.control.NonFatal(e) =>
            fail(s"gif corruption #$i leaked ${e.getClass.getName}: " +
              s"${e.getMessage}")
        }
      decoded.foreach(dec => assert(dec.byte_len === bad.length))
    }
  }

  test("incrementalDedup: corpus hits dropped, intra-batch dedup kept") {
    import testImplicits._
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta"),
      (3L, "alpha beta")).toDF("doc_id", "text")
    val batch = Seq(
      (107L, "alpha beta"),   // already in corpus -> dropped
      (117L, "epsilon zeta"), // new, duplicated within the batch
      (127L, "epsilon zeta"), //   -> one survivor (117), n_in_batch=2
      (137L, "eta theta")     // new, unique
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_in_batch"))).toSeq === Seq((117L, 2L), (137L, 1L)))
  }

  test("tokenBudgetSelect: greedy quality-ranked prefix per source") {
    import testImplicits._
    import graft.queries.CorpusQueries
    // source A: quality order (by the x1 formula all-stopword text
    // scores higher than none) is a1 > a2 > a3 by construction —
    // token counts 4 + 3 fill a budget of 8; a3 (2 more tokens)
    // would land at cum=9 and must be cut. source B fits entirely.
    val docs = Seq(
      ("A", 10L, "the a and of", 13L),   // 4 stopword tokens: quality high
      ("A", 11L, "the a and", 9L),       // 3 stopword tokens
      ("A", 12L, "zz yy", 5L),           // 2 non-stop tokens: lowest
      ("B", 20L, "the of", 6L)
    ).map { case (s, id, t, nc) => (id, s, t, nc) }
      .toDF("doc_id", "source", "text", "n_chars")
    val out = CorpusQueries.tokenBudgetSelect(docs, budget = 8L)
      .orderBy("source", "doc_id").collect()
    assert(out.map(r => (r.getAs[String]("source"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"))).toSeq ===
      Seq(("A", 10L, 4L), ("A", 11L, 7L), ("B", 20L, 2L)))
  }

  test("s11 rerank: with a shortlist covering the whole cell, " +
      "rerank == exact IVF search (PQ error washes out)") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val cents = emb.filter(col("vec_id") < 8)
    val cb = emb.filter(col("vec_id") < 16)
    val reranked = Similarity.knnIvfPqRerank(emb, qs, cents, cb,
      m = 8, shortlist = 1000000, k = 3)
      .select("query_id", "neighbor_id", "rnk", "cosine")
    val exact = Similarity.knnIvf(emb, qs, cents, k = 3)
      .select("query_id", "neighbor_id", "rnk", "cosine")
    assert(reranked.except(exact).isEmpty && exact.except(reranked).isEmpty)
  }

  test("s12 recall: monotone in nprobe; full probe budget == 1.0") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val cents = emb.filter(col("vec_id") < 8)
    def recalls(nprobe: Int): Map[Long, Double] =
      Similarity.annRecall(emb, qs, cents, k = 3, nprobe = nprobe)
        .collect().map(r => r.getAs[Long]("query_id") ->
          r.getAs[Double]("recall")).toMap
    val r1 = recalls(1); val r2 = recalls(2); val rAll = recalls(8)
    assert(r1.keySet === Set(0L, 1L, 2L, 3L, 4L))
    for (q <- r1.keys) {
      assert(r1(q) >= 0.0 && r1(q) <= 1.0)
      assert(r2(q) >= r1(q), s"query $q: nprobe=2 recall below nprobe=1")
      // probing every cell searches the whole corpus: exact by def
      assert(rAll(q) === 1.0, s"query $q: full probe budget not exact")
    }
  }

  test("r27: Catalyst decorrelates every subquery into joins") {
    import graft.queries.Relational2
    val df = Relational2.r27Subqueries(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan.toString
    // EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, each scalar ->
    // Aggregate + LeftOuter; nothing survives as a per-row subquery
    assert(plan.contains("LeftSemi"), "EXISTS not decorrelated")
    assert(plan.contains("LeftAnti"), "NOT EXISTS not decorrelated")
    assert(!plan.contains("scalar-subquery"),
      "correlated scalar subquery survived optimization")
    assert(plan.split("Join LeftOuter").length - 1 === 2,
      "expected one LEFT OUTER per scalar subquery")
  }

  test("x24: the chosen representative has max quality in its cluster") {
    import graft.queries.{CorpusQueries, LlmQueries}
    val dir = "/root/testdata/sf0.001"
    val reps = CorpusQueries.x24ClusterRep(spark, dir).collect()
    assert(reps.nonEmpty)
    val clusters = LlmQueries.d9DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = LlmQueries.textStats(
      graft.sources.Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (rep <- reps) {
      val cl = rep.getAs[Long]("cluster")
      val members = clusters.filter(_._2 == cl).keys.toSeq
      assert(rep.getAs[Long]("n_members") === members.size)
      val best = members.map(quality).max
      assert(rep.getAs[Double]("rep_quality") === best)
      // deterministic tiebreak: among max-quality members, min doc_id
      assert(rep.getAs[Long]("rep_doc") ===
        members.filter(m => quality(m) == best).min)
    }
  }

  test("d10 substringDupPairs: planted shares found, boilerplate capped") {
    import testImplicits._
    import graft.operators.Dedup
    val shared = "0123456789012345678901234567890123456789" // 40 chars
    val boiler = "B" * 30 // exactly one window, shared by everyone
    val docs = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"completely different prefix $shared"),
      (3L, "no overlap with anything here, a fully distinct body"),
      (4L, "short"), // below windowLen — never emits a window
      (5L, s"another unrelated document body $boiler"),
      (6L, s"yet another unrelated body text $boiler")
    ).toDF("doc_id", "text")
    // cap 1 excludes every shared window (all have >= 2 docs)
    assert(Dedup.substringDupPairs(docs, windowLen = 30, maxDocs = 1)
      .count() === 0)
    val rows = Dedup.substringDupPairs(docs, windowLen = 30, maxDocs = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // docs 1,2 share the 40-char planted run (period 10, so its 11
    // sliding windows collapse to 10 DISTINCT strings) plus the
    // space-prefixed boundary window both docs happen to contain
    assert(rows((1L, 2L)) === 11L)
    // docs 5,6: the all-B window + its space-prefixed boundary window
    assert(rows((5L, 6L)) === 2L)
    assert(rows.size === 2) // nothing else pairs
  }

  test("s13 binary rerank: full shortlist reproduces brute force") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    // shortlist = whole corpus → the Hamming stage filters nothing,
    // so the exact-cosine re-rank must equal brute force top-k
    val full = Similarity.knnBinaryRerank(emb, qs, shortlist = n, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val bf = Similarity.knnBruteForce(emb, qs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(full === bf)
    // the real (shortlist=10) search returns k rows per query with
    // exact cosines: each returned cosine must equal the brute-force
    // cosine for the same pair
    val bfCos = Similarity.knnBruteForce(emb, qs, k = n - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val short = Similarity.knnBinaryRerank(emb, qs, shortlist = 10, k = 3)
      .collect()
    assert(short.length === 15)
    for (r <- short)
      assert(r.getDouble(3) === bfCos((r.getLong(0), r.getLong(1))))
  }

  test("signWord: hand-checked packing, strict-positive bit rule") {
    import testImplicits._
    import graft.functions.VectorFunctions
    // dims 0..3: +,-,0,+  → MSB-first over [0,4) = 1,0,0,1 = 9
    val df = Seq((Array(0.5f, -1f, 0f, 2f))).toDF("embedding")
    val w = df.select(
      VectorFunctions.signWord(col("embedding"), 0, 4).as("w")).head()
    assert(w.getLong(0) === 9L)
  }

  test("spread: repartitions tiny relations, no-op above the threshold") {
    import graft.sources.Tables
    // tiny file-backed relation → spread must add an exchange
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val small = Tables.spread(docs)
    assert(small.rdd.getNumPartitions === graft.Engine.cpus)
    // a relation whose stats exceed cpus × 8 MB must pass through
    // untouched — spread never introduces a full-corpus shuffle
    val big = spark.range(1L << 32) // stats: 8 B × 4G rows = 32 GB
    val spreadBig = Tables.spread(big.toDF())
    assert(spreadBig.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      case r: org.apache.spark.sql.catalyst.plans.logical
        .RepartitionByExpression => r
    }.isEmpty, "spread must be a no-op on large relations")
  }

  test("char_windows kernel: distinct windows match the HOF spelling") {
    import testImplicits._
    val docs = Seq((1L, "abcabcabc"), (2L, "xy"), (3L, ""),
      (4L, "aaaaaaa"), (5L, "exact length here..............")
    ).toDF("doc_id", "text")
    val kernel = docs.select(col("doc_id"),
      call_function("char_windows", col("text"), lit(3)).as("w"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toMap
    // reference: the straightforward HOF spelling
    val ref = docs.select(col("doc_id"),
      when(length(col("text")) >= 3,
        array_distinct(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))))
        .otherwise(array().cast("array<string>")).as("w"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toMap
    assert(kernel === ref)
    assert(kernel(4L) === Set("aaa")) // run of one char: one window
    assert(kernel(2L) === Set.empty && kernel(3L) === Set.empty)
  }

  test("bigram_score kernel: matches a hand fold; empty and OOV rules") {
    import testImplicits._
    val model = Seq(("ab", 0.5), ("ba", 0.25), ("ac", 0.5))
    val docs = Seq((1L, "abab"), (2L, "a"), (3L, ""), (4L, "azab"))
      .toDF("doc_id", "text")
    val g = typedLit(model.map(_._1))
    val p = typedLit(model.map(_._2))
    val rows = docs.select(col("doc_id"),
      call_function("bigram_score", col("text"), g, p).as("sc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // "abab": ab, ba, ab → n=3, sum=1.25, min=0.25
    assert(rows(1L) === Seq(3.0, 1.25, 0.25))
    // under 2 chars: all zeros
    assert(rows(2L) === Seq(0.0, 0.0, 0.0))
    assert(rows(3L) === Seq(0.0, 0.0, 0.0))
    // "azab": az and za are OOV → contribute 0.0 to sum AND min
    assert(rows(4L) === Seq(3.0, 0.5, 0.0))
  }

  test("x26 bigramLmScore: hand-checked model and per-doc fold") {
    import testImplicits._
    import graft.queries.CorpusQueries
    // corpus bigrams: "abab" → ab,ba,ab ; "ab" → ab ; "" → none
    // counts: ab=3, ba=1; P(b|a)=3/3=1? no — c1 totals: a→ab only
    // (3), b→ba (1) ⇒ P(ab)=3/3=1.0, P(ba)=1/1=1.0
    val docs = Seq((1L, "abab"), (2L, "ab"), (3L, "")).toDF("doc_id", "text")
    val rows = CorpusQueries.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(rows(1L) === ((3L, 1.0, 1.0)))
    assert(rows(2L) === ((1L, 1.0, 1.0)))
    assert(rows(3L) === ((0L, 0.0, 0.0))) // empty doc: guarded zeros
    // a corpus with a genuinely split conditional: "ab", "ac" ⇒
    // P(ab)=P(ac)=0.5 — each doc averages 0.5
    val docs2 = Seq((1L, "ab"), (2L, "ac")).toDF("doc_id", "text")
    val r2 = CorpusQueries.bigramLmScore(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r2(1L) === 0.5 && r2(2L) === 0.5)
  }

  test("s14 MRL rerank: full shortlist reproduces brute force; " +
    "returned scores are exact full-dim cosines") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    val full = Similarity.knnTruncatedRerank(emb, qs, prefixDim = 16,
      shortlist = n, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val bf = Similarity.knnBruteForce(emb, qs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(full === bf)
    val bfCos = Similarity.knnBruteForce(emb, qs, k = n - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val short = Similarity.knnTruncatedRerank(emb, qs, prefixDim = 16,
      shortlist = 10, k = 3).collect()
    assert(short.length === 15)
    for (r <- short)
      assert(r.getDouble(3) === bfCos((r.getLong(0), r.getLong(1))))
  }

  test("x27 temperature mix: sqrt weighting flattens source rates") {
    import testImplicits._
    import graft.queries.LlmQueries
    // big: 100 docs, small: 25 → weights 10 and 5, z = 15; budget 60
    // → targets 40 and 20 → rates 0.4 (big) and 0.8 (small): the
    // low-resource source samples at DOUBLE the rate — the
    // flattening alpha=0.5 buys. Linear (x19-style) allocation would
    // give both the same rate.
    val docs = ((1 to 100).map(i => ("big", s"doc body number $i")) ++
      (1 to 25).map(i => ("small", s"small doc $i"))).toDF("source", "text")
    val rows = LlmQueries.temperatureMix(docs, budget = 60L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows("big")._1 === 100L)
    assert(rows("small")._1 === 25L)
    assert(rows("big")._3 === 0.4)
    assert(rows("small")._3 === 0.8)
    // kept counts respect the hash threshold: n_kept <= n_docs and
    // roughly rate-proportional (exactness is the oracle's job)
    assert(rows("big")._2 <= 100L && rows("small")._2 <= 25L)
    // a source big enough to cap: rate clamps at 1.0
    val capped = LlmQueries.temperatureMix(
      (1 to 10).map(i => ("only", s"d $i")).toDF("source", "text"),
      budget = 100L).collect()
    assert(capped.head.getDouble(3) === 1.0)
    assert(capped.head.getLong(2) === 10L) // threshold 1e6 keeps all
  }

  test("trained PQ codebook: self-distortion never worse than the " +
    "stand-in seed; deterministic; serves the ADC search") {
    import graft.operators.KMeans
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    // mean ADC self-distortion (encode each vector, ADC it against
    // its own codes) — exactly the k-means objective the trainer
    // descends
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val cbf = cb
        .select(struct(col("vec_id").as("j"), col("embedding").as("cw")).as("c"))
        .agg(sort_array(collect_list(col("c"))).as("cbs"))
        .select(flatten(transform(col("cbs"), c => c.getField("cw"))).as("cbf"))
      emb.crossJoin(broadcast(cbf))
        .select(call_function("pq_adc", col("embedding"),
          call_function("pq_codes", col("embedding"), col("cbf"), lit(8)),
          col("cbf")).as("d"))
        .agg(avg(col("d"))).head().getDouble(0)
    }
    val standin = emb.filter(col("vec_id") < 16)
    val trained = KMeans.trainPqCodebook(emb, m = 8, k = 16, iters = 2)
    val d0 = distortion(standin)
    val d2 = distortion(trained)
    assert(d2 <= d0,
      s"trained distortion $d2 must not exceed stand-in $d0 (monotone Lloyd)")
    assert(d2 < d0 * 0.9,
      s"training should meaningfully improve on the seed: $d2 vs $d0")
    // determinism: a second training run reproduces the codebook
    val again = KMeans.trainPqCodebook(emb, m = 8, k = 16, iters = 2)
    val a = trained.orderBy(col("vec_id")).collect().map(_.toString)
    val b = again.orderBy(col("vec_id")).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
    // and the trained codebook plugs into the same search surface
    val res = graft.queries.LlmQueries.s15PqTrained(spark, dir)
    assert(res.count() === 15) // 5 queries × top-3
  }

  test("r28 grouping sets: markers and superaggregate totals reconcile") {
    import graft.queries.Relational2
    val rows = Relational2.r28GroupingSets(spark, "/root/testdata/sf0.001")
      .collect()
    val grand = rows.filter(r =>
      r.getAs[Int]("g_rflag") == 1 && r.getAs[Int]("g_lstatus") == 1)
    assert(grand.length === 1)
    val total = grand.head.getAs[Long]("n")
    // every marker=1 column reads 'ALL'; each grouping-set level sums
    // back to the grand total
    for (r <- rows) {
      if (r.getAs[Int]("g_rflag") == 1) assert(r.getAs[String]("rflag") === "ALL")
      if (r.getAs[Int]("g_lstatus") == 1) assert(r.getAs[String]("lstatus") === "ALL")
    }
    def levelTotal(gr: Int, gl: Int) = rows.filter(r =>
      r.getAs[Int]("g_rflag") == gr && r.getAs[Int]("g_lstatus") == gl)
      .map(_.getAs[Long]("n")).sum
    assert(levelTotal(0, 0) === total)
    assert(levelTotal(0, 1) === total)
    assert(levelTotal(1, 0) === total)
  }

  test("d11 edit distance: planted typo twins found, distances exact, " +
    "mega-block capped") {
    import testImplicits._
    val planted = Seq(
      (1L, "the quick brown fox jumps over", "en", "s", 30L),
      (2L, "the quick brown fux jumps over", "en", "s", 30L), // 1 edit
      (3L, "the quick brawn fex jumps", "en", "s", 25L),      // 2 edits
      (4L, "completely different text", "en", "s", 25L)) ++
      // 66 docs sharing a block -> over the 64 cap, no pairs emitted
      (10L to 75L).map(i => (i, s"zzzzzzzz padding $i", "en", "s", 20L))
    val tmp = java.nio.file.Files.createTempDirectory("d11t").toString
    try {
      planted.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.queries.LlmQueries.d11EditDistanceDedup(spark, tmp)
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq === Seq((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 2)))
    } finally TmpPaths.deleteRecursively(new java.io.File(tmp))
  }

  test("d12 minhash accuracy: identical docs estimate 1.0 with zero " +
    "error; estimates are 12ths consistent with the exact jaccard") {
    import testImplicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base),                       // exact twins
      (3L, base + " extra trailing words here now"), // high overlap
      (4L, "totally unrelated content with nothing shared at all " +
        "among these particular tokens whatsoever"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.minhashAccuracy(docs)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    val twins = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(twins._3 === 1.0 && twins._4 === 1.0 && twins._5 === 0.0)
    got.foreach { case (_, _, jac, est, err) =>
      assert(est >= 0.0 && est <= 1.0 && jac > 0.0 && jac <= 1.0)
      // estimate is a multiple of 1/12 (rounded to 6)
      val twelfths = math.round(est * 12)
      assert(math.abs(est - twelfths / 12.0) < 1e-6)
      assert(math.abs(err - math.abs(est - jac)) < 2e-6)
    }
  }

  test("x33 cluster split: no near-dup pair ever spans splits; " +
    "x11's per-doc hash does (the leakage x33 closes)") {
    import testImplicits._
    import graft.queries.LlmQueries
    import graft.functions.TextFunctions
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val clusters = LlmQueries.d9DedupClusters(spark, dir)
    val assign = LlmQueries.clusterSplitAssign(docs, clusters)
      .select(col("doc_id"), col("split"))
    val pairs = graft.operators.Dedup.nearDupPairs(docs, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    val spanning = pairs
      .join(assign.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), Seq("doc_a"))
      .join(assign.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(spanning.count() === 0L)
    // contrast: the per-doc hash (x11's rule) DOES split at least one
    // pair on this corpus — the exact leakage x33 exists to prevent
    val perDoc = docs.select(col("doc_id"),
      (TextFunctions.polyHash(col("doc_id").cast("string")) % 10)
        .as("h"))
    val perDocSplit = perDoc.select(col("doc_id"),
      when(col("h") < 8, "train").when(col("h") === 8, "val")
        .otherwise("test").as("split"))
    val spanningPerDoc = pairs
      .join(perDocSplit.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), Seq("doc_a"))
      .join(perDocSplit.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(spanningPerDoc.count() > 0L)
  }

  test("x34 cross-source matrix: pair sources reconcile with d2 pairs " +
    "joined by hand; triangular canonicalization holds") {
    import testImplicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.LlmQueries.x34CrossSourceDup(spark, dir)
      .as[(String, String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, n, jm) =>
      assert(a <= b)           // upper-triangular
      assert(n > 0 && jm >= n * 800000L && jm <= n * 1000000L)
    } // every pair's jaccard is in [0.8, 1.0] -> micro sum bounded
    val totalPairs = got.map(_._3).sum
    val d2n = graft.operators.Dedup.nearDupPairs(
      graft.sources.Tables.documents(spark, dir), 0.8).count()
    assert(totalPairs === d2n) // matrix partitions the pair list
  }

  test("s18 index delete: tombstoned vectors never appear as " +
    "neighbors; empty tombstone set reproduces s10 exactly") {
    import testImplicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.LlmQueries.s18IndexDelete(spark, dir)
    val neigh = got.select("neighbor_id").as[Long].collect()
    assert(neigh.nonEmpty)
    assert(!neigh.exists(_ % 17 == 3))
    // sanity: with no deletions, serveWithDeletes == serve
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 8)
    val codebook = emb.filter(col("vec_id") < 16)
    val path = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_delspec"
    graft.operators.VectorIndex.build(emb, centroids, codebook, 8, path)
    val a = graft.operators.VectorIndex.serve(spark, path,
      graft.queries.LlmQueries.queryVecs(spark, dir), centroids, codebook,
      8, 3).collect().map(_.toString).sorted
    val b = graft.operators.VectorIndex.serveWithDeletes(spark, path,
      graft.queries.LlmQueries.queryVecs(spark, dir), centroids, codebook,
      8, 3, deletes = emb.filter(lit(false))).collect()
      .map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("v8 track continuity: totals reconcile with the v1 box count; " +
    "starts + continued = boxes") {
    import testImplicits._
    val dir = "/root/testdata/sf0.01"
    val got = graft.queries.VideoQueries.v8TrackContinuity(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === 5) // one row per video (event_type)
    got.foreach { case (_, n, c, s) =>
      assert(c >= 0 && s >= 0 && c + s === n)
    }
    assert(got.map(_._3).sum > 0, "some continuity must exist at sf0.01")
    val v1n = graft.queries.VideoQueries.v1Boxes(spark, dir).count()
    assert(got.map(_._2).sum === v1n)
  }

  test("x35 dataset card: hand fixture counts; identities hold on " +
    "the real corpus") {
    import testImplicits._
    val planted = Seq(
      (1L, "aaaa bbbb cccc", "en", "web", 14L),
      (2L, "aaaa bbbb cccc", "en", "web", 14L),  // exact dup of 1
      (3L, "dddd eeee", "de", "web", 9L),
      (4L, "unique text here", "en", "books", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("x35t").toString
    try {
      planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.queries.CorpusQueries.x35DatasetCard(spark, tmp)
        .select("source", "n_docs", "total_chars", "total_tokens",
          "n_distinct_texts", "n_exact_dup_docs", "n_langs")
        .as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toList
      assert(got === List(
        ("books", 1L, 16L, 3L, 1L, 0L, 1L),
        ("web", 3L, 37L, 8L, 2L, 1L, 2L)))
      // identity on the real corpus: dups = docs - distinct, per source
      val real = graft.queries.CorpusQueries
        .x35DatasetCard(spark, sf)
        .select("n_docs", "n_distinct_texts", "n_exact_dup_docs")
        .as[(Long, Long, Long)].collect()
      real.foreach { case (n, d, e) => assert(e === n - d) }
      assert(real.map(_._1).sum ===
        graft.sources.Tables.documents(spark, sf).count())
    } finally TmpPaths.deleteRecursively(new java.io.File(tmp))
  }

  test("m11 thumbnail: query output equals a direct kernel run on " +
    "palette-built tensors (codec path adds nothing)") {
    import testImplicits._
    val got = graft.queries.MediaQueries
      .m11Thumbnail(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Int, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    got.take(40).foreach { case (id, w, h, sum, mn, mx) =>
      val t = graft.operators.Preprocess.Tensor(h, w, 3,
        Array.tabulate(h * w * 3) { i =>
          val p = i / 3
          val idx = ((id * 7 + p * 13) % 256).toInt
          val v = (i % 3) match {
            case 0 => idx
            case 1 => idx * 37 % 256
            case _ => idx * 91 % 256
          }
          v.toFloat
        })
      val out = graft.operators.Preprocess.resizeBilinear(t, 4, 5).data
      var s = 0.0
      out.foreach(s += _)
      assert(math.abs(sum - s) < 1e-6, s"doc $id sum")
      assert(mn === out.min.toDouble && mx === out.max.toDouble, s"doc $id")
    }
  }

  test("d13 near-dup index: planted batch twin found via the stored " +
    "posting list; sides are disjoint on the real corpus") {
    import testImplicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (10L, base),
      (20L, "completely different corpus text with many other words " +
        "that share no shingles at all with anything else here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (97L, base + " tail"),  // near-dup of 10
      (87L, "unrelated probe document containing its own fresh " +
        "vocabulary entirely disjoint from the corpus texts"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("d13t").toString + "/idx"
    try {
      graft.operators.Dedup.nearDupIndexBuild(corpus, path)
      val got = graft.operators.Dedup
        .nearDupIndexProbe(spark, path, batch, threshold = 0.8)
        .as[(Long, Long, Double)].collect()
      assert(got.length === 1)
      assert(got.head._1 === 10L && got.head._2 === 97L)
      assert(got.head._3 >= 0.8)
      // real corpus: probe output sides respect the corpus/batch split
      val real = graft.queries.LlmQueries
        .d13NearDupIndex(spark, sf)
        .as[(Long, Long, Double)].collect()
      real.foreach { case (c, b, _) =>
        assert(c % 10 != 7 && b % 10 == 7)
      }
    } finally TmpPaths.deleteRecursively(new java.io.File(path).getParentFile)
  }

  test("m10 silence segments: runs match a direct formula fold, " +
    "multi-window segments exist") {
    import testImplicits._
    val got = graft.queries.LlmQueries
      .m10SilenceSegments(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Int, Int, Int, Long)].collect()
    assert(got.nonEmpty)
    assert(got.exists(_._5 >= 2)) // the fixture interleaves 2-window runs
    // recompute the expected segment list straight from the formula
    val byDoc = got.groupBy(_._1)
    byDoc.take(30).foreach { case (id, segs) =>
      val n = (64 + id % 97).toInt
      val nw = (n + 31) / 32
      val energy = Array.tabulate(nw) { wi =>
        var e = 0L
        var i = wi * 32
        val hi = math.min((wi + 1) * 32, n)
        while (i < hi) {
          val base = ((id * 31 + i.toLong * 97) % 65536) - 32768
          val s = if ((i / 32 + id) % 4 < 2) base % 17 else base
          e += s * s; i += 1
        }
        e
      }
      val exp = Seq.newBuilder[(Int, Int, Int, Long)]
      var wi = 0
      while (wi < nw) {
        if (energy(wi) < 32768L) {
          val st = wi; var e = 0L
          while (wi < nw && energy(wi) < 32768L) { e += energy(wi); wi += 1 }
          exp += ((st, wi - 1, wi - st, e))
        } else wi += 1
      }
      val gotSegs = segs.sortBy(_._2).map(s => (s._3, s._4, s._5, s._6)).toSeq
      assert(gotSegs === exp.result(), s"doc $id")
      // seg_idx is 1-based consecutive
      assert(segs.sortBy(_._2).map(_._2).toSeq === (1 to segs.length))
    }
  }
}
