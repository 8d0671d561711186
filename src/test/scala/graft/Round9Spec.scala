package graft

/** Round-9 corpus operators: the x45 linear quality classifier, the
  * x46 BPE merge-candidate counter, and the x47 semantic-outlier
  * report. */
class Round9Spec extends SparkTestBase {
  import testImplicits._
  import graft.queries.CorpusQueries

  private def sigMicro(z: Double): Long =
    math.floor(1e6 / (1.0 + math.exp(-z)) + 0.5).toLong

  test("x45 qualityClassifier: z-gate hand-checked, empty doc fails " +
    "closed, score sums in exact micro-units") {
    // tokens are whitespace-split with punctuation attached, so
    // stopword hits require bare words; n_chars is the raw length
    val rows = Seq(
      // all-stopword doc: z = -2 + 4*1 + 2*(4/200) = 2.04 -> pass
      (1L, "the the the the", "s1"),
      // empty doc: all ratios guard to 0, z = -2 -> fail closed
      (2L, "", "s1"),
      // no stopwords, no punct: z = -2 + 2*(2/200) = -1.98 -> fail
      (3L, "zzz qqq", "s2"),
      // eight bare stopwords: z = -2 + 4 + 2*(8/200) = 2.08 -> pass
      (4L, "the of and is it to a in", "s2"))
    val docs = rows.map { case (id, text, src) =>
      (id, text, src, text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
    val got = CorpusQueries.qualityClassifier(docs)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("s1")._2 === 2L && got("s1")._3 === 1L)
    assert(got("s1")._4 === 0.5)
    assert(got("s1")._5 === sigMicro(2.04) + sigMicro(-2.0))
    assert(got("s2")._2 === 2L && got("s2")._3 === 1L)
    assert(got("s2")._4 === 0.5)
    assert(got("s2")._5 === sigMicro(-1.98) + sigMicro(2.08))
  }

  test("x46 bpeMergeCandidates: pairs weighted by word frequency, " +
    "multiplicity within a word counted, ties break on pair string") {
    // "low" x3, "lower" x1, "aa" x2 (pair 'a a' from a 2-char word),
    // "x" contributes nothing (single char)
    val docs = Seq(
      (1L, "low low aa x"),
      (2L, "low lower aa")).toDF("doc_id", "text")
    val got = CorpusQueries.bpeMergeCandidates(docs, 10)
      .as[(String, Long, Int)].collect().toSeq
    // l o: 3+1=4; o w: 3+1=4; a a: 2; e r: 1; w e: 1
    assert(got === Seq(
      ("l o", 4L, 1), ("o w", 4L, 2), ("a a", 2L, 3),
      ("e r", 1L, 4), ("w e", 1L, 5)))
  }

  test("x47 semanticOutliers: centroid from exact micro sums, " +
    "orthogonal doc flagged, hand-checked cosines") {
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),    // cos to (2,2,0,0) = 1/sqrt2
      (2L, Array(0f, 1f, 0f, 0f)),    // 1/sqrt2
      (3L, Array(1f, 1f, 0f, 0f)),    // 1.0
      (4L, Array(1f, 0f, 0f, 0f)),    // B centroid (0, .1): cos 0 -> outlier
      (5L, Array(-1f, 0.1f, 0f, 0f))) // cos ~0.0995: kept
      .toDF("vec_id", "embedding")
    val got = CorpusQueries.semanticOutliers(emb, docs, tauMicro = 50000L)
      .as[(String, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A")._2 === 3L && got("A")._3 === 0L)
    assert(got("A")._5 === 707107L) // floor(1e6/sqrt(2) + 0.5)
    assert(got("A")._6 === 0.804738) // (707107+707107+1000000)/3/1e6
    assert(got("B")._2 === 2L && got("B")._3 === 1L)
    assert(got("B")._4 === 0.5)
    assert(got("B")._5 === 0L)
    assert(got("B")._6 === 0.049752) // (0 + 99504)/2/1e6
  }

  test("x48 entropyProfile: hand-checked entropies, empty doc is the " +
    "zero floor, uniform-alphabet doc flags high") {
    import graft.queries.CorpusQueries
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(
      (1L, "aaaa", "s1"),                  // H = 0 -> low
      (2L, "abab", "s1"),                  // H = ln 2 -> low
      (3L, "abcd", "s2"),                  // H = ln 4 -> low
      (4L, "", "s2"),                      // empty: H = 0 -> low
      (5L, "abcdefghijklmnopqrst", "s2"))  // H = ln 20 > 2.9 -> high
      .toDF("doc_id", "text", "source")
    val got = CorpusQueries.entropyProfile(docs)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val ln2m = math.floor(math.log(2) * 1e6 + 0.5).toLong   // 693147
    val ln4m = math.floor(math.log(4) * 1e6 + 0.5).toLong   // 1386294
    val ln20m = math.floor(math.log(20) * 1e6 + 0.5).toLong // 2995732
    assert(got("s1") === (("s1", 2L, 2L, 0L, 0L,
      round6((0.0 + ln2m) / 2 / 1e6))))
    assert(got("s2") === (("s2", 3L, 2L, 1L, 0L,
      round6((ln4m + 0.0 + ln20m) / 3 / 1e6))))
  }

  test("x49 capstone agrees with its x45/x47/x48 constituents per source") {
    import graft.queries.CorpusQueries
    val v4 = CorpusQueries.x49CurationV4(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val x45 = CorpusQueries.x45QualityClassifier(spark, sf)
      .select("source", "n_pass").as[(String, Long)].collect().toMap
    val x48 = CorpusQueries.x48Entropy(spark, sf)
      .select("source", "n_docs", "n_low", "n_high")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2 - r._3 - r._4)).toMap
    val x47 = CorpusQueries.x47SemanticOutliers(spark, sf)
      .select("source", "n_docs", "n_outliers")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2 - r._3)).toMap
    assert(v4.nonEmpty)
    v4.foreach { case (s, row) =>
      assert(row._3 === x45(s), s"quality gate, source $s")
      assert(row._4 === x48(s), s"entropy gate, source $s")
      assert(row._5 === x47(s), s"semantic gate, source $s")
      assert(row._6 <= Seq(row._3, row._4, row._5).min,
        s"clean count bound, source $s")
    }
  }

  test("m16 imageNearDup: histogram equals a direct pixel-formula " +
    "recomputation (codec + banding + hamming end to end)") {
    import graft.queries.MediaQueries
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    def phash(id: Long): (Int, Int, String) = {
      val key = id % 37
      val w = (8 + key % 13).toInt; val h = (8 + key % 7).toInt
      val grays = Array.tabulate(64) { q =>
        val sp = (q / 8) * h / 8 * w + (q % 8) * w / 8
        def byte(c: Int): Long = {
          val base = (key * 7 + (3 * sp + c) * 13) % 256
          if (id % 2 == 1 && (sp % w) * 8 >= 6 * w && c == 0) 255L else base
        }
        299L * byte(0) + 587L * byte(1) + 114L * byte(2)
      }
      val total = grays.sum
      (w, h, grays.map(g => if (g * 64 > total) '1' else '0').mkString)
    }
    val ph = ids.map(id => id -> phash(id)).toMap
    val pairs = for {
      a <- ids; b <- ids if a < b
      (wa, ha, pa) = ph(a); (wb, hb, pb) = ph(b)
      if wa == wb && ha == hb
      if (0 until 4).exists(k => pa.substring(k * 16, k * 16 + 16) ==
        pb.substring(k * 16, k * 16 + 16))
      d = pa.zip(pb).count { case (x, y) => x != y }
      if d <= 20
    } yield d
    val expected = pairs.groupBy(identity)
      .map { case (d, xs) => (d.toLong, xs.length.toLong) }
    val got = MediaQueries.m16ImageNearDup(spark, sf)
      .select("hamming", "n_pairs").as[(Long, Long)].collect().toMap
    assert(got === expected && expected.values.sum > 0)
    // the patch produces genuinely nonzero verified distances
    assert(expected.keys.exists(_ > 0))
  }

  test("v11 zoneOccupancy: zones recomputed from the v1 box relation, " +
    "occupancy denominators are per-video frame counts") {
    import graft.queries.VideoQueries
    import graft.sources.Tables
    // v1's output is the oracle-trusted box relation; recompute the
    // zone aggregation from it independently
    val boxes = VideoQueries.v1Boxes(spark, sf)
      .select("video_id", "frame_id", "x", "y", "w", "h")
      .as[(String, Long, Int, Int, Int, Int)].collect()
    val vf = Tables.events(spark, sf)
      .select("event_type", "event_id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct.size }
    def dims(fid: Long): (Long, Long) =
      (480L + (fid % 3) * 240, 640L + (fid % 3) * 320)
    val expected = boxes.map { case (v, fid, x, y, w, h) =>
      val (hh, ww) = dims(fid)
      val zr = math.min(3L, ((x + w).toLong / 2) * 4 / hh)
      val zc = math.min(3L, ((y + h).toLong / 2) * 4 / ww)
      ((v, zr, zc), fid)
    }.groupBy(_._1).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._2).distinct.length.toLong))
    }
    val got = VideoQueries.v11ZoneOccupancy(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(got.length === expected.size)
    got.foreach { case (v, zr, zc, nb, nf, occ) =>
      val (enb, enf) = expected((v, zr, zc))
      assert((nb, nf) === ((enb, enf)), s"zone ($v,$zr,$zc)")
      assert(occ === BigDecimal(nf.toDouble / vf(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble ||
        math.abs(occ - nf.toDouble / vf(v)) < 1e-6)
    }
    // boxes land in more than one zone (the grid is actually exercised)
    assert(expected.keys.map(k => (k._2, k._3)).toSet.size > 1)
  }

  test("x54 vocabCoverage: top-V cut deterministic on ties, instance " +
    "and type OOV rates hand-checked") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      (1L, "alpha alpha beta gamma", "tgt"),  // target: counts a=2,b=1,g=1
      (2L, "alpha beta delta", "raw"),        // delta OOV under V=2
      (3L, "epsilon epsilon", "raw"))
      .toDF("doc_id", "text", "source")
    // V=2: vocab = {alpha (2), beta (1)} — gamma loses the tie to
    // beta on the token-string tiebreak
    val got = CorpusQueries.vocabCoverage(docs, "tgt", vocabSize = 2)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // tgt: 4 instances, 1 oov (gamma); types a,b,g -> 1 oov type
    assert(got("tgt") === (("tgt", 4L, 1L, 250000L, 3L, 1L, 333333L)))
    // raw: 5 instances, 3 oov (delta + 2x epsilon); types a,b,d,e -> 2
    assert(got("raw") === (("raw", 5L, 3L, 600000L, 4L, 2L, 500000L)))
  }

  test("m21 augment: fingerprints equal an independent index-mapping " +
    "recomputation for all three transforms") {
    import graft.queries.MediaQueries
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    def v(id: Long, k: Long): Long = ((id % 37) * 11 + k * 17) % 256
    def fold(id: Long, n: Int, srcK: Int => Long): Long =
      (0 until n).foldLeft(0L)((acc, j) =>
        (acc * 31 + v(id, srcK(j))) % 1000000007L)
    val expected = ids.flatMap { id =>
      val key = id % 37
      val w = (8 + key % 13).toInt; val h = (8 + key % 7).toInt
      Seq(
        (id, "hflip") -> ((w, h, fold(id, w * h * 3, { j =>
          val p = j / 3; 3L * ((p / w) * w + (w - 1 - p % w)) + j % 3 })),
        ),
        (id, "rot90") -> ((h, w, fold(id, w * h * 3, { j =>
          val p = j / 3; 3L * ((h - 1 - p % h) * w + p / h) + j % 3 })),
        ),
        (id, "crop") -> (((w - 2), (h - 2), fold(id, (w - 2) * (h - 2) * 3, { j =>
          val p = j / 3; val ow = w - 2
          3L * ((p / ow + 1) * w + (p % ow + 1)) + j % 3 })),
        ))
    }.toMap
    val got = MediaQueries.m21Augment(spark, sf)
      .as[(Long, String, Int, Int, Long)].collect()
    assert(got.length === ids.length * 3)
    got.foreach { case (id, aug, ow, oh, ph) =>
      assert(((ow, oh, ph)) === expected((id, aug)), s"doc $id $aug")
    }
  }

  test("x55 apportion: quotas sum exactly to the budget, largest " +
    "remainders win the leftover, tie broken by lang") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      (1L, "a a a a a a a", "x", "en"),   // 7 tokens
      (2L, "b b b b b", "x", "de"),       // 5 tokens
      (3L, "c c c", "x", "fr"))           // 3 tokens
      .toDF("doc_id", "text", "source", "lang")
    // N=10, total=15: floors = 10*7/15=4, 10*5/15=3, 10*3/15=2 -> 9;
    // remainders 10 (en), 5 (de), 0 (fr) -> en gets the leftover slot
    val got = CorpusQueries.apportion(docs, budget = 10L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("en") === (("en", 7L, 4L, 1L, 5L)))
    assert(got("de") === (("de", 5L, 3L, 0L, 3L)))
    assert(got("fr") === (("fr", 3L, 2L, 0L, 2L)))
    assert(got.values.map(_._5).sum === 10L)
    // the real corpus also sums exactly to budget
    val real = CorpusQueries.x55Apportion(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(real.map(_._5).sum === 1000L)
  }

  test("m20 walshSpectrum: coefficients equal a direct formula " +
    "recomputation, W0 is the plain sum, dominant flag unique") {
    import graft.queries.MediaQueries
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    def sample(id: Long, i: Int): Long = {
      val key = id % 37; val n = (64 + key).toInt
      if (id % 2 == 1 && i * 4 >= 3 * n) 16384L
      else (key * 31 + i.toLong * 97) % 65536 - 32768
    }
    def walsh(id: Long, k: Int): Long =
      (0 until 64).map { i =>
        sample(id, i) * (1 - 2 * (java.lang.Integer.bitCount(k & i) & 1))
      }.sum
    val got = MediaQueries.m20WalshSpectrum(spark, sf)
      .as[(Long, Int, Long, Boolean)].collect()
    assert(got.length === ids.length * 8)
    got.foreach { case (id, k, c, _) =>
      assert(c === walsh(id, k), s"W_$k of doc $id")
    }
    // W0 = plain sum; dominant unique per doc and matches argmax
    val byDoc = got.groupBy(_._1)
    byDoc.foreach { case (id, rows) =>
      assert(rows.find(_._2 == 0).get._3 ===
        (0 until 64).map(sample(id, _)).sum)
      val doms = rows.filter(_._4)
      assert(doms.length === 1)
      val expDom = (1 until 8).minBy(k => (-math.abs(walsh(id, k)), k))
      assert(doms.head._2 === expDom, s"dominant of doc $id")
    }
  }

  test("v12 coOccurrence: pair counts and integral lift recomputed " +
    "from the v1 box relation") {
    import graft.queries.VideoQueries
    val boxes = VideoQueries.v1Boxes(spark, sf)
      .select("frame_id", "label_id", "label")
      .as[(Long, Int, String)].collect()
    val inc = boxes.distinct
    val name = inc.map(r => r._2 -> r._3).toMap
    val t = inc.map(_._1).distinct.length.toLong
    val perLabel = inc.groupBy(_._2).map { case (l, xs) =>
      l -> xs.length.toLong }
    val byFrame = inc.groupBy(_._1)
    // pairs ordered by LABEL ID (the engine's join key), named after
    val pairCounts = byFrame.values.toSeq.flatMap { xs =>
      val ls = xs.map(_._2).distinct.sorted
      for { i <- ls.indices; j <- (i + 1) until ls.length } yield
        (ls(i), ls(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val expected = pairCounts.map { case ((a, b), nBoth) =>
      (name(a), name(b)) -> ((perLabel(a), perLabel(b), nBoth,
        nBoth * t * 1000000L / (perLabel(a) * perLabel(b))))
    }
    val got = VideoQueries.v12CoOccurrence(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got === expected && expected.nonEmpty)
  }

  test("m19 videoNearDup: histogram equals a frame-hash-set " +
    "recomputation; clean twins at 100, tail edits below") {
    import graft.queries.MediaQueries
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    def frameHash(id: Long, f: Int): Long = {
      val key = id % 37
      val w = (8 + key % 9).toInt; val h = (8 + key % 5).toInt
      val nf = (2 + key % 3).toInt
      val grays = Array.tabulate(64) { q =>
        val sp = (q / 8) * h / 8 * w + (q % 8) * w / 8
        val iv = if (id % 2 == 1 && f == nf - 1) (sp * 29) % 256
                 else ((key * 7 + f * 31 + sp * 13) % 256).toInt
        299L * iv + 587L * ((iv * 37) % 256) + 114L * ((iv * 91) % 256)
      }
      val total = grays.sum
      grays.zipWithIndex.foldLeft(0L) { case (acc, (g, q)) =>
        if (g * 64 > total) acc | (1L << (63 - q)) else acc
      }
    }
    val sets = ids.map { id =>
      val nf = (2 + (id % 37) % 3).toInt
      id -> (0 until nf).map(frameHash(id, _)).distinct.toSet
    }.toMap
    val pairs = for {
      a <- ids; b <- ids if a < b
      (sa, sb) = (sets(a), sets(b))
      inter = (sa & sb).size if inter > 0
    } yield (inter.toLong * 100) / (sa.size + sb.size - inter)
    val expected = pairs.groupBy(identity)
      .map { case (p, xs) => p -> xs.length.toLong }
    val got = MediaQueries.m19VideoNearDup(spark, sf)
      .select("jaccard_pct", "n_pairs").as[(Long, Long)].collect().toMap
    assert(got === expected)
    // both evidence classes present: exact twins and partial overlaps
    assert(got.contains(100L) && got.keys.exists(_ < 100L))
  }

  test("x53 importanceWeights: ratio weights hand-recomputed, target " +
    "doc outranks mixed doc, off-target-only doc scores zero") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      (1L, "apple apple banana", "tgt"),
      (2L, "apple banana cherry", "raw"),
      (3L, "cherry cherry", "raw"))
      .toDF("doc_id", "text", "source")
    val got = CorpusQueries.importanceWeights(docs, "tgt", topK = 3)
      .as[(Long, String, Long, Long)].collect()
    // recompute with the poly_hash recurrence ((a*31+ord) mod 1e9+7)
    def ph(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val toks = Map(1L -> Seq("apple", "apple", "banana"),
      2L -> Seq("apple", "banana", "cherry"), 3L -> Seq("cherry", "cherry"))
    val all = toks.toSeq.flatMap { case (d, ts) => ts.map(d -> _) }
    val byBucket = all.groupBy { case (_, t) => ph(t) % 512 }
    val w = byBucket.map { case (b, xs) =>
      b -> xs.count(_._1 == 1L).toLong * 1000000L / xs.length
    }
    val expected = toks.map { case (d, ts) =>
      val score = ts.map(t => w(ph(t) % 512)).sum
      d -> (score / ts.length)
    }
    val gotMap = got.map(r => r._1 -> r._4).toMap
    assert(gotMap === expected)
    // ranking: pure-target doc first, zero-evidence doc last
    assert(got.head._1 === 1L && got.last._1 === 3L)
    assert(gotMap(3L) === 0L)
    assert(got.map(_._3).toSeq === Seq(3L, 3L, 2L)) // n_tok carried
  }

  test("x50 lengthBuckets: pow-2 ceilings exact at boundaries, " +
    "zero-token docs in the unit bucket, waste hand-checked") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      (1L, ""),                                 // 0 tokens -> bucket 1
      (2L, "a"),                                // 1 -> bucket 1
      (3L, "a b"),                              // 2 -> bucket 2 (exact pow)
      (4L, "a b c"),                            // 3 -> bucket 4
      (5L, "a b c d"),                          // 4 -> bucket 4 (exact pow)
      (6L, (1 to 5).map(_ => "w").mkString(" "))) // 5 -> bucket 8
      .toDF("doc_id", "text")
    val got = CorpusQueries.lengthBuckets(docs)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, 2L, 0.0)))
    assert(got(2L) === ((2L, 1L, 2L, 2L, 0.0)))
    assert(got(4L) === ((4L, 2L, 7L, 8L, 0.125)))
    assert(got(8L) === ((8L, 1L, 5L, 8L, 0.375)))
  }

  test("x51 languageConsistency: per-segment lang-ID flags the " +
    "code-switched doc, clean and empty docs count zero switches") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      // en segment then de segment (3-token segments) -> 1 switch
      (1L, "the is a sch ein der", "s1"),
      // two en segments -> 0 switches
      (2L, "the is a the is a", "s2"),
      // empty doc -> no segments -> 0
      (3L, "", "s2"))
      .toDF("doc_id", "text", "source")
    val got = CorpusQueries.languageConsistency(docs, segTokens = 3)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("s1") === (("s1", 1L, 1L, 1L, 1L, 1.0)))
    assert(got("s2") === (("s2", 2L, 0L, 0L, 0L, 0.0)))
  }

  test("g6 coEngagement: hand-checked projection — duplicate events " +
    "collapse, jaccard from distinct user sets") {
    import java.sql.Timestamp
    import graft.queries.GraphQueries
    import graft.sources.Tables
    // users 1,2 do view+click; user 3 view only; user 2 clicks TWICE
    // (must collapse); nobody pairs view with error
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      (1L, 1L, "view"), (2L, 1L, "click"),
      (3L, 2L, "view"), (4L, 2L, "click"), (5L, 2L, "click"),
      (6L, 3L, "view"), (7L, 4L, "error"))
      .map { case (e, u, ty) => (e, t0, u, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-g6-").toString
    try {
      rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = GraphQueries.g6CoEngagement(spark, dir)
        .as[(String, String, Long, Long, Long, Double)].collect().toSet
      // click:2 users, view:3, error:1; click∩view = {1,2} -> 2/(2+3-2)
      assert(got === Set(("click", "view", 2L, 3L, 2L, 0.666667)))
    } finally TmpPaths.deleteRecursively(new java.io.File(dir))
  }

  test("x52 prefixBoilerplate: shared 8-token prefixes surface, " +
    "short docs and sub-threshold prefixes drop") {
    import graft.queries.CorpusQueries
    val header = "terms of service apply to this site colon"
    val other = "a b c d e f g h"
    val docs = Seq(
      (1L, header + " page one content", "s1"),
      (2L, header + " page two content", "s1"),
      (3L, header + " page three", "s2"),
      (4L, other + " tail", "s1"),
      (5L, other + " tail2", "s1"), // only 2 copies: below minDocs
      (6L, "too short", "s2"))      // < 8 tokens: excluded
      .toDF("doc_id", "text", "source")
    val got = CorpusQueries.prefixBoilerplate(docs, 8, 3L, 10)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(got === Seq((header, 3L, 2L, 1)))
  }

  test("r55 transitionMatrix: counts and row-normalized rates " +
    "hand-checked, same-ts ties break by event_id") {
    import java.sql.Timestamp
    import graft.queries.Relational4
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(0), 1L, "A", 0.0, "{}"), (2L, ts(1), 1L, "B", 0.0, "{}"),
      (3L, ts(2), 1L, "B", 0.0, "{}"),
      (4L, ts(0), 2L, "A", 0.0, "{}"), (5L, ts(1), 2L, "C", 0.0, "{}"),
      // user 3: same timestamp, event_id order decides X -> Y
      (10L, ts(5), 3L, "X", 0.0, "{}"), (11L, ts(5), 3L, "Y", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational4.transitionMatrix(ev)
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(got === Set(
      ("A", "B", 1L, 2L, 0.5), ("A", "C", 1L, 2L, 0.5),
      ("B", "B", 1L, 1L, 1.0), ("X", "Y", 1L, 1L, 1.0)))
  }

  test("s24 sq8 recall: the 255-step grid keeps recall@10 high on the " +
    "real corpus") {
    import graft.queries.LlmQueries
    val rows = LlmQueries.s24Sq8Recall(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rows.length === 5)
    rows.foreach { case (q, hits, recall) =>
      assert(recall >= 0.8, s"query $q recall $recall")
      assert(hits <= 10L)
    }
  }

  test("char_entropy_micro expression equals the HOF fold on the real " +
    "corpus and on boundary fixtures") {
    import org.apache.spark.sql.functions._
    import graft.queries.CorpusQueries
    val fixtures = Seq("", "a", "aaaa", "abab", "ab ba x.,!?",
      "the quick brown fox", "ααββγ 0:/\\").toDF("text")
    val corpus = graft.sources.Tables.documents(spark, sf).select("text")
    Seq(fixtures, corpus).foreach { df =>
      val both = df.select(
        CorpusQueries.entropyMicroCol.as("expr_v"),
        CorpusQueries.entropyMicroHofCol.as("hof_v"))
      assert(both.filter(col("expr_v") =!= col("hof_v")).count() === 0)
      assert(both.count() > 0)
    }
  }

  test("r53 winsorized: discrete p5/p95 bounds, both clamp directions, " +
    "hand-checked robust mean and variance") {
    import graft.queries.Relational4
    // type A: 0..20 dollars, n=21 -> lo idx 1 (=100c), hi idx 19 (=1900c)
    val ev = (0 to 20).map(v => ("A", v.toDouble))
      .toDF("event_type", "value")
    val got = Relational4.winsorized(ev)
      .as[(String, Long, Long, Long, Long, Long, Double, Double)]
      .collect()
    assert(got.length === 1)
    val r = got(0)
    assert((r._2, r._3, r._4) === ((21L, 100L, 1900L)))
    assert((r._5, r._6) === ((1L, 1L))) // 0 clamps up, 2000 clamps down
    assert(r._7 === 10.0)      // 21000 cents / 21 / 100
    assert(r._8 === 34.857143) // (21*28320000 - 21000^2)/441/10000
  }

  test("m17 imageClusters: clusters equal a union-find closure of the " +
    "m16 pair graph, survivors are min ids") {
    import graft.queries.MediaQueries
    val pairs = MediaQueries.m16Pairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(n => n -> find(n)).toMap
    val got = MediaQueries.m17ImageClusters(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    assert(got.nonEmpty && got.length === expected.size)
    got.foreach { case (doc, cluster, survivor) =>
      assert(cluster === expected(doc), s"doc $doc")
      assert(survivor === (doc == cluster))
    }
  }

  test("v10 trackInterpolate: linear fill hand-checked, min-box_ref " +
    "representative, consecutive frames produce no gap") {
    import graft.queries.VideoQueries
    val boxes = Seq(
      // label 1: frames 1 and 4 -> gap frames 2, 3
      ("v", 1L, 1, 0, 0, 10, 10, 1),
      ("v", 1L, 2, 999, 999, 999, 999, 1), // higher box_ref: ignored
      ("v", 4L, 1, 30, 30, 40, 40, 1),
      // label 2: consecutive frames -> no gap
      ("v", 5L, 1, 0, 0, 5, 5, 2),
      ("v", 6L, 1, 1, 1, 6, 6, 2))
      .toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
        "label_id")
    val got = VideoQueries.trackInterpolate(boxes)
      .as[(String, Long, Long, Long)].collect()
    // gap frame 2: coords (10000, 10000, 20000, 20000) milli ->
    // area (20000-10000)^2 = 1e8; frame 3: (20000,.., 30000) -> 1e8
    assert(got.toSeq === Seq(("v", 1L, 2L, 200000000L)))
  }

  test("v13 trackKinematics: hand-checked path/speed, single-" +
    "observation tracks carry integer zeros") {
    import graft.queries.VideoQueries
    val boxes = Seq(
      // label 1: frames 1 and 3 — centers×2: (10,10) -> (70,90),
      // manhattan = 60+80 = 140, gap 2 -> speed = 140*1000/(2*2)
      ("v", 1L, 1, 0, 0, 10, 10, 1),
      ("v", 1L, 2, 999, 999, 999, 999, 1), // higher box_ref: ignored
      ("v", 3L, 1, 30, 40, 10, 10, 1),
      // label 2: one observation — zero steps/path/speed
      ("v", 5L, 1, 0, 0, 5, 5, 2))
      .toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
        "label_id")
    val got = VideoQueries.trackKinematics(boxes)
      .as[(String, Int, Long, Long, Long, Long)].collect()
      .map(t => (t._2, (t._3, t._4, t._5, t._6))).toMap
    assert(got(1) === ((2L, 1L, 140L, 35000L)))
    assert(got(2) === ((1L, 0L, 0L, 0L)))
  }

  test("r57 maxConcurrent: equals a brute-force instant sweep on " +
    "random interval sets; back-to-back intervals never double-count") {
    import org.apache.spark.sql.functions._
    import graft.queries.Relational4
    val rnd = new scala.util.Random(57)
    val iv = (0 until 200).map { i =>
      val t = s"t${i % 3}"
      val s = rnd.nextInt(50).toLong
      val d = rnd.nextInt(12).toLong
      (t, s, d)
    } :+ (("t3", 10L, 5L)) :+ (("t3", 15L, 5L)) // exactly adjacent: max 1
    val got = Relational4.maxConcurrent(
      iv.toDF("event_type", "s_us", "dur_us"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // brute force: concurrency at instant q = |{[s, s+d) : q inside}|,
    // maximum is attained at some interval start
    val expect = iv.groupBy(_._1).map { case (t, xs) =>
      val mc = xs.filter(_._3 > 0).map(_._2).distinct.map { q =>
        xs.count { case (_, s, d) => d > 0 && s <= q && q < s + d }
      }.foldLeft(0)(math.max)
      t -> mc.toLong
    }
    expect.foreach { case (t, mc) =>
      assert(got(t)._1 === mc, s"type $t")
    }
    assert(got("t3")._1 === 1L) // half-open: [10,15) and [15,20) don't overlap
  }

  test("asOfForward duality: forward on negated times equals backward " +
    "as-of, payload for payload") {
    import org.apache.spark.sql.functions._
    import graft.operators.AsOfJoin
    val rnd = new scala.util.Random(58)
    val left = (0 until 120).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, s"L$i"))
      .toDF("k", "t", "tag")
    val right = (0 until 60).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, s"R$i"))
      .toDF("k", "t", "p")
      // unique per (key, time) — the operator contract
      .groupBy(col("k"), col("t")).agg(max(col("p")).as("p"))
    val back = AsOfJoin.asOf(left, right, "k", "t", "t")
      .select(col("tag"), col("asof.p"))
      .as[(String, String)].collect().toSet
    val fwd = AsOfJoin.asOfForward(
        left.withColumn("t", -col("t")),
        right.withColumn("t", -col("t")), "k", "t", "t")
      .select(col("tag"), col("asof.p"))
      .as[(String, String)].collect().toSet
    assert(fwd === back && back.nonEmpty)
  }

  test("m18 audioNearDup: histogram equals a direct waveform-formula " +
    "recomputation (codec + banding + hamming end to end)") {
    import graft.queries.MediaQueries
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    def ahash(id: Long): (Int, String) = {
      val key = id % 37
      val n = (64 + key).toInt
      def sample(i: Int): Long =
        if (id % 2 == 1 && i * 4 >= 3 * n) 16384L
        else (key * 31 + i.toLong * 97) % 65536 - 32768
      val probes = Array.tabulate(64)(q => math.abs(sample(q * n / 64)))
      val total = probes.sum
      (n, probes.map(a => if (a * 64 > total) '1' else '0').mkString)
    }
    val ph = ids.map(id => id -> ahash(id)).toMap
    val pairs = for {
      a <- ids; b <- ids if a < b
      (na, pa) = ph(a); (nb, pb) = ph(b)
      if na == nb
      if (0 until 4).exists(k => pa.substring(k * 16, k * 16 + 16) ==
        pb.substring(k * 16, k * 16 + 16))
      d = pa.zip(pb).count { case (x, y) => x != y }
      if d <= 20
    } yield d
    val expected = pairs.groupBy(identity)
      .map { case (d, xs) => (d.toLong, xs.length.toLong) }
    val got = MediaQueries.m18AudioNearDup(spark, sf)
      .select("hamming", "n_pairs").as[(Long, Long)].collect().toMap
    assert(got === expected && expected.values.sum > 0)
    assert(expected.keys.exists(_ > 0))
  }

  test("s23 knnSq8: on-grid vectors reconstruct exactly (ranks = brute " +
    "force), off-grid snaps to the 255-step grid, constant dims safe") {
    import graft.operators.Similarity
    // dims 2,3 are constant 0 (max = min -> code 0, exact); dim0/dim1
    // span [0, 255] so integer values sit exactly on the code grid
    val emb = Seq(
      (0L, Array(255f, 0f, 0f, 0f)),   // the query
      (1L, Array(255f, 0f, 0f, 0f)),   // exact duplicate: cos 1
      (2L, Array(0f, 255f, 0f, 0f)),   // orthogonal: cos 0
      (3L, Array(128f, 128f, 0f, 0f)), // on-grid diagonal: cos 1/sqrt2
      (4L, Array(100.4f, 0f, 0f, 0f))) // off-grid: snaps to 100, cos 1
      .toDF("vec_id", "embedding")
    val got = Similarity.knnSq8(emb, emb.filter($"vec_id" === 0), k = 4)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(got === Seq(
      (0L, 1L, 1, 1.0),      // exact dup
      (0L, 4L, 2, 1.0),      // reconstruction (100,0,0,0) collinear
      (0L, 3L, 3, 0.707107), // 1/sqrt2 through exact reconstruction
      (0L, 2L, 4, 0.0)))
  }

  test("connectedComponentsTwoPhase: labels equal min-label propagation " +
    "on a mixed graph, and a 200-node path closes inside the round " +
    "budget that min-label's O(diameter) contract cannot meet") {
    import graft.operators.Components
    // mixed shapes: a chain, a star, a triangle with a tail, an island
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),            // chain 1-2-3-4
      (50L, 7L), (50L, 8L), (50L, 9L),         // star centered off-min
      (100L, 101L), (101L, 102L), (102L, 100L), (102L, 103L), // tri+tail
      (200L, 201L)).toDF("a", "b")
    val viaStars = Components.connectedComponentsTwoPhase(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLabels = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === viaLabels)
    // deep path: 0-1-2-...-199. Diameter 199 > min-label's default
    // 50-round budget; star contraction is diameter-independent.
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Components.connectedComponentsTwoPhase(path, maxIters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 200 && got.forall(_._2 === 0L))
    // empty edge list → empty labeling, immediate convergence
    assert(Components.connectedComponentsTwoPhase(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() === 0L)
  }

  test("connectedComponents and connectedComponentsTwoPhase drop an " +
    "edge with a null endpoint, and both results are non-nullable") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Components
    val clean = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), Some(2L)), (Some(7L), Some(8L)))
    val withNulls = clean ++ Seq((Some(3L), None), (None, Some(9L)), (None, None))
    for ((name, cc) <- Seq[(String, DataFrame => DataFrame)](
        "connectedComponents" -> (Components.connectedComponents(_)),
        "connectedComponentsTwoPhase" -> (Components.connectedComponentsTwoPhase(_)))) {
      def labels(df: DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = labels(cc(clean.toDF("a", "b")))
      assert(want === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L), name)
      val got = cc(withNulls.toDF("a", "b"))
      assert(labels(got) === want, name)
      // nullable labels would plan two different exchanges for
      // min-label's two reads of the previous round
      assert(got.schema.map(f => f.name -> f.nullable) ===
        Seq("node" -> false, "cluster" -> false), name)
    }
  }

  test("connectedComponents and connectedComponentsTwoPhase release " +
    "every superseded round: a 12-node path leaves at most one new " +
    "persisted RDD, the one behind the result") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Components
    val sc = spark.sparkContext
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    for ((name, cc) <- Seq[(String, DataFrame => DataFrame)](
        "connectedComponents" -> (Components.connectedComponents(_)),
        "connectedComponentsTwoPhase" -> (Components.connectedComponentsTwoPhase(_)))) {
      val before = sc.getPersistentRDDs.keySet
      val got = cc(path).collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length === 12 && got.forall(_._2 === 0L), name)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size <= 1, s"$name left ${added.size} RDDs persisted")
    }
  }

  test("every round-looping graph, retrieval and corpus operator releases " +
    "every superseded round, at zero rounds too: only the pins its " +
    "result reads survive, and the result collects the same rows twice") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Graph, Similarity}
    import graft.queries.CorpusQueries
    val sc = spark.sparkContext
    // a 9-node path, a triangle on 20-22 and a pendant pair; seeds are
    // the ids ≡ 0 mod 7
    val pairs = ((0L until 8L).map(i => (i, i + 1, (i % 3).toInt)) ++
      Seq((20L, 21L, 0), (21L, 22L, 1), (22L, 20L, 2), (30L, 31L, 0)))
      .toDF("doc_a", "doc_b", "hamming")
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 2)
    val docs = Seq((1L, "thee thee the"), (2L, "than thaw"))
      .toDF("doc_id", "text")
    // (operator, rounds, pins its result reads): the result reads one
    // pin, except bfsLayers/weightedPaths, which join the pinned node
    // set to the last round, and bpeTrain, which unions one pinned
    // 1-row rule per round. Zero rounds leave one pin, the input the
    // lazy round-0 view reads.
    val rows = Seq[(String, Int, Int, Int => DataFrame)](
      ("pageRank", 3, 1, n => Graph.pageRank(pairs, iters = n)),
      ("pageRank", 0, 1, n => Graph.pageRank(pairs, iters = n)),
      ("personalizedPageRank", 3, 1,
        n => Graph.personalizedPageRank(pairs, seedMod = 7L, iters = n)),
      ("personalizedPageRank", 0, 1,
        n => Graph.personalizedPageRank(pairs, seedMod = 7L, iters = n)),
      ("bfsLayers", 3, 2, n => Graph.bfsLayers(pairs, seedMod = 7L, maxHops = n)),
      ("bfsLayers", 0, 1, n => Graph.bfsLayers(pairs, seedMod = 7L, maxHops = n)),
      ("weightedPaths", 3, 2,
        n => Graph.weightedPaths(pairs, seedMod = 7L, rounds = n)),
      ("weightedPaths", 0, 1,
        n => Graph.weightedPaths(pairs, seedMod = 7L, rounds = n)),
      ("labelPropagation", 3, 1, n => Graph.labelPropagation(pairs, rounds = n)),
      ("labelPropagation", 0, 1, n => Graph.labelPropagation(pairs, rounds = n)),
      ("kCorePeel", 3, 1, n => Graph.kCorePeel(pairs, k = 2L, rounds = n)),
      ("kCorePeel", 0, 1, n => Graph.kCorePeel(pairs, k = 2L, rounds = n)),
      ("kTruss", 3, 1, n => Graph.kTruss(pairs, k = 3L, rounds = n)),
      ("kTruss", 0, 1, n => Graph.kTruss(pairs, k = 3L, rounds = n)),
      ("triangleCounts", 0, 1, _ => Graph.triangleCounts(pairs)),
      ("mmrDiversify", 3, 1,
        n => Similarity.mmrDiversify(emb, queries, kShort = 5, kOut = n)),
      ("mmrDiversify", 1, 1,
        n => Similarity.mmrDiversify(emb, queries, kShort = 5, kOut = n)),
      ("bpeTrain", 1, 1, n => CorpusQueries.bpeTrain(docs, rounds = n)),
      ("bpeTrain", 3, 3, n => CorpusQueries.bpeTrain(docs, rounds = n)))
    for ((name, n, pins, op) <- rows) {
      val before = sc.getPersistentRDDs.keySet
      val out = op(n)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size <= pins,
        s"$name($n) left ${added.size} RDDs persisted, its result reads $pins")
      val first = out.collect().map(_.toString).sorted.toSeq
      assert(first.nonEmpty, s"$name($n)")
      assert(out.collect().map(_.toString).sorted.toSeq === first, s"$name($n)")
    }
  }

  test("r60 rollingDistinct: interval-merge deltas equal a brute-force " +
    "window recount on deterministic pseudo-random activity, and " +
    "island boundaries are exercised (gap = 6 merges, gap = 7 splits)") {
    import java.time.LocalDate
    import graft.queries.Relational4
    val epoch = LocalDate.of(1970, 1, 1)
    // deterministic activity: 40 users × hashed day picks across ~60
    // days, plus two hand-placed users probing the merge boundary
    val days = (0 until 400).map { i =>
      val u = i % 40; val d = (i * 2654435761L % 60).toInt
      (u.toLong, epoch.plusDays(18000 + d).toString)
    } ++ Seq(
      (100L, epoch.plusDays(18000).toString),   // gap 6 -> same island
      (100L, epoch.plusDays(18006).toString),
      (101L, epoch.plusDays(18000).toString),   // gap 7 -> new island
      (101L, epoch.plusDays(18007).toString))
    val ud = days.toDF("user_id", "ds")
      .select($"user_id",
        org.apache.spark.sql.functions.to_date($"ds").as("d"))
    val got = Relational4.rollingDistinct(ud)
      .as[(Long, Long)].collect().toMap
    // brute force: for each active day, recount the 7-day window
    val act = days.map { case (u, ds) =>
      (u, LocalDate.parse(ds).toEpochDay)
    }.distinct
    val expected = act.map(_._2).distinct.map { d =>
      d -> act.filter(a => a._2 >= d - 6 && a._2 <= d)
        .map(_._1).distinct.length.toLong
    }.toMap
    assert(got === expected)
    assert(got.nonEmpty && got.values.max > 1)
  }

  test("x62 kmvJaccard: sketch covering the whole vocabulary is exact; " +
    "disjoint vocabularies estimate zero; k_used caps at k") {
    // A and B share 30 of 60 terms each (J = 30/90); C is disjoint
    val terms = (0 until 60).map(i => ("A", s"t$i")) ++
      (30 until 90).map(i => ("B", s"t$i")) ++
      (0 until 40).map(i => ("C", s"z$i"))
    val lt = terms.toDF("lang", "term")
    // k = 4096 >> vocab: the merged bottom-k IS the union, so the
    // estimate equals exact Jaccard in ppm
    val wide = CorpusQueries.kmvJaccard(lt, k = 4096)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val ab = wide(("A", "B"))
    assert(ab._4 === ab._5 && ab._6 === 0L)
    assert(ab._5 === (30L * 1000000L / 90L))
    assert(wide(("A", "C"))._4 === 0L && wide(("B", "C"))._4 === 0L)
    // tight k: k_used is capped and the estimate stays a plausible
    // ppm (the accuracy claim lives in the oracle-checked x62 row)
    val tight = CorpusQueries.kmvJaccard(lt, k = 16)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(tight.forall(r => r._3 <= 16 && r._4 >= 0 && r._4 <= 1000000))
  }

  test("x63 collocations: lift hand-checked, support gate drops rare " +
    "bigrams, inseparable pair outranks independent co-occurrence") {
    // 6 docs of "alpha beta" (always adjacent) + 6 docs mixing gamma
    // and delta with a spacer so they never pair up adjacently more
    // than the support gate allows
    val docs = (Seq.fill(6)("alpha beta") ++
      Seq.fill(6)("gamma x delta x gamma x delta x")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = CorpusQueries.collocations(docs, minSupport = 5, topK = 10)
      .as[(String, String, Long, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    // N = 6*2 + 6*8 = 60 tokens; B = 6*1 + 6*7 = 48 bigrams
    // alpha-beta: c_ab=6, c_a=c_b=6 -> lift = 6*60*60/(48*36) = 12.5
    assert(byPair(("alpha", "beta"))._3 === 6L)
    assert(byPair(("alpha", "beta"))._4 === 12500000L)
    // "x delta": c_ab=12, c_x=24, c_delta=12 -> 12*3600/(48*288)=3.125
    assert(byPair(("x", "delta"))._4 === 3125000L)
    // rare bigrams (n_ab < 5) are gated out: no ("beta","alpha") etc.
    assert(!got.exists(r => r._3 < 5))
    // inseparable pair ranks first
    assert(got.head._1 === "alpha" && got.head._2 === "beta")
  }

  test("g12 labelPropagation: bridged cliques keep distinct communities " +
    "where connected components merge them; tie-break is min-label") {
    import graft.operators.{Components, Graph}
    // two 4-cliques {0..3} and {10..13} joined by one bridge 3-10
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((3L, 10L)))
      .toDF("doc_a", "doc_b")
    val lpa = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // each clique converges onto its own min label; the bridge does
    // not outvote 3 dense in-clique neighbors
    assert(Seq(0L, 1L, 2L, 3L).map(lpa).toSet === Set(0L))
    assert(Seq(10L, 11L, 12L, 13L).map(lpa).toSet === Set(10L))
    // components, by contrast, merge everything reachable
    val cc = Components.connectedComponents(
      edges.select($"doc_a".as("a"), $"doc_b".as("b")))
      .collect().map(_.getLong(1)).toSet
    assert(cc === Set(0L))
    // two-node graph: each adopts the other's label (mode of one);
    // round parity makes this the classic LPA oscillation — the
    // FIXED round count keeps it deterministic
    val two = Seq((5L, 9L)).toDF("doc_a", "doc_b")
    val lab2 = Graph.labelPropagation(two, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(lab2 === Map(5L -> 9L, 9L -> 5L))
  }

  test("m24 audioFingerprint: every matched snippet recovers its " +
    "planted (track key, window offset) exactly through the real " +
    "WAV round-trip") {
    val got = graft.queries.MediaQueries.m24AudioFingerprint(spark, sf)
      .as[(Long, Long, Int, Long)].collect()
    assert(got.nonEmpty)
    def sample(key: Long, i: Long): Long = {
      val t = (key * 31 + i * 97) % 65521
      t * t % 65521
    }
    got.foreach { case (snip, track, dt, votes) =>
      assert(snip % 4 === 3L)          // only snippets report
      assert(votes >= 4 && votes <= 6) // 6 landmarks max
      // the recovered (track, dt) is a TRUE occurrence: the track's
      // samples from dt·16 equal the snippet's over the overlap (a
      // same-key track always matches; a genuine cross-key alias
      // would be accepted too, and rightly so)
      val off = (snip % 5) * 16
      val trackKey = track % 23
      val n = 192 + trackKey * 8
      val overlap = math.min(128L, n - dt * 16)
      assert(overlap >= (votes + 2) * 16)
      (0L until overlap).foreach { i =>
        assert(sample(trackKey, dt * 16 + i) === sample(snip % 23, off + i))
      }
    }
    // matches exist for several distinct offsets (the dt vote is
    // doing real work, not matching everything at 0)
    assert(got.map(_._3).distinct.length > 1)
  }

  test("s30 knnIvfPqResidual: hand-computed residual encode + ADC " +
    "(single cell, residual-space codebook)") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Array(3f, 1f, 1f, 1f)),
      (2L, Array(1f, 3f, 1f, 1f))).toDF("vec_id", "embedding")
    val query = Seq((0L, Array(3f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    // codewords already in residual space: exactly the two corpus
    // residuals, so encoding is lossless and ADC = exact in-cell L2
    val cb = Seq(
      (10L, Array(2f, 0f, 0f, 0f)),
      (11L, Array(0f, 2f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnIvfPqResidual(corpus, query, cents, cb,
      m = 2, k = 3, dim = 4)
      .as[(Long, Long, Int, Double)].collect().toSeq
    // q's residual [2,0,0,0] == x1's: adist 0; x2's residual
    // [0,2,0,0] sits 8.0 away ((2-0)² + (0-2)²)
    assert(got === Seq((0L, 1L, 1, 0.0), (0L, 2L, 2, 8.0)))
  }

  test("d17 containmentPairs: an excerpt is fully contained in its " +
    "source (ppm = 1e6) while Jaccard-style overlap stays low; " +
    "unrelated docs emit nothing") {
    import graft.operators.Dedup
    // doc 2 = 6-token excerpt of doc 1 (20 tokens); doc 3 unrelated
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val excerpt = (8 to 13).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long), (2L, excerpt),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    // excerpt: 4 shingles, all shared with doc 1's 18
    assert(got === Array((1L, 2L, 18L, 4L, 4L,
      math.floor(4L * 1000000.0 / 18L).toLong, 1000000L)))
    // the symmetric signal the containment gate rescues: J = 4/18
    assert(got.head._6 < 250000L)
  }

  test("s31 knnIvfAdaptive: probe width follows the candidate budget " +
    "on a skewed layout — hot-cell budget stops at one cell, a " +
    "larger budget opens the sparse cell too") {
    import graft.operators.Similarity
    val cents = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    // hot cell A: 5 vectors; sparse cell B: 2
    val corpus = ((1 to 5).map(i => (i.toLong, Array(1f, 0.01f * i, 0f, 0f)))
      ++ (6 to 7).map(i => (i.toLong, Array(0.01f * i, 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val query = Seq((0L, Array(1f, 0.2f, 0f, 0f))).toDF("vec_id", "embedding")
    // budget 5: cum before cell B is 5, not < 5 -> only the hot cell
    val tight = Similarity.knnIvfAdaptive(corpus, query, cents,
      budget = 5, k = 7).as[(Long, Long, Long, Int, Double)].collect()
    assert(tight.forall(_._2 === 1L))
    assert(tight.map(_._3).toSet === Set(1L, 2L, 3L, 4L, 5L))
    // budget 6: 5 < 6 -> the sparse cell opens too, all 7 reachable
    val wide = Similarity.knnIvfAdaptive(corpus, query, cents,
      budget = 6, k = 7).as[(Long, Long, Long, Int, Double)].collect()
    assert(wide.forall(_._2 === 2L))
    assert(wide.map(_._3).toSet === (1L to 7L).toSet)
  }

  test("m25 shotKeyframes: shots partition each video's frames, the " +
    "keyframe lies inside its shot, and both single- and multi-shot " +
    "videos occur") {
    val got = graft.queries.MediaQueries.m25ShotKeyframes(spark, sf)
      .as[(Long, Int, Int, Int, Int, Int, Long)].collect()
    val byDoc = got.groupBy(_._1)
    byDoc.foreach { case (id, shots) =>
      val nf = (2 + id % 7).toInt
      val sorted = shots.sortBy(_._2)
      // contiguous cover of 0..nf-1
      assert(sorted.head._3 === 0 && sorted.last._4 === nf - 1)
      assert(sorted.map(_._5).sum === nf)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._4 + 1)
        case _ =>
      }
      // keyframe inside its shot
      shots.foreach(s => assert(s._6 >= s._3 && s._6 <= s._4))
    }
    assert(byDoc.values.exists(_.length > 1))
    assert(byDoc.values.exists(_.length === 1))
  }

  test("d18 incrementalComponents: delta edges merge standing " +
    "components, attach unseen nodes, and spawn new components — " +
    "identical to a full recompute") {
    import graft.operators.Components
    val oldEdges = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val labels0 = Components.connectedComponents(oldEdges)
    val delta = Seq((2L, 3L), (5L, 6L), (10L, 4L)).toDF("a", "b")
    val got = Components.incrementalComponents(labels0, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 1L, 5L -> 5L, 6L -> 5L))
    val full = Components.connectedComponents(
      oldEdges.unionByName(delta))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full)
    // an empty delta is the identity
    assert(Components.incrementalComponents(labels0,
      Seq.empty[(Long, Long)].toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("g13 weightedPaths: a two-hop strong-evidence path beats a " +
    "one-hop weak pair; horizon bounds the relaxation; unreached " +
    "nodes report -1") {
    import graft.operators.Graph
    // seed 7 (7 % 7 = 0). Routes to node 9:
    //   direct  7-9 hamming 3       -> weight 4
    //   via 8:  7-8 and 8-9, both 0 -> weight 1 + 1 = 2
    // nodes 22-23: disconnected from the seed, and not seeds
    // themselves (neither is ≡ 0 mod 7)
    val pairs = Seq(
      (7L, 9L, 3), (7L, 8L, 0), (8L, 9L, 0),
      (22L, 23L, 1)).toDF("doc_a", "doc_b", "hamming")
    val got = Graph.weightedPaths(pairs, seedMod = 7L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(7L -> 0L, 8L -> 1L, 9L -> 2L,
      22L -> -1L, 23L -> -1L))
    // horizon 1: only direct edges relax — 9 costs 4 via the weak pair
    val oneRound = Graph.weightedPaths(pairs, seedMod = 7L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound(9L) === 4L && oneRound(8L) === 1L)
  }

  test("randomized CC algebra: min-label, star contraction, and " +
    "incremental maintenance all equal an in-memory union-find " +
    "reference on seeded random graphs") {
    import graft.operators.Components
    val rnd = new scala.util.Random(9)
    (1 to 4).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      val m = 40 + rnd.nextInt(60)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      // union-find that always attaches the larger root under the
      // smaller, so every root IS its component's minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val df = edges.toDF("a", "b")
      assert(Components.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
      assert(Components.connectedComponentsTwoPhase(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
      val (oldE, newE) = edges.partition(e => (e._1 + e._2) % 3 != 0)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val labels0 = Components.connectedComponents(oldE.toDF("a", "b"))
        assert(Components.incrementalComponents(labels0,
          newE.toDF("a", "b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
      }
    }
  }

  test("x64 dedupLedger: every doc verdicts exactly once, exact " +
    "duplicates take precedence over near, survivors keep") {
    import graft.queries.LlmQueries
    import graft.sources.Tables
    val ledger = LlmQueries.x64DedupLedger(spark, sf)
      .as[(Long, String)].collect().toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(ledger.size.toLong === nDocs)
    assert(ledger.values.toSet.subsetOf(
      Set("exact", "near", "contained", "keep")))
    // precedence: md5-identical non-min docs must read 'exact'
    // regardless of what the near-dup closure says about them
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", org.apache.spark.sql.functions.md5($"text")
        .as("h"))
      .as[(Long, String)].collect()
    val exactDrops = docs.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.tail).toSet
    exactDrops.foreach(id => assert(ledger(id) === "exact"))
    // near-dup non-survivors that are not exact dups read 'near'
    val near = LlmQueries.d9DedupClusters(spark, sf)
      .filter(!$"survivor").select($"doc_id").as[Long].collect().toSet
    (near -- exactDrops).foreach(id =>
      assert(ledger(id) === "near" || ledger(id) === "exact"))
    assert(ledger.values.count(_ == "keep") > 0)
  }
}
