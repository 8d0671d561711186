package graft

import org.apache.spark.sql.functions._

/** Round-9 session-4 operators: interval-union coverage (r61),
  * 2-D skyline (r62), RAG chunk map (x65), k-truss peeling (g14),
  * link prediction (g15), and the prefix-filtered similarity join
  * (d19). Each test hand-computes the expected result or
  * cross-checks against an in-test brute force.
  */
class Round10Spec extends SparkTestBase {
  import testImplicits._
  import graft.queries.{CorpusQueries, Relational5}
  import graft.operators.{Dedup, Graph}

  test("r61 intervalCoverage: overlap merges, nesting absorbs, " +
    "touching chains, duplicates and zero-length add nothing") {
    val iv = Seq(
      // "a": [0,10) + [5,20) overlap -> 20; [30,40) disjoint -> +10
      ("a", 0L, 10L), ("a", 5L, 15L), ("a", 30L, 10L),
      // "b": [0,100) nests [10,20) and a duplicate of itself
      ("b", 0L, 100L), ("b", 10L, 10L), ("b", 0L, 100L),
      // "c": touching [0,10)+[10,10) covers 20; zero-length at 5
      ("c", 0L, 10L), ("c", 10L, 10L), ("c", 5L, 0L)
    ).toDF("event_type", "s_us", "dur_us")
    val got = Relational5.intervalCoverage(iv)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") === ((30L, 3L, 40L)))
    assert(got("b") === ((100L, 3L, 100L)))
    assert(got("c") === ((20L, 3L, 20L)))
  }

  test("r62 skyline: matches brute-force dominance on a mixed set, " +
    "keeps same-size price ties and exact duplicates") {
    val rows = Seq(
      (1L, 10, 100.0), (2L, 10, 90.0),  // 2 dominated by 1 (same size)
      (3L, 5, 80.0),                     // frontier (smaller, cheaper)
      (4L, 20, 100.0),                   // dominated by 1 (bigger, equal)
      (5L, 20, 120.0),                   // frontier
      (6L, 5, 80.0),                     // duplicate of 3 -> both stay
      (7L, 3, 10.0),                     // frontier (smallest)
      (8L, 30, 119.0))                   // dominated by 5
    val df = rows.toDF("p_partkey", "p_size", "p_retailprice")
    val got = Relational5.skyline(df).as[(Long, Int, Double)]
      .collect().map(_._1).toSet
    val brute = rows.filter { case (_, sz, pr) =>
      !rows.exists { case (_, sz2, pr2) =>
        sz2 <= sz && pr2 >= pr && (sz2 < sz || pr2 > pr) }
    }.map(_._1).toSet
    assert(got === brute)
    assert(got === Set(1L, 3L, 5L, 6L, 7L))
  }

  test("x65 ragChunks: window/stride arithmetic, full coverage, " +
    "fingerprint is the left fold over the chunk's tokens") {
    val w = 4; val s = 3
    val docs = Seq(
      (1L, "a b c"),              // n=3 < w -> one short chunk
      (2L, "a b c d"),            // n=w -> exactly one chunk
      (3L, "a b c d e"),          // n=w+1 -> [0,4) + [3,5)
      (4L, ""),                   // empty -> no rows
      (5L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")  // n=10 -> 3 chunks
    ).toDF("doc_id", "text")
    val got = CorpusQueries.ragChunks(docs, w, s)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!got.contains(4L))
    assert(got(1L).map(c => (c._3, c._4)) === Seq((0L, 3L)))
    assert(got(2L).map(c => (c._3, c._4)) === Seq((0L, 4L)))
    assert(got(3L).map(c => (c._3, c._4)) === Seq((0L, 4L), (3L, 5L)))
    // n=10: chunks [0,4),[3,7),[6,10) — last chunk reaches n
    assert(got(5L).map(c => (c._3, c._4)) ===
      Seq((0L, 4L), (3L, 7L), (6L, 10L)))
    // fingerprint: fold (acc*31 + poly(tok)) % 1e9+7 over chunk 0 of doc 1
    def poly(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val expHash = Seq("a", "b", "c")
      .foldLeft(0L)((a, t) => (a * 31 + poly(t)) % 1000000007L)
    assert(got(1L).head._6 === expHash)
  }

  test("g14 kTruss: K4 survives the 4-truss with support 2, " +
    "low-support spokes peel in round 1, supports recompute after peel") {
    // K4 on {1,2,3,4}; spokes 1-5, 2-5 (each closes ONE triangle);
    // disjoint triangle {6,7,8} (support 1 each)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L),
      (6L, 7L), (6L, 8L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Graph.kTruss(pairs, k = 4L, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // K4 edges survive with final support 2
    for (e <- Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      assert(got(e) === ((-1L, 2L)), s"edge $e")
    // spokes had support 1 (< k-2) -> peeled round 1; triangle too
    for (e <- Seq((1L, 5L), (2L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)))
      assert(got(e) === ((1L, -1L)), s"edge $e")
    // edge 1-2's support was 3 before the peel (middles 3,4,5): the
    // survivor support of 2 proves recomputation after peeling
  }

  test("g14 kTruss: cascading peel takes a second round") {
    // triangle ladder: {1,2,3} + {2,3,4} share edge 2-3; edge 2-3 has
    // support 2, others 1. k=4: round 1 peels all support-1 edges,
    // round 2 peels 2-3 (its triangles died) -> empty truss
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val got = Graph.kTruss(pairs, k = 4L, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((2L, 3L)) === 2L)
    for (e <- Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
      assert(got(e) === 1L, s"edge $e")
  }

  test("g15 linkPrediction: square predicts both diagonals with " +
    "cn=2 and exact integer RA; path pairs fall under minCn") {
    // square 1-2-3-4-1 plus path appendix 4-5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L),
      (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Graph.linkPrediction(pairs, minCn = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // (1,3): middles 2 (deg 2) and 4 (deg 3) -> 500000 + 333333
    assert(got((1L, 3L)) === ((2L, 833333L)))
    // (2,4): middles 1 and 3, both deg 2 -> 500000 + 500000
    assert(got((2L, 4L)) === ((2L, 1000000L)))
    assert(got.size === 2)
  }

  test("r65 topPaths: slot pivot orders by (ts, event_id), short " +
    "sessions keep short paths, shares are floor-ppm of the total") {
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1, day 0: four events -> first three = A>B>C
      (1L, t(10), 1L, "A"), (2L, t(20), 1L, "B"),
      (3L, t(30), 1L, "C"), (4L, t(40), 1L, "D"),
      // user 1, day 1: single event -> path "B"
      (5L, t(86400 + 5), 1L, "B"),
      // user 2, day 0: ts tie at 10s -> event_id orders A before B
      (7L, t(10), 2L, "B"), (6L, t(10), 2L, "A")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Relational5.topPaths(ev)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("A>B>C") === ((1L, 1L, 333333L)))
    assert(got("B") === ((1L, 1L, 333333L)))
    assert(got("A>B") === ((1L, 1L, 333333L)))
    assert(got.size === 3)
  }

  test("d20 pairAgreement: summary row consistent with the two pair " +
    "sets and the exact-jaccard referee on the sf0.001 corpus") {
    import graft.queries.LlmQueries
    val docs = graft.sources.Tables.spread(
      graft.sources.Tables.documents(spark, sf))
    val lsh = Dedup.nearDupPairs(docs, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val hs = Dedup.shingleFeatures(docs)
      .select(col("doc_id"), col("hashes")).as[(Long, Seq[Long])]
      .collect().toMap.view.mapValues(_.toSet).toMap
    def isTrue(p: (Long, Long)): Boolean = {
      val (a, b) = p
      val (ha, hb) = (hs(a), hs(b))
      val i = ha.intersect(hb).size
      val u = ha.size + hb.size - i
      u > 0 && i.toDouble / u >= 0.8
    }
    val simOnlyTrue = (sim -- lsh).count(isTrue)
    val got = LlmQueries.d20PairAgreement(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    val (nLsh, nSim, nBoth, nLshOnly, nSimOnly, nSot, recall, prec) = got
    assert(nLsh === lsh.size.toLong && nSim === sim.size.toLong)
    assert(nBoth === (lsh intersect sim).size.toLong)
    assert(nLshOnly === (lsh -- sim).size.toLong)
    assert(nSimOnly === (sim -- lsh).size.toLong)
    assert(nSot === simOnlyTrue.toLong)
    if (nLsh + nSot > 0)
      assert(recall ===
        math.floor(nLsh * 1000000.0 / (nLsh + nSot)).toLong)
    if (nSim > 0)
      assert(prec ===
        math.floor((nBoth + nSot) * 1000000.0 / nSim).toLong)
  }

  test("v15 trackAssociation: argmax IoU per box, integer-key ties " +
    "break to the smallest prev ref, label must match") {
    val boxes = Seq(
      // frame 1: two label-9 boxes (ref 4 duplicates ref 1), one label-3
      ("v", 1L, 1L, 0, 0, 10, 10, 9),
      ("v", 1L, 2L, 100, 100, 110, 110, 9),
      ("v", 1L, 4L, 0, 0, 10, 10, 9),
      // frame 2
      ("v", 2L, 1L, 1, 0, 11, 10, 9),   // best vs ref1/4: iou 90/110
      ("v", 2L, 2L, 4, 0, 14, 10, 9),   // vs ref1/4: iou 60/140
      ("v", 2L, 3L, 0, 0, 10, 10, 9),   // exact dup: ties refs 1 and 4
      ("v", 2L, 5L, 0, 0, 10, 10, 3)    // label 3: no prev candidate
    ).toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
      "label_id")
    val got = graft.queries.VideoQueries.trackAssociation(boxes)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._2, r._3) -> ((r._5, r._6))).toMap
    assert(got((2L, 1L)) === ((1L, 818181L)))   // 90*1e6 div 110
    assert(got((2L, 2L)) === ((1L, 428571L)))   // 60*1e6 div 140
    assert(got((2L, 3L)) === ((1L, 1000000L)))  // tie -> smallest ref
    assert(got.size === 3)                       // label 3 unmatched
  }

  test("v16 tracklets: association chains share one id, unmatched " +
    "boxes are singleton tracklets") {
    val boxes = Seq(
      ("v", 1L, 1L, 0, 0, 10, 10, 9),
      ("v", 1L, 2L, 100, 100, 110, 110, 9),
      ("v", 1L, 4L, 0, 0, 10, 10, 9),
      ("v", 2L, 1L, 1, 0, 11, 10, 9),
      ("v", 2L, 2L, 4, 0, 14, 10, 9),
      ("v", 2L, 3L, 0, 0, 10, 10, 9),
      ("v", 2L, 5L, 0, 0, 10, 10, 3)
    ).toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
      "label_id")
    val got = graft.queries.VideoQueries.tracklets(boxes)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    def poly(s: String) =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    def node(f: Long, r: Long) = poly("v") * 100000000L + f * 100L + r
    // chain {f1r1, f2r1, f2r2, f2r3} -> min node = f1r1
    val chain = node(1L, 1L)
    assert(got((1L, 1L)) === chain && got((2L, 1L)) === chain &&
      got((2L, 2L)) === chain && got((2L, 3L)) === chain)
    // singletons: f1r2, f1r4 (tie lost), f2r5 (label mismatch)
    assert(got((1L, 2L)) === node(1L, 2L))
    assert(got((1L, 4L)) === node(1L, 4L))
    assert(got((2L, 5L)) === node(2L, 5L))
    assert(got.size === 7)
  }

  test("r66 decayedLeaderboard: shift-decay halves by age bucket, " +
    "rank ties break on user id") {
    def t(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-${day}%02d 12:00:00")
    val ev = Seq(
      // anchor day = 15. user 1: 8.00 on day 15 (age 0 -> x1 = 800)
      (t(15), "a", 1L, 8.0),
      // user 2: 20.00 on day 1 (age 14d -> bucket 2 -> /4 = 500)
      (t(1), "a", 2L, 20.0),
      // user 3: 12.00 on day 8 (age 7d -> bucket 1 -> /2 = 600)
      (t(8), "a", 3L, 12.0),
      // user 4: two events, 4.00 day 15 + 8.00 day 1 -> 400 + 200 = 600
      (t(15), "a", 4L, 4.0), (t(1), "a", 4L, 8.0)
    ).toDF("ts", "event_type", "user_id", "value")
    val got = Relational5.decayedLeaderboard(ev, halfLifeDays = 7,
      topK = 10)
      .as[(String, Int, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3, r._4, r._5)).toSeq === Seq(
      (1, 1L, 800L, 1L),   // 800
      (2, 3L, 600L, 1L),   // 600, user 3 < user 4 on the tie
      (3, 4L, 600L, 2L),
      (4, 2L, 500L, 1L)))
  }

  test("x66 ragCorpus: dedup survivorship, quality gate, chunking " +
    "and chunk dedup compose on a crafted corpus") {
    val passText = Seq.fill(100)("the").mkString(" ")  // q = 1.0
    val docs = Seq(
      (1L, passText, "a"),
      (2L, passText, "b"),      // exact dup of 1 -> dropped
      (3L, "zzz qqq", "a"),     // short: fails the quality gate
      (4L, "", "b")             // empty: fails closed
    ).map { case (id, tx, src) => (id, tx, src, tx.length.toLong) }
      .toDF("doc_id", "text", "source", "n_chars")
    val got = CorpusQueries.ragCorpus(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // source a: 2 docs, doc 1 kept; 100 tokens -> chunks [0,64)+[48,100)
    assert(got("a") === ((2L, 1L, 2L, 2L, 116L)))
    // source b: its copy lost survivorship, empty doc fails -> zeros
    assert(got("b") === ((2L, 0L, 0L, 0L, 0L)))
  }

  test("x66 ragCorpus: invariants hold on the sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = CorpusQueries.ragCorpus(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nd, nk, nc, nu, ut) =>
      assert(nk <= nd, src)
      assert(nu <= nc, src)
      assert(ut <= 64L * nu, src)
      assert((nk == 0L) == (nc == 0L) || nk > 0L, src)
    }
    assert(rows.map(_._3).sum > 0)   // something survives overall
  }

  test("r67 weekOverWeek: guarded first week, floor-ppm change " +
    "floors toward -inf on down weeks") {
    def t(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-${day}%02d 12:00:00")
    // ISO weeks: Mar 4, Mar 11, Mar 18 2024 are consecutive Mondays
    val ev = Seq(
      (t(4), "a", 1.0), (t(11), "a", 1.5), (t(18), "a", 0.7)
    ).toDF("ts", "event_type", "value")
    val got = Relational5.weekOverWeek(ev)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
      .map(r => (r._3, r._4, r._5))
    assert(got.toSeq === Seq(
      (100L, 0L, 0L),            // first week: guard
      (150L, 100L, 500000L),     // +50%
      (70L, 150L, -533334L)))    // floor(-80e6/150) = -533334
  }

  test("r68 abcClassification: boundary shares land in A/B/C " +
    "exactly, ranks tie-break on part key") {
    val li = Seq(
      (101L, 0.70), (102L, 0.20), (103L, 0.10)
    ).toDF("l_partkey", "l_extendedprice")
    val got = graft.queries.Relational5.abcClassification(li)
      .as[(Long, Int, Long, Long, String)].collect().sortBy(_._2)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq === Seq(
      (101L, 1, 70L, 70L, "A"),    // 700 <= 700: the A boundary
      (102L, 2, 20L, 90L, "B"),    // 900 <= 900: the B boundary
      (103L, 3, 10L, 100L, "C")))
  }

  test("r69 rfm: distinct metrics map to clean quintiles and the " +
    "concatenated segment label") {
    def t(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-04-${day}%02d 10:00:00")
    val orders = (1 to 5).flatMap { k =>
      (1 to k).map(i => (100L * k + i, k.toLong, t(k), k * 10.0))
    }.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = Relational5.rfm(orders)
      .as[(Long, Long, Long, Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._5, r._6, r._7, r._8))).toMap
    assert(got(5L) === ((1, 1, 1, "111")))   // newest, most, richest
    assert(got(1L) === ((5, 5, 5, "555")))
    assert(got(3L) === ((3, 3, 3, "333")))
  }

  test("r70 expectations: clean rules pass, seeded defects are " +
    "counted not thrown") {
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-05-${day}%02d 10:00:00")
    val li = Seq((1L, 5.0, 0.05), (2L, 99.0, 0.05), (3L, 10.0, 0.5))
      .toDF("l_orderkey", "l_quantity", "l_discount")
    val orders = Seq((10L, 1L, ts(1), 50.0), (11L, 7L, ts(2), 60.0),
      (11L, 1L, ts(3), -5.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Seq((1L, -10.0, "AUTO"), (2L, 5.0, ""))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val ev = Seq(("a", ts(1), 0.0), ("a", ts(2), 3.0))
      .toDF("event_type", "ts", "value")
    val got = Relational5.expectations(li, orders, cust, ev)
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("lineitem.l_quantity in [1,50]") === ((3L, 1L, false)))
    assert(got("lineitem.l_discount in [0,0.1]") === ((3L, 1L, false)))
    assert(got("orders.o_totalprice positive") === ((3L, 1L, false)))
    assert(got("customer.c_acctbal non-negative") === ((2L, 1L, false)))
    assert(got("customer.c_mktsegment present") === ((2L, 1L, false)))
    assert(got("events.value positive") === ((2L, 1L, false)))
    assert(got("orders.o_custkey references customer") ===
      ((3L, 1L, false)))    // custkey 7 is an orphan
    assert(got("orders.o_orderkey unique") === ((3L, 1L, false)))
    assert(got.size === 8)
  }

  test("d19 prefixFilterPairs: equals the all-pairs brute force on " +
    "crafted docs including an exact-threshold pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // shares exactly 7 of doc 1's 10 tokens and nothing else: j = 0.7
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "unrelated words entirely different here"),
      (5L, "alpha beta"),
      (6L, "")).toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(docs)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSet
    val sets = Seq(1L, 2L, 3L, 4L, 5L)
      .zip(Seq(1, 2, 3, 4, 5).map(i =>
        toks(Seq("alpha beta gamma delta epsilon zeta eta theta iota kappa",
          "alpha beta gamma delta epsilon zeta eta",
          "alpha beta gamma delta epsilon zeta eta theta iota kappa",
          "unrelated words entirely different here",
          "alpha beta")(i - 1)))).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size
      u = sets(a).union(sets(b)).size
      if i * 10 >= u * 7
    } yield (a, b) -> (i.toDouble / u)).toMap
    assert(got.keySet === brute.keySet)
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) === 0.7)      // the boundary pair survives
    assert(got((1L, 3L)) === 1.0)
    brute.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-6) }
  }

  test("r63 autocorr: linear series gives acf 1.0, constant and " +
    "single-pair series guard to 0.0") {
    val rows = scala.collection.mutable.ArrayBuffer[(java.sql.Timestamp, String, Double)]()
    for (d <- 1 to 8; k <- 1 to d)   // type "a": day d has d events
      rows += ((java.sql.Timestamp.valueOf(f"2024-01-0$d 12:00:00"), "a", 1.0))
    for (d <- 1 to 8)                 // type "b": constant 1/day
      rows += ((java.sql.Timestamp.valueOf(f"2024-01-0$d 12:00:00"), "b", 1.0))
    val ev = rows.toSeq.toDF("ts", "event_type", "value")
    val got = Relational5.autocorr(ev, Seq(1, 7))
      .as[(String, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("a", 1)) === ((7L, 1.0)))   // linear -> perfect lag-1
    assert(got(("a", 7)) === ((1L, 0.0)))   // one pair -> zero variance
    assert(got(("b", 1)) === ((7L, 0.0)))   // constant -> guard
    assert(got(("b", 7)) === ((1L, 0.0)))
  }

  test("r64 cusumChangepoint: level shift lands on the last day of " +
    "the old level with the scaled integer peak") {
    // cents/day: 1000,1000,1000,5000,5000 -> n*x-S deltas with n=5,
    // S=13000: -8k,-8k,-8k,+12k,+12k -> cusum peak |−24000| at day 3
    val rows = (1 to 5).map { d =>
      (java.sql.Timestamp.valueOf(f"2024-02-0$d 06:00:00"), "a",
        if (d <= 3) 10.0 else 50.0)
    }
    val ev = rows.toDF("ts", "event_type", "value")
    val got = Relational5.cusumChangepoint(ev)
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === 1)
    val (_, cpUs, peak, nDays) = got.head
    val day3 = java.time.LocalDate.of(2024, 2, 3)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    assert(cpUs === day3.getEpochSecond * 1000000L)
    assert(peak === -24000L && nDays === 5L)
  }

  test("g16 coPurchase: pair support counts, min-support cut, exact " +
    "integer lift") {
    val li = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 101L), (2L, 102L),
      (3L, 101L), (3L, 102L), (3L, 102L),   // dup line collapses
      (4L, 103L)).toDF("l_orderkey", "l_partkey")
    val got = graft.queries.GraphQueries.coPurchase(li)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length === 1)                 // only (101,102) has >= 2
    val (a, b, nBoth, nA, nB, lift) = got.head
    assert((a, b, nBoth, nA, nB) === ((101L, 102L, 3L, 3L, 3L)))
    assert(lift === 1333333L)                // floor(3e6 * 4 / 9)
  }

  test("d19 prefixFilterPairs: equals all-pairs brute force on the " +
    "sf0.001 documents corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Dedup.prefixFilterPairs(docs)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    val sets = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect()
      .map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet }
      .filter(_._2.nonEmpty)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = sa.intersect(sb).size
      u = sa.union(sb).size
      if i * 10 >= u * 7
    } yield (a, b)).toSet
    assert(got === brute)
  }

  test("r61 intervalCoverage: randomized cross-check against " +
    "in-test interval merging (seed 67)") {
    val rnd = new scala.util.Random(67)
    val rows = (1 to 120).map { _ =>
      val key = "k" + rnd.nextInt(3)
      val s = rnd.nextInt(1000).toLong
      val d = rnd.nextInt(80).toLong
      (key, s, d)
    }
    val got = Relational5.intervalCoverage(
      rows.toDF("event_type", "s_us", "dur_us"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    rows.groupBy(_._1).foreach { case (key, xs) =>
      val ivs = xs.map(x => (x._2, x._2 + x._3)).filter(p => p._2 > p._1)
        .sortBy(identity)
      var segs = List.empty[(Long, Long)]
      ivs.foreach { case (s, e) =>
        segs match {
          case (ps, pe) :: rest if s <= pe =>
            segs = (ps, math.max(pe, e)) :: rest
          case _ => segs = (s, e) :: segs
        }
      }
      val expectedCovered = segs.map(p => p._2 - p._1).sum
      val allS = xs.map(_._2); val allE = xs.map(x => x._2 + x._3)
      assert(got(key)._1 === expectedCovered, key)
      assert(got(key)._2 === xs.size.toLong, key)
      assert(got(key)._3 === allE.max - allS.min, key)
    }
  }

  test("r62 skyline: randomized cross-check against brute-force " +
    "dominance (seed 68)") {
    val rnd = new scala.util.Random(68)
    val rows = (1 to 250).map { i =>
      (i.toLong, rnd.nextInt(20) + 1, (rnd.nextInt(500) + 1) * 1.0)
    }
    val got = Relational5.skyline(
      rows.toDF("p_partkey", "p_size", "p_retailprice"))
      .as[(Long, Int, Double)].collect().map(_._1).toSet
    val brute = rows.filter { case (_, sz, pr) =>
      !rows.exists { case (_, sz2, pr2) =>
        sz2 <= sz && pr2 >= pr && (sz2 < sz || pr2 > pr) }
    }.map(_._1).toSet
    assert(got === brute && brute.nonEmpty)
  }

  test("g14 kTruss: randomized cross-check against an in-test " +
    "peeling simulation (seed 69)") {
    val rnd = new scala.util.Random(69)
    val edges = (1 to 60).map { _ =>
      val a = rnd.nextInt(14).toLong; val b = rnd.nextInt(14).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val got = Graph.kTruss(edges.toDF("doc_a", "doc_b"), k = 4L,
      rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // simulate: 3 rounds of support-count + peel, then final support
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = (es.toSeq ++ es.toSeq.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.map(e => e -> adj(e._1).intersect(adj(e._2)).size.toLong).toMap
    }
    var alive = edges.toSet
    var peeled = Map.empty[(Long, Long), Long]
    var r = 1
    while (r <= 3 && {
      val sup = support(alive)
      val out = alive.filter(e => sup(e) < 2)
      if (out.isEmpty) false
      else {
        peeled ++= out.map(_ -> r.toLong); alive --= out; r += 1; true
      }
    }) ()
    val finalSup = support(alive)
    edges.foreach { e =>
      if (alive(e)) assert(got(e) === ((-1L, finalSup(e))), e)
      else assert(got(e) === ((peeled(e), -1L)), e)
    }
    assert(got.size === edges.size)
  }

  test("g15 linkPrediction: randomized cross-check against " +
    "brute-force common-neighbor scoring (seed 70)") {
    val rnd = new scala.util.Random(70)
    val edges = (1 to 50).map { _ =>
      val a = rnd.nextInt(12).toLong; val b = rnd.nextInt(12).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val got = Graph.linkPrediction(edges.toDF("doc_a", "doc_b"),
      minCn = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet.toSeq.sorted
    val brute = (for {
      x <- nodes; y <- nodes
      if x < y && !edges.contains((x, y))
      common = adj(x).intersect(adj(y))
      if common.size >= 2
    } yield (x, y) ->
      ((common.size.toLong, common.toSeq.map(z => 1000000L / adj(z).size).sum))
    ).toMap
    assert(got === brute && brute.nonEmpty)
  }

  test("m26 palette: contiguous ranks, non-increasing counts, " +
    "counts bounded by the image's pixel budget") {
    val got = graft.queries.LlmQueries.m26Palette(spark, sf)
      .as[(Long, Int, Long, Long)].collect().groupBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.size).toSeq, id)
      assert(sorted.map(_._4).toSeq ===
        sorted.map(_._4).toSeq.sorted(Ordering[Long].reverse), id)
      val w = 8 + id % 13; val h = 8 + id % 7
      assert(sorted.map(_._4).sum <= w * h, id)
      sorted.foreach { r =>
        assert(r._3 >= 0L && r._3 < 4096L, id) }
    }
  }

  test("r71 gini: equal spend gives 0, hand-checked unequal case, " +
    "ties rank-stable") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-06-0$d 10:00:00")
    val eq = Seq((1L, 1L, t(1), 10.0), (2L, 2L, t(1), 10.0),
      (3L, 3L, t(1), 10.0), (4L, 3L, t(2), 0.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    // the decimal(38,0) moments stay internal; the emitted surface
    // is (n, s, gini_ppm) — all BIGINT, hash-stable across engines.
    val g0 = Relational5.gini(eq)
      .as[(Long, Long, Long)].collect().head
    assert(g0._3 === 0L)  // 3 equal customers
    // spends 0, 0, 100 -> G = (2*300 - 4*100) / 300 = 200/300
    // -> ppm = floor(200e6 / 300) = 666666
    val uneq = Seq((1L, 1L, t(1), 0.0), (2L, 2L, t(1), 0.0),
      (3L, 3L, t(1), 1.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val g1 = Relational5.gini(uneq)
      .as[(Long, Long, Long)].collect().head
    assert(g1._1 === 3L && g1._2 === 100L)
    assert(g1._3 === 666666L)
  }

  test("r63 squared moments survive ~1e9-events/day series (decimal escalation)") {
    // two event types, 12 dense days each, counts around 1.2e9: the
    // x*y products are ~1.4e18 and a LONG sum would wrap (throw under
    // ANSI) by day 10 — the decimal(38,0) moments must instead yield
    // the exact Pearson value.
    val day = 86400000000L
    val rows = for {
      t <- Seq("a", "b"); d <- 0 until 12
    } yield (t, d * day,
      if (t == "a") 1200000000L + d.toLong * 7000000L // rising trend
      else 1200000000L + (if (d % 2 == 0) 90000000L else -90000000L))
    val daily = rows.toDF("event_type", "day_us", "x")
    val out = Relational5.autocorrDaily(daily, Seq(1))
      .as[(String, Int, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // exact reference via BigDecimal moments
    def acf(xs: Seq[Long]): Double = {
      val pairs = xs.zip(xs.drop(1)).map { case (x, y) => (BigInt(x), BigInt(y)) }
      val n = BigInt(pairs.length)
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sx2 = pairs.map(p => p._1 * p._1).sum
      val sy2 = pairs.map(p => p._2 * p._2).sum
      val num = (n * sxy - sx * sy).toDouble
      val den = (n * sx2 - sx * sx).toDouble * (n * sy2 - sy * sy).toDouble
      if (den == 0.0) 0.0
      else BigDecimal(num / math.sqrt(den))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val xa = rows.filter(_._1 == "a").map(_._3)
    val xb = rows.filter(_._1 == "b").map(_._3)
    assert(out("a")._3 === 11L && out("b")._3 === 11L)
    assert(out("a")._4 === acf(xa))   // strong positive (trend)
    assert(out("b")._4 === acf(xb))   // strong negative (alternation)
    assert(out("a")._4 > 0.9 && out("b")._4 < -0.9)
  }

  test("reliable snapshots: an iterative peel runs both ways to the same result") {
    // g8's k-core peel, g14's k-truss peel and both CC loops pin every
    // round with Engine.snapshot and read their convergence signal
    // from the pin's observed metrics. Default = localCheckpoint; the
    // reliableSnapshots switch persists each round as parquet and
    // reads it back — same rows either way, so the observation fires
    // on the parquet write too.
    import graft.operators.Components
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),       // triangle: survives k=2
      (3L, 4L), (4L, 5L),                 // chain: peels off
      (6L, 7L))                           // pendant pair: peels round 1
      .toDF("doc_a", "doc_b")
    val ab = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[org.apache.spark.sql.Row] =
      df.collect().toSet
    def run(): Seq[Set[org.apache.spark.sql.Row]] = Seq(
      rows(Graph.kCorePeel(pairs, k = 2L, rounds = 10)),
      rows(Graph.kTruss(pairs, k = 3L, rounds = 10)),
      rows(Components.connectedComponents(ab)),
      rows(Components.connectedComponentsTwoPhase(ab)))
    val local = run()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap-spec").toString
    spark.conf.set("spark.graft.reliableSnapshots", "true")
    spark.conf.set("spark.graft.snapshotDir", dir)
    try {
      val reliable = run()
      assert(reliable === local)
      // the switch actually wrote persisted snapshots
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      spark.conf.set("spark.graft.reliableSnapshots", "false")
      spark.conf.unset("spark.graft.snapshotDir")
    }
    val Seq(core, truss, cc, cc2) = local
    assert(core.exists(_.getLong(1) == -1L))   // triangle survives
    assert(core.exists(_.getLong(1) > 0L))     // something peeled
    assert(truss.count(_.getLong(2) == -1L) === 3) // the triangle's edges
    assert(cc === cc2 && cc.size === 7)
  }

  test("mp4: mux/index roundtrip, multi-NAL walk, loud corruption failures") {
    import graft.operators.Codecs
    val samples = Seq(
      Seq(Array.fill[Byte](10)(1)),                          // 1 NAL
      Seq(Array.fill[Byte](20)(2), Array.fill[Byte](15)(3)), // 2 NALs
      Seq(Array.fill[Byte](5)(4)))
    val mp4 = Codecs.Mp4.mux(samples, keyframes = Seq(1, 3),
      timescale = 1000, sampleDelta = 40, width = 32, height = 16,
      nalLenSize = 2)
    val ix = Codecs.Mp4.index(mp4)
    assert(ix.n_samples === 3 && ix.n_keyframes === 2 && ix.n_nals === 4)
    assert(ix.sample_bytes === (10 + 2) + (20 + 2 + 15 + 2) + (5 + 2))
    assert(ix.max_sample_bytes === 39)
    assert(ix.timescale === 1000L && ix.duration === 120L)
    assert(ix.nal_len_size === 2 && ix.avc_profile === 66)
    assert(ix.width === 32 && ix.height === 16)
    // truncation mid-box fails the walk loudly
    intercept[Exception] { Codecs.Mp4.index(mp4.take(mp4.length - 10)) }
    // a lying NAL length prefix fails the mdat walk loudly:
    // first sample's 2-byte prefix sits right after ftyp(24B)+mdat hdr(8B)
    val bad = mp4.clone()
    bad(32) = 0x7f.toByte
    intercept[Exception] { Codecs.Mp4.index(bad) }
  }

  test("s32 top PC: planted dominant axis recovered, variance share ~1") {
    import graft.operators.Similarity
    // 40 vectors along +/- axis 5 with amplitude ramp, tiny fixed
    // off-axis bleed on dim 12 — the scatter is overwhelmingly axis 5
    val vecs = (0 until 40).map { i =>
      val a = Array.fill(64)(0.0f)
      a(5) = (if (i % 2 == 0) 1.0f else -1.0f) * (0.3f + 0.01f * i)
      a(12) = 0.02f * (i % 3)
      (i.toLong, a)
    }.toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalComponent(vecs, dim = 64, iters = 2)
      .as[(Int, Long, Long)].collect()
    assert(out.length === 64)
    val byDim = out.map(r => r._1 -> r._2).toMap
    val top = byDim.maxBy { case (_, l) => math.abs(l) }
    assert(top._1 === 5, s"dominant dim ${top._1}, want 5")
    assert(math.abs(top._2) === 1000000L)  // normalized to max-abs 1e6
    // everything off the planted axes is exactly 0 on the lattice
    (0 until 64).filterNot(d => d == 5 || d == 12).foreach { d =>
      assert(math.abs(byDim(d)) < 5000, s"dim $d loading ${byDim(d)}") }
    val share = out.head._3
    assert(share > 950000L && share <= 1000000L,
      s"variance share $share should be ~1e6")
    // determinism: a second run is bit-identical
    val again = Similarity.topPrincipalComponent(vecs, dim = 64, iters = 2)
      .as[(Int, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("r72 touch credit: competing touch types, lookback, and (none) fixture") {
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-06-10 $h%02d:00:00")
    def td(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-06-$d%02d $h%02d:00:00")
    val ev = Seq(
      // user 1: click then LATER view -> view wins the credit
      (1L, 1L, t(1), "click", 0.0), (2L, 1L, t(2), "view", 0.0),
      (3L, 1L, t(3), "purchase", 10.0),
      // user 2: view then later click -> click wins
      (4L, 2L, t(1), "view", 0.0), (5L, 2L, t(2), "click", 0.0),
      (6L, 2L, t(3), "purchase", 20.0),
      // user 3: touch 8 days before the purchase -> out of lookback
      (7L, 3L, td(1, 1), "click", 0.0),
      (8L, 3L, td(9, 2), "purchase", 40.0),
      // user 4: purchase with no prior touch at all
      (9L, 4L, t(1), "purchase", 80.0),
      // an error event must never take credit
      (10L, 2L, t(2), "error", 0.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val got = Relational5.lastTouchAttribution(ev,
        touchTypes = Seq("click", "view"), convType = "purchase",
        lookbackUs = 604800000000L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("view") === (("view", 1L, 1000L)))
    assert(got("click") === (("click", 1L, 2000L)))
    assert(got("(none)") === (("(none)", 2L, 12000L)))
  }

  test("x67 bpeTrain: three hand-computed merge rounds, lexicographic " +
    "ties, cross-round dependence, and the aa-run fold") {
    // vocab: thee x2, the x1, than x1, thaw x1
    // round 1: (t,h) count 5 wins
    // round 2: (th,e) 3 beats (e,e) 2 and (th,a) 2
    // round 3: (the,e) 2 ties (th,a) 2 -> 'th' < 'the' lexicographic
    val docs = Seq((1L, "thee thee the"), (2L, "than thaw"))
      .toDF("doc_id", "text")
    val got = CorpusQueries.bpeTrain(docs, rounds = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1, "t", "h", 5L), (2, "th", "e", 3L), (3, "th", "a", 2L)))
    // run-parity fold: 'aaaa' under (a,a) merges disjointly -> the
    // round-2 best pair is (aa,aa), proving round 1 produced [aa,aa]
    val runs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val got2 = CorpusQueries.bpeTrain(runs, rounds = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(got2 === Array((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
  }

  test("r73 Theil-Sen: outlier day cannot drag the median slope") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-06-$d%02d 10:00:00")
    // type "a": steady +10 cents/day for 3 days, then a 1000-cent
    // blowout day: 5 of 6 pairwise slopes stay near 10
    val ev = Seq(
      (1L, t(1), 1L, "a", 0.00), (2L, t(2), 1L, "a", 0.10),
      (3L, t(3), 1L, "a", 0.20), (4L, t(4), 1L, "a", 10.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Relational5.theilSen(ev)
      .as[(String, Long, Long)].collect()
    assert(got.length === 1)
    val (_, n, slope) = got.head
    assert(n === 6L)
    // slopes sorted: 10,10,10,333.33,495,980 -> lower median = 10
    assert(slope === 10000000L, s"median slope ppm $slope")
  }

  test("r74 chi2: hand-computed 2x2 contingency gives exactly 20.0") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-06-$d%02d 10:00:00")
    // A: 30/10 across two weekdays, B: 10/30 -> every expected cell
    // is 20, chi2 = 4 * (10^2/20) = 20 exactly (micro = 20e6)
    val rows =
      (1 to 30).map(i => (i.toLong, t(10), 1L, "A", 0.0)) ++
      (31 to 40).map(i => (i.toLong, t(11), 1L, "A", 0.0)) ++
      (41 to 50).map(i => (i.toLong, t(10), 1L, "B", 0.0)) ++
      (51 to 80).map(i => (i.toLong, t(11), 1L, "B", 0.0))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Relational5.chiSquareDow(ev)
      .as[(Long, Long, Long)].collect()
    assert(got === Array((4L, 1L, 20000000L)))
  }
}
