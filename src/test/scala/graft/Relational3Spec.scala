package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** r30 gap fill, r31 CDC compaction, m8 perceptual hash. */
class Relational3Spec extends SparkTestBase {
  import testImplicits._
  import graft.queries.Relational3

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("r30 gapFill: dense grid, forward fill across gaps, gap flags") {
    // type A: events in hours 0 and 3 of a 4-hour span; type B: hour 1
    // only. Grid = 2 types x 4 hours; gaps carry the last seen cents.
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00"), 1L, "A", 1.00, "{}"),
      (2L, ts("2024-01-01 00:40:00"), 1L, "A", 2.00, "{}"),
      (3L, ts("2024-01-01 03:05:00"), 2L, "A", 5.00, "{}"),
      (4L, ts("2024-01-01 01:30:00"), 3L, "B", 7.50, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.gapFillHourly(ev)
      .select("event_type", "hour_us", "n_events", "cents",
        "filled_cents", "is_gap")
      .as[(String, Long, Long, Long, Long, Boolean)]
      .collect().sortBy(r => (r._1, r._2))
    assert(got.length === 8) // 2 types x 4 hours
    val a = got.filter(_._1 == "A")
    assert(a.map(_._3).toSeq === Seq(2L, 0L, 0L, 1L)) // counts per hour
    assert(a.map(_._4).toSeq === Seq(300L, 0L, 0L, 500L)) // cents
    assert(a.map(_._5).toSeq === Seq(300L, 300L, 300L, 500L)) // fill
    assert(a.map(_._6).toSeq === Seq(false, true, true, false))
    val b = got.filter(_._1 == "B")
    // B's hour-0 precedes its first event: filled stays 0 (coalesced)
    assert(b.map(_._5).toSeq === Seq(0L, 750L, 750L, 750L))
    assert(b.map(_._3).toSeq === Seq(0L, 1L, 0L, 0L))
  }

  test("r31 compactLog: latest wins, ties break by event_id, " +
    "tombstoned users dropped") {
    val ev = Seq(
      // user 1: two updates, latest (by ts) is purchase @200
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.00, "{}"),
      (2L, ts("2024-01-01 02:00:00"), 1L, "purchase", 2.00, "{}"),
      // user 2: latest change is an error -> tombstone, dropped
      (3L, ts("2024-01-01 00:00:00"), 2L, "view", 3.00, "{}"),
      (4L, ts("2024-01-01 05:00:00"), 2L, "error", 4.00, "{}"),
      // user 3: exact-timestamp tie -> higher event_id wins
      (5L, ts("2024-01-01 01:00:00"), 3L, "view", 5.00, "{}"),
      (6L, ts("2024-01-01 01:00:00"), 3L, "click", 6.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.compactLog(ev)
      .select("user_id", "last_type", "last_event", "last_cents",
        "n_changes")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(1L, 3L)) // user 2 tombstoned
    assert(got(0) === ((1L, "purchase", 2L, 200L, 2L)))
    assert(got(1) === ((3L, "click", 6L, 600L, 2L)))
  }

  test("m8: perturbed odd docs group with their clean twins") {
    import graft.queries.MediaQueries
    val got = MediaQueries.m8PerceptualHash(spark, sf)
      .select("phash", "n_images", "n_perturbed")
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._1.length == 64))
    assert(got.forall(r => r._1.forall(c => c == '0' || c == '1')))
    // at least one group mixes clean and perturbed members — the
    // perceptual grouping byte-identity dedup cannot produce
    assert(got.exists(r => r._3 > 0 && r._3 < r._2))
    // aHash always has both 0 and 1 bits (some sample above the
    // mean, some below) except for perfectly flat images
    assert(got.forall(r => r._1.contains('1')))
  }

  test("s17: incrementally appended index serves the full-corpus search") {
    import graft.queries.LlmQueries
    val incr = LlmQueries.s17IndexUpdate(spark, sf)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    val full = LlmQueries.s8IvfPq(spark, sf)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(incr === full)
    assert(incr.nonEmpty)
  }

  test("r32: date filter reaches the orders scan, dims broadcast") {
    import graft.queries.Relational3
    val df = Relational3.r32LocalSupplier(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_orderdate"), "date window must reach the scan")
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    val rows = df.select("r_name", "n_name", "revenue", "n_items")
      .as[(String, String, Double, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 > 0.0 && r._4 > 0L))
  }

  test("x30 zipf: hand-checked ranks and cumulative shares") {
    import graft.queries.CorpusQueries
    // 10 tokens total: a x4, b x3, c x2, d x1
    val docs = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = CorpusQueries.zipfProfile(docs, topK = 3)
      .select("term", "rank", "freq", "share", "cum_share")
      .as[(String, Int, Long, Double, Double)].collect().sortBy(_._2)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ===
      Seq(("a", 1, 4L), ("b", 2, 3L), ("c", 3, 2L)))
    assert(got.map(_._4).toSeq === Seq(0.4, 0.3, 0.2))
    assert(got.map(_._5).toSeq === Seq(0.4, 0.7, 0.9))
  }

  test("r33 funnel: ordering constraint enforced, sentinels for misses") {
    import graft.queries.Relational3
    val ev = Seq(
      // user 1 completes in order
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 01:00:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 02:00:00"), 1L, "purchase", 0.0, "{}"),
      // user 2: click BEFORE first view -> stops at view
      (4L, ts("2024-01-01 00:30:00"), 2L, "click", 0.0, "{}"),
      (5L, ts("2024-01-01 01:30:00"), 2L, "view", 0.0, "{}"),
      (6L, ts("2024-01-01 02:30:00"), 2L, "purchase", 0.0, "{}"),
      // user 3: purchase before click-after-view -> stops at click
      (7L, ts("2024-01-01 00:00:00"), 3L, "view", 0.0, "{}"),
      (8L, ts("2024-01-01 00:10:00"), 3L, "purchase", 0.0, "{}"),
      (9L, ts("2024-01-01 00:20:00"), 3L, "click", 0.0, "{}"),
      // user 4: never views
      (10L, ts("2024-01-01 00:00:00"), 4L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.funnel(ev)
      .select("user_id", "reached", "t_click_us", "t_purchase_us")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => r._1 -> r._2).toSeq ===
      Seq(1L -> "purchase", 2L -> "view", 3L -> "click", 4L -> "none"))
    assert(got(1)._3 === -1L) // user 2's early click doesn't count
    assert(got(2)._4 === -1L) // user 3's early purchase doesn't count
  }

  test("r34 cohort: offsets are whole weeks from first-seen week") {
    import graft.queries.Relational3
    val ev = Seq(
      // user 1 first seen week of Jan 1 (Mon), back 2 weeks later
      (1L, ts("2024-01-02 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-16 10:00:00"), 1L, "view", 0.0, "{}"),
      // user 2 same cohort week, only week 0 (two events, one week)
      (3L, ts("2024-01-03 10:00:00"), 2L, "view", 0.0, "{}"),
      (4L, ts("2024-01-04 10:00:00"), 2L, "view", 0.0, "{}"),
      // user 3 later cohort
      (5L, ts("2024-01-10 10:00:00"), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.cohortRetention(ev)
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    val w1 = ts("2024-01-01 00:00:00").getTime * 1000L
    val w2 = ts("2024-01-08 00:00:00").getTime * 1000L
    assert(got === Map((w1, 0L) -> 2L, (w1, 2L) -> 1L, (w2, 0L) -> 1L))
  }

  test("m9: scene diffs match a direct pixel-formula fold") {
    import graft.queries.MediaQueries
    val got = MediaQueries.m9SceneCuts(spark, sf)
      .select("doc_id", "frame_idx", "diff", "is_cut")
      .as[(Long, Int, Long, Boolean)].collect()
    assert(got.nonEmpty)
    // reference fold straight from the palette formula (no codec)
    got.take(50).foreach { case (id, f, diff, cut) =>
      val w = (6 + id % 9).toInt; val h = (6 + id % 5).toInt
      var exp = 0L
      (0 until w * h).foreach { p =>
        val ia = ((id * 7 + (f - 1) * 31 + p * 13) % 256).toInt
        val ib = ((id * 7 + f * 31 + p * 13) % 256).toInt
        exp += math.abs(ia - ib) + math.abs(ia * 37 % 256 - ib * 37 % 256) +
          math.abs(ia * 91 % 256 - ib * 91 % 256)
      }
      assert(diff === exp, s"doc $id frame $f")
      assert(cut === (diff * 4 > w.toLong * h * 3 * 255))
    }
    // single-frame docs (id % 4 == 0) emit no transitions
    assert(!got.exists(_._1 % 4 == 0))
  }

  test("r35 streaks: islands split on day gaps, stats hand-checked") {
    import graft.queries.Relational3
    val ev = Seq(
      // user 1: days 1,2,3 then 5,6 -> streaks of 3 and 2
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 23:59:59"), 1L, "view", 0.0, "{}"),
      (3L, ts("2024-01-02 00:00:01"), 1L, "view", 0.0, "{}"),
      (4L, ts("2024-01-03 12:00:00"), 1L, "view", 0.0, "{}"),
      (5L, ts("2024-01-05 12:00:00"), 1L, "view", 0.0, "{}"),
      (6L, ts("2024-01-06 12:00:00"), 1L, "view", 0.0, "{}"),
      // user 2: one day only
      (7L, ts("2024-01-10 00:00:00"), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.streaks(ev)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // (user, n_streaks, n_active_days, longest, n_events)
    assert(got.toSeq === Seq((1L, 2L, 5L, 3L, 6L), (2L, 1L, 1L, 1L, 1L)))
  }

  test("x31 corr: perfectly linear y=2x gives r=1, slope=2; " +
    "constant column gives 0") {
    import graft.queries.CorpusQueries
    val docs = Seq(
      // lang "aa": token count is exactly n_chars/5 tokens of 4 chars
      (1L, "aaaa bbbb", "aa", "s", 10L),
      (2L, "aaaa bbbb cccc dddd", "aa", "s", 20L),
      (3L, "aaaa bbbb cccc dddd eeee ffff", "aa", "s", 30L),
      // lang "bb": constant n_chars -> d1 = 0 -> both metrics 0.0
      (4L, "x", "bb", "s", 7L),
      (5L, "y y", "bb", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("x31t").toString
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val res = graft.queries.CorpusQueries.x31CorrProfile(spark, tmp)
        .as[(String, Long, Double, Double)].collect().sortBy(_._1)
      assert(res.length === 2)
      val aa = res(0); val bb = res(1)
      assert(aa._1 === "aa" && aa._2 === 3L)
      assert(aa._3 === 1.0)   // tokens grow perfectly linearly with chars
      assert(aa._4 === 0.2)   // 2 tokens per 10 chars
      assert(bb._3 === 0.0 && bb._4 === 0.0) // degenerate guard
    } finally TmpPaths.deleteRecursively(new java.io.File(tmp))
  }

  test("r36 bucketed join: no Exchange feeds the join; result matches " +
    "the plain join") {
    import graft.queries.Relational3
    val dir = sf
    // with broadcast off, only bucketing can avoid the join shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational3.r36BucketedJoin(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
      // no shuffle anywhere below the join (the aggregate above it
      // may exchange its |segments| rows)
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      val got = df.as[(String, Long, Long)].collect().toSet
      val plain = graft.sources.Tables.orders(spark, dir)
        .join(graft.sources.Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("c"))
        .as[(String, Long, Long)].collect().toSet
      assert(got === plain && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("r37 small quantity: integer threshold matches the 0.2*avg " +
    "definition, boundary row excluded") {
    import graft.queries.Relational3
    // part 1: quantities 1,9,10,20 -> sum=40, cnt=4, avg=10:
    //   qty < 2 qualifies only qty=1 (5*1*4=20 < 40)
    // part 2: all equal -> none qualify
    // part 3: quantities 1,9 -> avg=5, 0.2*avg=1: qty=1 sits EXACTLY
    //   on the boundary (5*1*2 = 10 = sum) and must be excluded
    //   (strict <)
    val li = Seq(
      (1L, 1.0, 10.00), (1L, 9.0, 20.00), (1L, 10.0, 30.00),
      (1L, 20.0, 40.00),
      (2L, 5.0, 11.00), (2L, 5.0, 12.00),
      (3L, 1.0, 99.00), (3L, 9.0, 7.00))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val got = Relational3.smallQuantity(li)
      .as[(Long, Long)].collect().head
    assert(got === ((1L, 1000L))) // one row, 10.00 -> 1000 cents
  }

  test("r38 scd2: intervals chain, current row flagged, ties " +
    "zero-width by event_id order") {
    import graft.queries.Relational3
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "signup", 1.00, "{}"),
      (2L, ts("2024-01-02 00:00:00"), 1L, "upgrade", 2.00, "{}"),
      (3L, ts("2024-01-03 00:00:00"), 1L, "cancel", 0.00, "{}"),
      // user 2: two changes at the SAME timestamp -> zero-width
      // interval for the lower event_id
      (4L, ts("2024-01-05 00:00:00"), 2L, "a", 1.00, "{}"),
      (5L, ts("2024-01-05 00:00:00"), 2L, "b", 2.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational3.scd2(ev)
      .select("user_id", "event_id", "valid_from_us", "valid_to_us",
        "is_current")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._2)
    // user 1: each interval closes at the next change
    assert(got(0)._4 === got(1)._3 && got(1)._4 === got(2)._3)
    assert(got(2)._4 === -1L && got(2)._5)
    assert(!got(0)._5 && !got(1)._5)
    // user 2: tie -> event 4's interval is zero-width, event 5 current
    assert(got(3)._3 === got(3)._4 && !got(3)._5)
    assert(got(4)._4 === -1L && got(4)._5)
    // exactly one current row per user
    assert(got.count(_._5) === 2)
  }

  test("x32 equi-depth: value-atomic buckets, empty buckets on " +
    "massive ties, populations sum to N") {
    val docs = (1 to 40).map(i =>
      // value 100 appears 30 times (spans 7+ bucket widths), then
      // ten distinct tail values
      (i.toLong, "t", "aa", "s", if (i <= 30) 100L else 100L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("x32t").toString
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.queries.CorpusQueries.x32EquiDepth(spark, tmp)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      // value 100: cum_before=0 -> bucket 0 holds all 30 ties
      assert(got.head === ((0L, 100L, 100L, 30L)))
      assert(got.map(_._4).sum === 40L)
      // buckets 1..6 are empty (skipped), tail values fill 7,8,9
      assert(!got.map(_._1).toSet.exists(b => b >= 1 && b <= 6))
    } finally TmpPaths.deleteRecursively(new java.io.File(tmp))
  }
}
