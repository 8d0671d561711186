package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Time-series relational surface, round 7: gap-filled regular grids
  * (r30) and change-data compaction (r31) over the `events` table —
  * the two shapes every operational store asks of an analytics
  * engine that the r10–r29 families don't cover: "give me a dense
  * hourly series even where nothing happened" and "give me the
  * current state per key from an append-only change log".
  *
  * Oracle parity rules are Relational2's: timestamps leave the plan
  * as epoch micros (BIGINT), money as integer cents, so every hash
  * is drift-free.
  */
object Relational3 {

  // ---- r30: gap-filled hourly series with forward fill -------------

  /** r30: time-series GAP FILL — per event type, the dense hourly
    * grid from the corpus' first hour to its last, each hour carrying
    * its event count and cents sum, and gap hours (no events) carry
    * the FORWARD-FILLED last observed cents sum (`last(ignoreNulls)`
    * over an unbounded-preceding ROWS frame) — the
    * observation-carried-forward contract every dashboard and
    * feature-store join expects.
    *
    * 100 TB shape: the aggregate is one partial-agg shuffle keyed by
    * (type, hour) — the raw events collapse map-side, so the exchange
    * carries at most |types|×|hours| rows no matter the event volume.
    * The dense grid is generated (sequence + explode over one
    * broadcast min/max row × the distinct-type dim), never scanned;
    * the outer join against the collapsed aggregate is dim-sized.
    * The forward fill partitions by type — one in-partition sort of
    * |hours| rows per type, the same bounded-width contract as r25
    * (a year is 8 760 rows per type regardless of data volume). */
  def gapFillHourly(eventsIn: DataFrame): DataFrame = {
    val ev = eventsIn.select(col("event_type"),
      date_trunc("hour", col("ts")).as("h"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val actual = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val hours = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("h"))
    val grid = ev.select(col("event_type")).distinct().crossJoin(hours)
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(actual, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), col("n"), col("c"),
        last(col("c"), ignoreNulls = true).over(w).as("ff"))
      .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("c"), lit(0L)).as("cents"),
        coalesce(col("ff"), lit(0L)).as("filled_cents"),
        col("n").isNull.as("is_gap"))
  }

  def r30GapFill(spark: SparkSession, dir: String): DataFrame =
    gapFillHourly(Tables.events(spark, dir))

  val r30Sql: String =
    """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT event_type, h, count(*) AS n,
      |    CAST(sum(cents) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |  FROM b),
      |g AS (SELECT event_type, h
      |  FROM (SELECT DISTINCT event_type FROM e) CROSS JOIN hrs),
      |j AS (SELECT g.event_type, g.h, a.n, a.c
      |  FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.h = a.h)
      |SELECT event_type, CAST(epoch_us(h) AS BIGINT) AS hour_us,
      |  coalesce(n, 0) AS n_events,
      |  coalesce(c, 0) AS cents,
      |  coalesce(last_value(c IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
      |    AS filled_cents,
      |  n IS NULL AS is_gap
      |FROM j""".stripMargin

  // ---- r31: change-log compaction (latest state per key) ------------

  /** r31: CDC COMPACTION — the events table read as an append-only
    * change log keyed by user: the CURRENT state per user is the
    * latest-timestamped event (event_id breaks exact-timestamp ties,
    * later id wins), and a user whose LATEST change is an `error` is
    * a tombstone — deleted from the compacted state. This is the
    * latest-wins merge every mutable-upsert table (Delta/Hudi/
    * Iceberg MERGE, Kafka compacted topic) performs, expressed as a
    * query.
    *
    * 100 TB shape: ONE shuffle keyed by user_id; row_number and the
    * per-key change count ride the same sort (a single Window
    * exchange — WindowGroupLimit prunes non-head rows before the
    * sort at scale since only rn=1 survives). The tombstone filter
    * is a residual predicate on the head row. */
  def compactLog(eventsIn: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wc = Window.partitionBy(col("user_id"))
    eventsIn
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(wc))
      .filter(col("rn") === 1 && col("event_type") =!= lit("error"))
      .select(col("user_id"), col("event_type").as("last_type"),
        unix_micros(col("ts")).as("last_ts_us"),
        col("event_id").as("last_event"),
        col("cents").as("last_cents"), col("n_changes"))
  }

  def r31CompactLog(spark: SparkSession, dir: String): DataFrame =
    compactLog(Tables.events(spark, dir))

  val r31Sql: String =
    """WITH e AS (SELECT user_id, event_type, ts, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM events)
      |SELECT user_id, event_type AS last_type,
      |  CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
      |  event_id AS last_event, cents AS last_cents, n_changes
      |FROM e WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  // ---- r32: six-table join tree (TPC-H Q5 shape) --------------------

  /** r32: the local-supplier revenue query — TPC-H Q5's six-table
    * join tree over the full star schema: lineitem ⋈ orders ⋈
    * customer ⋈ supplier (with the correlated c_nationkey =
    * s_nationkey "local supplier" predicate) ⋈ nation ⋈ region,
    * date-windowed, grouped by (region, nation). The deepest
    * declared join tree on the surface — the point is what the
    * engine does UNASKED: Catalyst orders the joins, broadcasts the
    * dims (region/nation/supplier/customer under the AQE threshold),
    * pushes the date window into the orders scan, and the only
    * big-table exchange left is lineitem ⋈ orders. The revenue
    * expression and rounding are exactly q1's (the hash-stable
    * pattern since round 1). */
  def r32LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val r32Sql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2""".stripMargin

  // ---- r33: ordered funnel analysis ---------------------------------

  /** r33: the ORDERED FUNNEL — per user, how far through
    * view → click → purchase did they get, where each stage must
    * STRICTLY FOLLOW the previous one in time (a click before the
    * first view doesn't count — the sequencing constraint that makes
    * funnels harder than three filters). Stage times are conditional
    * window minimums chained through three in-partition passes over
    * ONE user-keyed exchange: t_view = min ts of views; t_click =
    * min ts of clicks after t_view; t_purchase = min ts of purchases
    * after t_click. Only timestamps (never "which event") enter the
    * logic, so ties need no break — min over an identical set is
    * engine-independent. Missing stages emit the -1 sentinel (the
    * no-NULLs output contract).
    *
    * 100 TB shape: one shuffle keyed by user_id; the three Window
    * operators share the exchange and run as consecutive
    * in-partition passes; the final groupBy collapses per-user
    * constants without a second exchange (partial agg on
    * already-clustered keys). */
  def funnel(eventsIn: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val ev = eventsIn.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val staged = ev
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts_us") > col("t_view"), col("ts_us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("t_click"), col("ts_us"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(min(col("t_view")).as("tv"), min(col("t_click")).as("tc"),
        min(col("t_purchase")).as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, "purchase")
          .when(col("tc").isNotNull, "click")
          .when(col("tv").isNotNull, "view")
          .otherwise("none").as("reached"),
        coalesce(col("tv"), lit(-1L)).as("t_view_us"),
        coalesce(col("tc"), lit(-1L)).as("t_click_us"),
        coalesce(col("tp"), lit(-1L)).as("t_purchase_us"))
  }

  def r33Funnel(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(spark, dir))

  val r33Sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
      |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
      |    OVER (PARTITION BY user_id) AS t_view FROM e),
      |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > t_view
      |    THEN ts_us END) OVER (PARTITION BY user_id) AS t_click FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
      |      AND ts_us > t_click
      |    THEN ts_us END) OVER (PARTITION BY user_id) AS t_purchase FROM s2),
      |g AS (SELECT user_id, min(t_view) AS tv, min(t_click) AS tc,
      |    min(t_purchase) AS tp
      |  FROM s3 GROUP BY 1)
      |SELECT user_id,
      |  CASE WHEN tp IS NOT NULL THEN 'purchase'
      |    WHEN tc IS NOT NULL THEN 'click'
      |    WHEN tv IS NOT NULL THEN 'view'
      |    ELSE 'none' END AS reached,
      |  coalesce(tv, -1) AS t_view_us,
      |  coalesce(tc, -1) AS t_click_us,
      |  coalesce(tp, -1) AS t_purchase_us
      |FROM g""".stripMargin

  // ---- r34: cohort retention ----------------------------------------

  /** r34: COHORT RETENTION — users grouped by first-seen ISO week,
    * counted by how many distinct later weeks they came back
    * (the week-offset activity matrix every growth dashboard draws).
    * Week boundaries are date_trunc('week') (ISO Monday on both
    * engines) and the offset is exact integer arithmetic on epoch
    * micros (week boundaries are whole multiples apart).
    *
    * 100 TB shape: first-seen is one partial-agg groupBy on user;
    * the (user, week) activity set is a second partial agg (one row
    * per user-week on the wire); the cohort join broadcasts the
    * per-user cohort map onto the activity rows only if small —
    * here both sides stay keyed by user so it's one co-clustered
    * equi-join; the final (cohort, offset) agg is dim-sized. */
  def cohortRetention(eventsIn: DataFrame): DataFrame = {
    val ev = eventsIn.select(col("user_id"),
      unix_micros(date_trunc("week", col("ts"))).as("week_us"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("week_us")).as("cohort_us"))
    val activity = ev.select(col("user_id"), col("week_us")).distinct()
    activity.join(cohort, Seq("user_id"))
      .select(col("cohort_us"),
        expr("(week_us - cohort_us) div 604800000000").as("week_offset"))
      .groupBy(col("cohort_us"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  def r34Cohort(spark: SparkSession, dir: String): DataFrame =
    cohortRetention(Tables.events(spark, dir))

  val r34Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(date_trunc('week', ts)) AS BIGINT) AS week_us
      |  FROM events),
      |c AS (SELECT user_id, min(week_us) AS cohort_us FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, week_us FROM e)
      |SELECT cohort_us,
      |  (week_us - cohort_us) // 604800000000 AS week_offset,
      |  count(*) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---- r35: gaps-and-islands activity streaks -----------------------

  /** r35: GAPS-AND-ISLANDS — per user, consecutive-day activity
    * streaks: collapse events to active days, mark each run of
    * consecutive days with the classic `day_idx - row_number()`
    * island key (constant within a run, distinct across runs), then
    * reduce runs to per-user streak statistics. The canonical SQL
    * pattern for "longest run" questions that three aggregates alone
    * cannot express. Everything is exact integer arithmetic on epoch
    * days, so no tie-break is ever needed.
    *
    * 100 TB shape: events collapse to (user, day) in ONE partial-agg
    * shuffle — the exchange carries at most |users|×|retention days|
    * rows no matter the event volume; the island window then runs
    * per user over that bounded day list (≤ a few thousand rows per
    * user for years of retention), and the two closing aggregates
    * are partial-agg collapses of already-tiny run rows. */
  def streaks(eventsIn: DataFrame): DataFrame = {
    val days = eventsIn
      .select(col("user_id"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
          .as("day_idx"))
      .groupBy(col("user_id"), col("day_idx"))
      .agg(count(lit(1)).as("n_ev"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
    val runs = days
      .withColumn("island", col("day_idx") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), sum(col("n_ev")).as("run_ev"))
    runs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        sum(col("run_ev")).as("n_events"))
  }

  def r35Streaks(spark: SparkSession, dir: String): DataFrame =
    streaks(Tables.events(spark, dir))

  val r35Sql: String =
    """WITH d AS (SELECT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
      |    count(*) AS n_ev
      |  FROM events GROUP BY 1, 2),
      |i AS (SELECT user_id, day_idx, n_ev, day_idx - row_number()
      |    OVER (PARTITION BY user_id ORDER BY day_idx) AS island
      |  FROM d),
      |r AS (SELECT user_id, island, count(*) AS len,
      |    CAST(sum(n_ev) AS BIGINT) AS run_ev
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_streaks,
      |  CAST(sum(len) AS BIGINT) AS n_active_days,
      |  max(len) AS longest_streak,
      |  CAST(sum(run_ev) AS BIGINT) AS n_events
      |FROM r GROUP BY 1""".stripMargin

  // ---- r36: bucketed co-located join --------------------------------

  /** r36: BUCKETED co-located join — the build-once/join-many
    * lifecycle for a fact⋈dim pair both keyed by customer: write
    * both sides `bucketBy(8, custkey).sortBy(custkey)` (hash-bucket
    * layout persisted in the table catalog), then join the bucketed
    * tables. Spark's bucketing metadata proves both sides are
    * already co-partitioned on the join key, so the sort-merge join
    * needs NO Exchange on either side (spec-asserted with broadcast
    * disabled) — at 100 TB this is THE tool that turns every
    * recurring fact⋈fact join from two full shuffles into a local
    * merge, amortizing one layout write across every downstream
    * join. The aggregate after the join shuffles only
    * |segments| rows.
    *
    * The oracle restates the logical result (bucketing is a layout
    * contract, not a semantics change): revenue cents per market
    * segment over the plain join. */
  def r36BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    // the in-memory catalog is per-JVM but managed-table LOCATIONS
    // persist in the warehouse dir: drop both, then clear any stale
    // location a previous process left behind
    for (t <- Seq("graft_bkt_orders", "graft_bkt_customer")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(n, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_bkt_orders")
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(n, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_bkt_customer")
    spark.table("graft_bkt_orders")
      .join(spark.table("graft_bkt_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("revenue_cents"))
  }

  val r36Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- r37: small-quantity revenue (TPC-H Q17 shape) ----------------

  /** r37: the TPC-H Q17 shape — revenue locked in "small" line items,
    * where small means quantity under 20% of the part's own average:
    * a fact-vs-its-own-aggregate comparison (the correlated-scalar
    * pattern Catalyst decorrelates in r27, here declared directly as
    * the aggregate+join it decorrelates TO). The threshold compare is
    * kept INTEGER-exact: qty < 0.2·(sum/cnt) ⇔ 5·qty·cnt < sum — no
    * float division ever happens, so the boundary rows can't drift
    * between engines.
    *
    * 100 TB shape: the per-part aggregate is one partial-agg shuffle
    * keyed by partkey; the join back re-uses the same key, so AQE
    * plans a co-partitioned sort-merge (the aggregate side is
    * already hash-partitioned by partkey — no second shuffle of the
    * small side); the final global agg collapses to one row. */
  def smallQuantity(liIn: DataFrame): DataFrame = {
    val li = liIn.select(col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(perPart, Seq("l_partkey"))
      .filter(col("qty") * col("cnt") * 5 < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        // empty-match guard: sum over zero rows is NULL on both
        // engines; the output contract is no NULLs
        coalesce(sum(col("cents")), lit(0L)).as("revenue_cents"))
  }

  def r37SmallQuantity(spark: SparkSession, dir: String): DataFrame =
    smallQuantity(Tables.lineitem(spark, dir))

  val r37Sql: String =
    """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem),
      |p AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |    count(*) AS cnt
      |  FROM li GROUP BY 1)
      |SELECT count(*) AS n_small,
      |  coalesce(CAST(sum(cents) AS BIGINT), 0) AS revenue_cents
      |FROM li JOIN p USING (l_partkey)
      |WHERE qty * cnt * 5 < sum_qty""".stripMargin

  // ---- r38: SCD type-2 validity intervals ---------------------------

  /** r38: SLOWLY-CHANGING-DIMENSION type 2 — the change log unrolled
    * into validity intervals: each change row becomes
    * [valid_from, valid_to) where valid_to is the NEXT change's
    * timestamp for the same user (the -1 sentinel marks the current
    * version). r31 compacts the log to latest-wins state; r38 keeps
    * the full history queryable by time — the warehouse MERGE
    * pattern's second half, and the input every as-of join (r21)
    * against a dimension expects. Ordering is total per user
    * ((ts, event_id) — the r31 tie-break), so intervals are
    * deterministic; same-timestamp changes produce zero-width
    * intervals, the standard SCD-2 convention for intra-batch
    * supersession.
    *
    * 100 TB shape: ONE shuffle keyed by user; lead() and is_current
    * share the single in-partition sort. */
  def scd2(eventsIn: DataFrame): DataFrame =
    scd2Quantized(eventsIn.select(col("user_id"), col("event_id"),
      col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents")))

  /** the r38 interval unroll over ALREADY-QUANTIZED change rows
    * (user_id, event_id, event_type, ts_us, cents) — shared with the
    * r54 incremental apply, whose replay rows come from persisted
    * intervals rather than raw events. */
  def scd2Quantized(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    ev.select(col("user_id"), col("event_id"),
      col("ts_us").as("valid_from_us"),
      coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)).as("valid_to_us"),
      lead(col("ts_us"), 1).over(w).isNull.as("is_current"),
      col("event_type"), col("cents"))
  }

  def r38Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables.events(spark, dir))

  val r38Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_id, event_id, ts_us AS valid_from_us,
      |  coalesce(lead(ts_us) OVER w, -1) AS valid_to_us,
      |  lead(ts_us) OVER w IS NULL AS is_current,
      |  event_type, cents
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  // ---- r39: shipping-priority top-10 (TPC-H Q3 shape) --------------

  /** r39: the Q3 SHAPE — unshipped-revenue top-10 for one market
    * segment: customer⋈orders⋈lineitem with disjoint date predicates
    * on BOTH fact tables (orders before the cutoff, line items
    * shipped after it), revenue agg keyed by order, then a global
    * top-10. The segment filter prunes the customer build side
    * before the join; both date predicates push to their scans
    * (PushedFilters), so the join touches only the candidate window.
    * The top-10 is TakeOrderedAndProject — per-partition heaps + one
    * 10-row driver merge, never a global sort. o_orderpriority
    * stands in for the spec's o_shippriority (not in this schema). */
  def r39ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = "1999-06-30"
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit(cut))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit(cut))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate_us"),
        col("o_orderpriority"))
  }

  val r39Sql: String =
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
      |  o_orderpriority
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-06-30'
      |  AND l_shipdate > TIMESTAMP '1999-06-30'
      |GROUP BY 1, 3, 4
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- r40: bilateral volume shipping (TPC-H Q7 shape) -------------

  /** r40: the Q7 SHAPE — annual trade volume between two specific
    * nations, in both directions: the nation table joins TWICE under
    * different roles (supplier's nation, customer's nation), with the
    * bilateral-pair predicate across both roles and a per-year
    * breakdown. Both nation sides broadcast (25 rows); the pair
    * predicate survives as a post-join filter over the two broadcast
    * dimensions, so the only exchange is the final (nation, nation,
    * year) partial agg. Year extraction happens once in the
    * projection, not per aggregate row. */
  def r40VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val r40Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3""".stripMargin

  // ---- r41: large-order customers (TPC-H Q18 shape) ----------------

  /** r41: the Q18 SHAPE — customers whose single orders exceed a
    * quantity threshold: the HAVING-subquery membership test
    * declared directly as its decorrelated form (aggregate lineitem
    * per order, filter, join back — the plan Catalyst rewrites
    * Q18's IN-subquery to). The per-order aggregate partial-aggs
    * map-side before its one keyed shuffle; the filtered big-order
    * set is tiny, so both the orders and customer joins broadcast
    * it; the top-100 is TakeOrderedAndProject. sum(l_quantity) is a
    * sum of integer-valued doubles — exact and order-independent,
    * safe under the cross-engine hash. */
  def r41LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val r41Sql: String =
    """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
      |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
      |SELECT c_name, c_custkey, o_orderkey,
      |  CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
      |  o_totalprice, total_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---- r42: dormant high-balance customers (TPC-H Q22 shape) -------

  /** r42: the Q22 SHAPE — high-balance customers with NO recent
    * orders, grouped by country code: a scalar-subquery threshold
    * (balance above the positive-balance average of the selected
    * codes) plus an ANTI join against recent orders. Q22's "no
    * orders at all" set is empty in this corpus, so the anti-join
    * probes orders after a cutoff — the dormancy variant, same plan
    * shape. The average is never compared as a float: balances
    * quantize to integer cents at the scan and the threshold is
    * bal_cents·n > sum_cents (exact longs — the r37 discipline), so
    * boundary customers cannot drift between engines. The stats fold
    * to ONE broadcast row; the anti-join probes only the
    * date-pruned orders scan; the closing agg is 5 partial-agg rows. */
  def r42DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cut = "1999-09-01"
    val c = Tables.customer(spark, dir)
      .withColumn("cntrycode", col("c_nationkey") % 10)
      .filter(col("cntrycode").isin(1L, 3L, 5L, 7L, 9L))
      .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
    val pos = c.filter(col("c_acctbal") > 0)
      .agg(sum(col("bal_cents")).as("pos_sum"), count(lit(1)).as("pos_n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cut)).select(col("o_custkey"))
    c.crossJoin(broadcast(pos))
      .filter(col("bal_cents") * col("pos_n") > col("pos_sum"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_cents")).as("totacctbal_cents"))
      .select(col("cntrycode"), col("numcust"), col("totacctbal_cents"),
        round(col("totacctbal_cents").cast("double") / 100.0, 2)
          .as("totacctbal"))
  }

  val r42Sql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey % 10 AS cntrycode,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents, c_acctbal
      |  FROM customer WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)),
      |pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_sum,
      |    count(*) AS pos_n FROM c WHERE c_acctbal > 0)
      |SELECT cntrycode, count(*) AS numcust,
      |  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents,
      |  round(CAST(sum(bal_cents) AS DOUBLE) / 100.0, 2) AS totacctbal
      |FROM c CROSS JOIN pos
      |WHERE bal_cents * pos_n > pos_sum
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1999-09-01')
      |GROUP BY 1""".stripMargin

  // ---- r43: full pricing summary (TPC-H Q1) ------------------------

  /** r43: the FULL Q1 pricing summary — q1_agg covers only the
    * quantity sum; this is the whole report: per (returnflag,
    * linestatus), quantity/base-price/discounted/charged totals,
    * counts, and averages. The money math never sums floats:
    * price/discount/tax quantize to integer cents and percent at
    * the scan (round(x·100) — identical IEEE doubles on both
    * engines, so identical cents), and disc = cents·(100−d),
    * charge = cents·(100−d)·(100+t) stay EXACT longs in cent·% and
    * cent·%² units; dollar values and averages divide once at the
    * edge. At extreme scale the cent·%² sum is the one column that
    * outgrows int64 (~sf 10⁴) — decimal(38,0) is the documented
    * escalation (the x31 note). One partial-agg shuffle into 6
    * groups; the shuffle carries KBs at any input size. */
  def r43PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
      round(col("l_extendedprice") * 100).cast("long").as("base_cents"),
      round(col("l_discount") * 100).cast("long").as("disc_pct"),
      round(col("l_tax") * 100).cast("long").as("tax_pct"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("base_cents")).as("base_cents_sum"),
        sum(col("base_cents") * (lit(100L) - col("disc_pct")))
          .as("disc_cp_sum"),
        sum(col("base_cents") * (lit(100L) - col("disc_pct"))
          * (lit(100L) + col("tax_pct"))).as("charge_cpp_sum"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("base_cents_sum"), col("disc_cp_sum"), col("charge_cpp_sum"),
        col("n_items"),
        round(col("sum_qty") / col("n_items"), 6).as("avg_qty"),
        round(col("base_cents_sum").cast("double") / col("n_items") / 100.0, 6)
          .as("avg_price"),
        round(col("disc_cp_sum").cast("double") / 10000.0, 2).as("revenue"))
  }

  // ---- r46: per-user hourly quota enforcement ----------------------

  /** r46: QUOTA ENFORCEMENT — per user, how many events an
    * N-per-hour rate limit (N=3) would accept vs reject: the
    * admission-control/abuse-throttling primitive. Because accepted
    * = "first N in the hour" under any total order, the accepted
    * COUNT per hour is min(N, hour_count) independent of which
    * events win — so the report is pure integer arithmetic over ONE
    * (user, hour) partial agg + a per-user rollup, no window
    * function and no ordering anywhere. */
  def r46RateLimit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hb"))
    ev.groupBy(col("user_id"), col("hb")).agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        sum(least(col("c"), lit(3L))).as("n_accepted"))
      .select(col("user_id"), col("n_events"), col("n_accepted"),
        (col("n_events") - col("n_accepted")).as("n_rejected"))
  }

  val r46Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hb FROM events),
      |hc AS (SELECT user_id, hb, count(*) AS c FROM e GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |  CAST(sum(least(c, 3)) AS BIGINT) AS n_accepted,
      |  CAST(sum(c) - sum(least(c, 3)) AS BIGINT) AS n_rejected
      |FROM hc GROUP BY 1""".stripMargin

  // ---- r45: returned-item revenue report (TPC-H Q10 shape) ---------

  /** r45: the Q10 SHAPE — top-20 customers by revenue lost to
    * returned items in one quarter: customer⋈orders(date-window)⋈
    * lineitem(returnflag)⋈nation. Both selective predicates push to
    * their scans; nation broadcasts; the revenue sum uses the r43
    * integer-cent·% discipline so the top-20 cut cannot drift on a
    * last-ulp boundary; the cut itself is TakeOrderedAndProject. */
  def r45ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01") &&
        col("o_orderdate") < lit("1998-04-01"))
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_cp"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"))
      .agg(sum(col("rev_cp")).as("revenue_cp"), count(lit(1)).as("n_items"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("revenue_cp"), col("n_items"),
        round(col("revenue_cp").cast("double") / 10000.0, 2).as("revenue"))
      .orderBy(col("revenue_cp").desc, col("c_custkey"))
      .limit(20)
  }

  val r45Sql: String =
    """WITH li AS (SELECT l_orderkey,
      |    CAST(round(l_extendedprice*100) AS BIGINT)
      |      * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_cp
      |  FROM lineitem WHERE l_returnflag = 'R')
      |SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(sum(rev_cp) AS BIGINT) AS revenue_cp,
      |  count(*) AS n_items,
      |  round(CAST(sum(rev_cp) AS DOUBLE) / 10000.0, 2) AS revenue
      |FROM li
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-04-01'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue_cp DESC, c_custkey LIMIT 20""".stripMargin

  // ---- r44: last-touch attribution (LEFT as-of) --------------------

  /** r44: LAST-TOUCH ATTRIBUTION — every purchase attributed to the
    * user's most recent click at or before it (the marketing
    * attribution primitive), reported as purchase counts per
    * attribution-lag-day bucket with unattributed purchases kept
    * under the -1 bucket. Declared through the LEFT variant of the
    * as-of operator (AsOfJoin.asOfLeft — r21's union-tag + single
    * keyed exchange + running-last plan, with no-prior-click
    * purchases surviving as NULL matches). Clicks pre-aggregate to
    * one row per (user, ts) (max event_id) so equal-timestamp ties
    * are deterministic on both engines — the r21 discipline. */
  def r44Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("cts"), col("click_id"))
    graft.operators.AsOfJoin.asOfLeft(purchases, clicks, "user_id", "ts", "cts")
      .select(col("user_id"), col("ts"),
        when(col("asof").isNull, lit(-1))
          .otherwise(datediff(to_date(col("ts")), to_date(col("asof.cts"))))
          .cast("int").as("lag_days"))
      .groupBy(col("lag_days"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val r44Sql: String =
    """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |a AS (SELECT p.user_id, p.ts, c.cts
      |  FROM p ASOF LEFT JOIN c
      |    ON p.user_id = c.user_id AND p.ts >= c.cts),
      |l AS (SELECT user_id, CAST(CASE WHEN cts IS NULL THEN -1
      |    ELSE date_diff('day', CAST(cts AS DATE), CAST(ts AS DATE))
      |    END AS INT) AS lag_days
      |  FROM a)
      |SELECT lag_days, count(*) AS n_purchases,
      |  count(DISTINCT user_id) AS n_users
      |FROM l GROUP BY 1""".stripMargin

  val r43Sql: String =
    """WITH l AS (SELECT l_returnflag, l_linestatus, l_quantity,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS base_cents,
      |    CAST(round(l_discount*100) AS BIGINT) AS disc_pct,
      |    CAST(round(l_tax*100) AS BIGINT) AS tax_pct
      |  FROM lineitem)
      |SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(base_cents) AS BIGINT) AS base_cents_sum,
      |  CAST(sum(base_cents*(100-disc_pct)) AS BIGINT) AS disc_cp_sum,
      |  CAST(sum(base_cents*(100-disc_pct)*(100+tax_pct)) AS BIGINT)
      |    AS charge_cpp_sum,
      |  count(*) AS n_items,
      |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
      |  round(CAST(sum(base_cents) AS DOUBLE) / count(*) / 100.0, 6)
      |    AS avg_price,
      |  round(CAST(sum(base_cents*(100-disc_pct)) AS DOUBLE) / 10000.0, 2)
      |    AS revenue
      |FROM l GROUP BY 1, 2""".stripMargin
}
