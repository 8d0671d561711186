package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.Engine
import graft.Engine.SnapshotOps

/** Round-11 relational additions: the nonparametric-statistics
  * shapes the r-family had not yet covered — the Mann-Whitney U
  * rank test (r76: do two order-priority classes draw from the same
  * spend distribution), Kendall rank concordance (r77: the
  * tie-aware monotone-trend complement of r73's Theil-Sen slope),
  * and the Benford first-digit audit (r78: the classic
  * fraud/data-quality screen over order amounts).
  *
  * All follow the family's exactness discipline (r71's lesson):
  * every statistic is DEFINED over exact integers — counts,
  * concordance tallies, ppm ratios via integer division with an
  * explicit sign split (`sign · (abs div den)`: both engines'
  * integer divisions truncate toward zero — measured, round 12 —
  * but keeping every division non-negative makes the restatement
  * robust to either convention) — and nothing fractional,
  * decimal-typed, or double-rounded crosses the output edge.
  */
object Relational6 {

  // ---- r76: Mann-Whitney U test ------------------------------------

  /** r76: MANN-WHITNEY U between URGENT and LOW order spend — "does
    * priority shift the spend distribution" answered without any
    * normality assumption. U_A counts cross-group wins:
    * #{(a,b): a > b} + ½·#{a = b}; doubling clears the half, so the
    * emitted u2_a = 2·U_A is an exact integer, and u2_b follows from
    * the identity u2_a + u2_b = 2·n_a·n_b (emitting both lets a
    * reader check the identity on sight).
    *
    * Formulation: collapse each group to per-VALUE counts (cents →
    * n_a, n_b), then one ordered pass over the merged value axis —
    * a running sum of B-counts strictly below each value gives every
    * A-observation's win count in O(|values|): u2_a =
    * Σ_v n_a(v)·(2·cumB_below(v) + n_b(v)).
    *
    * 100 TB shape: the fact table collapses via ONE partial-agg
    * groupBy to the value dimension (distinct cents ≪ corpus); the
    * ordered pass is a single window over that dimension — an
    * UNPARTITIONED Window.orderBy, i.e. a one-task global sort,
    * acceptable exactly because the value dimension stays small
    * (price cents). GUARDED: the collapsed value frame is pinned and
    * counted, and above `maxSingleTaskValues` the cumulative sum
    * switches to the distributed two-phase prefix sum —
    * repartitionByRange(v), per-range local window, per-range totals
    * (≤ #partitions rows) folded into broadcast prefix offsets —
    * same arithmetic, no single-task stage. The win
    * products are carried in decimal(38,0) — u2 ≤ 2·n_a·n_b
    * overflows a long once both groups pass ~2·10⁹ rows — and cast
    * to BIGINT only at the edge (past ~4·10⁹ rows per group, emit
    * u2 in thousandths via integer division; documented escalation,
    * 3 decimal orders of headroom before it matters). */
  def mannWhitney(ordersIn: DataFrame, prioA: String,
      prioB: String, maxSingleTaskValues: Long = 1L << 22): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = ordersIn.sparkSession
    // pin the collapsed value dimension: the guard count and the
    // chosen cumulative-sum spelling both read it without re-scanning
    // the fact table
    val cents = ordersIn
      .filter(col("o_orderpriority").isin(prioA, prioB))
      .select(floor(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderpriority") === prioA, 1L).otherwise(0L).as("a"),
        when(col("o_orderpriority") === prioB, 1L).otherwise(0L).as("b"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      .snapshot()
    val nValues = cents.count()
    // pinned frames to release once the 1-row result is materialized
    // (ADVICE r13: the checkpoint blocks leaked across invocations)
    var pinned: List[DataFrame] = List(cents)
    val withCumb =
      if (nValues <= maxSingleTaskValues) {
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        cents.withColumn("cumb", coalesce(sum(col("nb")).over(w), lit(0L)))
      } else {
        // two-phase distributed prefix sum over the value axis: range
        // ids are pinned (spark_partition_id must not re-evaluate
        // between the totals pass and the window pass), per-range
        // B-totals collapse to ≤ #partitions rows whose running sum
        // is each range's global offset, and the in-range window is
        // partitioned — no single-task sort anywhere
        val ranged = cents
          .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
            col("v"))
          .withColumn("r", spark_partition_id())
          .snapshot()
        pinned ::= ranged
        val offsets = ranged.groupBy(col("r"))
          .agg(sum(col("nb")).as("range_nb"))
        val wOff = Window.orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsetRows = offsets // ≤ #partitions rows: driver-scale
          .withColumn("off", coalesce(sum(col("range_nb")).over(wOff), lit(0L)))
          .select(col("r"), col("off"))
        val wIn = Window.partitionBy(col("r")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ranged
          .withColumn("cumb_in",
            coalesce(sum(col("nb")).over(wIn), lit(0L)))
          .join(broadcast(offsetRows), Seq("r"))
          .withColumn("cumb", col("cumb_in") + col("off"))
      }
    // materialize the single result row EAGERLY, then release the
    // snapshots with `Engine.release`, as kCorePeel and
    // connectedComponents do; returning a lazy plan over the pinned
    // blocks would leak them for the caller's lifetime
    val row = withCumb
      .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
        sum(expr(s"cast(na as $dec) * (2 * cumb + nb)")).as("u2d"))
      .select(col("n_a"), col("n_b"),
        expr("cast(u2d as bigint)").as("u2_a"),
        expr("cast(cast(2 as decimal(38,0)) * n_a * n_b - u2d as bigint)")
          .as("u2_b"))
      .head() // 1-row scalar fetch, not a data-sized collect
    pinned.foreach(Engine.release)
    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
      .toDF("n_a", "n_b", "u2_a", "u2_b")
  }

  def r76MannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitney(Tables.orders(spark, dir), "1-URGENT", "5-LOW")

  val r76Sql: String =
    """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
      |    CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS na,
      |    CAST(sum(b) AS BIGINT) AS nb FROM c GROUP BY 1),
      |r AS (SELECT na, nb, coalesce(CAST(sum(nb) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |    0) AS cumb FROM g),
      |agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
      |    CAST(sum(nb) AS BIGINT) AS n_b,
      |    sum(CAST(na AS HUGEINT) * (2 * cumb + nb)) AS u2d
      |  FROM r)
      |SELECT n_a, n_b, CAST(u2d AS BIGINT) AS u2_a,
      |  CAST(2 * CAST(n_a AS HUGEINT) * n_b - u2d AS BIGINT) AS u2_b
      |FROM agg""".stripMargin

  // ---- r77: Kendall rank concordance --------------------------------

  /** r77: KENDALL CONCORDANCE of daily revenue against time, per
    * event type — the rank complement of r73's Theil-Sen slope
    * (r73 answers "how steep", this answers "how consistently
    * monotone", robust to any monotone transform of the series).
    * Over the same dense daily series, every day pair (i < j)
    * tallies as concordant (y_j > y_i), discordant (y_j < y_i), or
    * tied in y; days are distinct so x carries no ties and
    * n_pairs = nc + nd + n_ties. tau_a ships in ppm via the
    * sign-split integer division — (nc − nd) can be negative, and
    * `sign · ((|nc − nd|·10⁶) div n_pairs)` is the one spelling
    * truncating (Spark) and flooring (DuckDB) division agree on.
    * The tie-corrected tau_b needs a square root, so the exact
    * integers it derives from (nc, nd, n_ties, n_pairs) ship
    * instead and the reader applies the radical — nothing IEEE
    * crosses the gate.
    *
    * 100 TB shape: ONE partial-agg pass collapses the fact table to
    * |type|·|days| rows; the pair tally is a per-type self-join over
    * that tiny dimension (90 days → 4 005 pairs). A multi-year
    * series escalates to the O(n log n) merge-sort inversion count
    * (documented), not needed at calendar cardinality. */
  def kendallDaily(eventsIn: DataFrame): DataFrame = {
    val daily = eventsIn
      .groupBy(col("event_type"),
        (unix_micros(date_trunc("day", col("ts"))) / 86400000000L)
          .cast("long").as("d"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
    val pairs = daily.alias("a").join(daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        signum(col("b.y") - col("a.y")).cast("long").as("s"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("nc"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("nd"),
        sum(when(col("s") === 0L, 1L).otherwise(0L)).as("n_ties"))
      .select(col("event_type"), col("n_pairs"), col("nc"), col("nd"),
        col("n_ties"),
        (signum(col("nc") - col("nd")).cast("long") *
          expr("(abs(nc - nd) * 1000000) div n_pairs")).as("tau_a_ppm"))
  }

  def r77Kendall(spark: SparkSession, dir: String): DataFrame =
    kendallDaily(Tables.events(spark, dir))

  val r77Sql: String =
    """WITH daily AS MATERIALIZED (SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT a.event_type,
      |    CAST(sign(b.y - a.y) AS BIGINT) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d),
      |t AS (SELECT event_type, count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
      |  FROM pr GROUP BY 1)
      |SELECT event_type, n_pairs, nc, nd, n_ties,
      |  CAST(sign(nc - nd) AS BIGINT) *
      |    (abs(nc - nd) * 1000000 // n_pairs) AS tau_a_ppm
      |FROM t""".stripMargin

  // ---- r78: Benford first-digit audit --------------------------------

  /** r78: BENFORD'S-LAW first-digit audit of order amounts — the
    * standard forensic screen for fabricated or systematically
    * rounded figures. Each positive amount (in cents) contributes
    * its leading decimal digit; the observed digit shares compare
    * against Benford's log₁₀(1 + 1/d), PRE-QUANTIZED to the nine
    * ppm constants below so the reference distribution is a shared
    * integer literal, not an engine-evaluated logarithm. The leading
    * digit comes off the decimal string of the BIGINT cents — both
    * engines print a positive BIGINT identically, and no float
    * log/pow (whose edge cases at exact powers of ten differ) gets
    * near the digit.
    *
    * 100 TB shape: ONE partial-agg pass collapses the fact table to
    * ≤ 9 digit rows; the total re-joins by a 9-row window sum. */
  def benford(ordersIn: DataFrame): DataFrame = {
    val expPpm = Seq(301029L, 176091L, 124938L, 96910L,
      79181L, 66946L, 57991L, 51152L, 45757L)
    val digits = ordersIn
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0L)
      .select(substring(col("cents").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    digits
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("obs_ppm", expr("(n * 1000000) div total"))
      .withColumn("exp_ppm",
        element_at(array(expPpm.map(lit): _*), col("digit").cast("int")))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        abs(col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
  }

  def r78Benford(spark: SparkSession, dir: String): DataFrame =
    benford(Tables.orders(spark, dir))

  // ---- r79: Wald-Wolfowitz runs test ---------------------------------

  /** r79: RUNS TEST for randomness of the daily revenue direction,
    * per event type — do up-days and down-days alternate like coin
    * flips, or do they streak (momentum / level shifts)? The third
    * leg of the trend triptych: r73 fits the slope, r77 scores
    * monotone consistency, this one asks whether the day-over-day
    * SIGNS are independent at all. Day-over-day deltas reduce to
    * signs (zeros drop — the standard treatment), n_runs counts
    * maximal same-sign stretches, and the null expectation
    * E[R] = 1 + 2·n₊·n₋/(n₊+n₋) ships pre-scaled as expected_r_ppm
    * via one non-negative integer division — observed n_runs·10⁶
    * far below it means streaking. The z-score's radical stays
    * reader-side (the exact tallies ship), per the family's
    * no-IEEE-at-the-edge rule.
    *
    * 100 TB shape: one partial-agg pass to |type|·|days| rows, two
    * keyed-window passes over that dimension (lag for the delta,
    * lag for the run boundary), a |type|-row close. The products
    * ride decimal(38,0) — 2·n₊·n₋·10⁶ outgrows a long at ~10⁶-day
    * series, cheap insurance. */
  def runsTest(eventsIn: DataFrame): DataFrame = {
    val daily = eventsIn
      .groupBy(col("event_type"),
        (unix_micros(date_trunc("day", col("ts"))) / 86400000000L)
          .cast("long").as("d"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val signs = daily
      .withColumn("prev", lag(col("y"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), col("d"),
        signum(col("y") - col("prev")).cast("long").as("s"))
      .filter(col("s") =!= 0L)
    signs
      .withColumn("ps", lag(col("s"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("n_minus"),
        sum(when(col("ps").isNull || col("s") =!= col("ps"), 1L)
          .otherwise(0L)).as("n_runs"))
      .select(col("event_type"), col("n_plus"), col("n_minus"),
        col("n_runs"),
        expr("cast(1000000 + (cast(2 as decimal(38,0)) * n_plus * n_minus" +
          " * 1000000) div (n_plus + n_minus) as bigint)")
          .as("expected_r_ppm"))
  }

  def r79RunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTest(Tables.events(spark, dir))

  // ---- r80: promo lift, difference-in-differences --------------------

  /** r80: DIFFERENCE-IN-DIFFERENCES promo lift — did PROMO-type
    * parts' per-item revenue move differently across the 1998
    * boundary than everything else's? The causal-inference workhorse
    * for "the promotion changed X" claims: the control group's
    * before/after delta nets out market-wide drift, and what
    * remains — (T₂−T₁) − (C₂−C₁) on per-item means — is the lift
    * estimate. Per-row revenue floors to cents once (the same
    * double product both engines evaluate identically), then
    * everything is exact integer sums; each cell's mean ships in
    * micro-cents via one NON-NEGATIVE integer division and the DiD
    * itself is pure subtraction of those exact means — no negative
    * ever meets a divisor, so truncation semantics never matter.
    *
    * 100 TB shape: ONE partial-agg pass over the fact join collapses
    * to 4 (group × period) cells; the part-type side is a broadcast
    * dimension join; the closing pivot is driver-trivial. */
  def promoDid(li: DataFrame, parts: DataFrame,
      boundary: String): DataFrame = {
    val cells = li
      .join(broadcast(parts.select(col("p_partkey"),
        (col("p_type") === "PROMO").as("treated"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("treated"),
        (col("l_shipdate") >= lit(boundary).cast("timestamp")).as("after"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("cents"))
      .select(col("treated"), col("after"), col("n"),
        expr("cast((cast(cents as decimal(38,0)) * 1000000) div n " +
          "as bigint)").as("mean_micro"))
    val p = cells.groupBy()
      .pivot(concat(when(col("treated"), lit("t")).otherwise(lit("c")),
        when(col("after"), lit("2")).otherwise(lit("1"))),
        Seq("t1", "t2", "c1", "c2"))
      .agg(first(col("mean_micro")).as("mean"), first(col("n")).as("n"))
    p.select(col("t1_n"), col("t2_n"), col("c1_n"), col("c2_n"),
      col("t1_mean"), col("t2_mean"), col("c1_mean"), col("c2_mean"),
      ((col("t2_mean") - col("t1_mean")) -
        (col("c2_mean") - col("c1_mean"))).as("did_micro_cents"))
  }

  def r80PromoDid(spark: SparkSession, dir: String): DataFrame =
    promoDid(Tables.lineitem(spark, dir), Tables.part(spark, dir),
      boundary = "1998-01-01")

  val r80Sql: String =
    """WITH cells AS (SELECT
      |    p_type = 'PROMO' AS treated,
      |    l_shipdate >= TIMESTAMP '1998-01-01' AS after,
      |    count(*) AS n,
      |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |m AS (SELECT treated, after, n,
      |    CAST(CAST(cents AS HUGEINT) * 1000000 // n AS BIGINT) AS mean
      |  FROM cells)
      |SELECT
      |  (SELECT n FROM m WHERE treated AND NOT after) AS t1_n,
      |  (SELECT n FROM m WHERE treated AND after) AS t2_n,
      |  (SELECT n FROM m WHERE NOT treated AND NOT after) AS c1_n,
      |  (SELECT n FROM m WHERE NOT treated AND after) AS c2_n,
      |  (SELECT mean FROM m WHERE treated AND NOT after) AS t1_mean,
      |  (SELECT mean FROM m WHERE treated AND after) AS t2_mean,
      |  (SELECT mean FROM m WHERE NOT treated AND NOT after) AS c1_mean,
      |  (SELECT mean FROM m WHERE NOT treated AND after) AS c2_mean,
      |  ((SELECT mean FROM m WHERE treated AND after)
      |    - (SELECT mean FROM m WHERE treated AND NOT after))
      |  - ((SELECT mean FROM m WHERE NOT treated AND after)
      |    - (SELECT mean FROM m WHERE NOT treated AND NOT after))
      |    AS did_micro_cents""".stripMargin

  val r79Sql: String =
    """WITH daily AS MATERIALIZED (SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |dl AS (SELECT event_type, d,
      |    y - lag(y) OVER (PARTITION BY event_type ORDER BY d) AS dy
      |  FROM daily),
      |sg AS (SELECT event_type, d, CAST(sign(dy) AS BIGINT) AS s
      |  FROM dl WHERE dy IS NOT NULL AND dy <> 0),
      |rn AS (SELECT event_type, s,
      |    lag(s) OVER (PARTITION BY event_type ORDER BY d) AS ps
      |  FROM sg),
      |t AS (SELECT event_type,
      |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_plus,
      |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_minus,
      |    CAST(sum(CASE WHEN ps IS NULL OR s <> ps THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_runs
      |  FROM rn GROUP BY 1)
      |SELECT event_type, n_plus, n_minus, n_runs,
      |  CAST(1000000 + 2 * CAST(n_plus AS HUGEINT) * n_minus * 1000000
      |    // (n_plus + n_minus) AS BIGINT) AS expected_r_ppm
      |FROM t""".stripMargin

  // ---- r81: Lorenz curve by spend decile ---------------------------

  /** r81: LORENZ CURVE of order spend — r71's Gini as an actual
    * curve: orders tile into spend DECILES (ntile over the exact
    * cent lattice, o_orderkey as the total-order tiebreak so both
    * engines tile identically) and each decile reports its order
    * count, exact cent mass, and the CUMULATIVE share of total
    * spend in ppm — the "bottom 50% holds X%" statement that turns
    * the single Gini number into an auditable distribution.
    *
    * Exactness: cents are longs, all sums exact; the share is
    * 1e6·cum div total carried in decimal(38,0) (1e6·Σcents
    * outgrows a long at ~10¹³ cents of corpus spend — exactly the
    * scale the curve is computed for). Numerators are non-negative,
    * so truncating vs flooring division cannot diverge.
    *
    * 100 TB shape: below `maxSingleTaskRows` the ntile is a single
    * ordered pass over the fact table (the r76 admission); above it
    * — the only DATA-SIZED unpartitioned window in the repo (round-14
    * audit) — the tiling switches to a CODED two-phase global rank:
    * repartitionByRange on the sort key, per-range counts folded
    * into broadcast prefix offsets, per-range local row_number + its
    * range's offset = the exact global rank, and the ntile bucket
    * computed arithmetically from (rank, n) with Spark's
    * larger-buckets-first semantics — same tiling, no single-task
    * sort. Everything after the tile is a 10-row frame, which is
    * materialized eagerly so the pinned inputs release
    * (mannWhitney's release discipline). */
  def lorenz(ordersIn: DataFrame,
      maxSingleTaskRows: Long = 1L << 22): DataFrame = {
    val spark = ordersIn.sparkSession
    val o = ordersIn
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      .snapshot()
    var pinned: List[DataFrame] = List(o)
    val n = o.count()
    val tiled =
      if (n <= maxSingleTaskRows)
        o.withColumn("decile", ntile(10)
          .over(Window.orderBy(col("cents"), col("o_orderkey")))
          .cast("long"))
      else {
        val ranged = o
          .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
            col("cents"), col("o_orderkey"))
          .withColumn("r", spark_partition_id())
          .snapshot() // pin the range ids (see r76)
        pinned ::= ranged
        val wOff = Window.orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offRows = ranged.groupBy(col("r")) // ≤ #partitions rows
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
          .select(col("r"), col("off"))
        val wIn = Window.partitionBy(col("r"))
          .orderBy(col("cents"), col("o_orderkey"))
        // ntile(10) from the exact global rank: the first n%10
        // buckets hold n/10+1 rows, the rest n/10 (Spark semantics)
        val q = n / 10
        val cut = (n % 10) * (q + 1)
        val qTail = math.max(q, 1L) // unreachable divisor when q = 0
        ranged.withColumn("lr", row_number().over(wIn))
          .join(broadcast(offRows), Seq("r"))
          .withColumn("rank", col("lr").cast("long") + col("off"))
          .withColumn("decile",
            when(col("rank") <= cut,
              expr(s"(rank + $q) div ${q + 1}"))
              .otherwise(expr(
                s"${n % 10} + (rank - $cut + $qTail - 1) div $qTail")))
      }
    val out = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("decile_cents"))
      .withColumn("cum_cents",
        sum(col("decile_cents")).over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_cents",
        sum(col("decile_cents")).over(Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("decile").cast("bigint").as("decile"),
        col("n_orders"), col("decile_cents"),
        expr("cast(cast(cum_cents as decimal(38,0)) * 1000000 " +
          "div total_cents as bigint)").as("cum_share_ppm"))
      .collect() // the 10-row decile frame, never data-sized
    pinned.foreach(Engine.release)
    import spark.implicits._
    out.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("decile", "n_orders", "decile_cents", "cum_share_ppm")
  }

  def r81Lorenz(spark: SparkSession, dir: String): DataFrame =
    lorenz(Tables.orders(spark, dir))

  val r81Sql: String =
    """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
      |    AS cents, o_orderkey FROM orders),
      |t AS (SELECT cents,
      |    ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile
      |  FROM c),
      |g AS (SELECT decile, count(*) AS n_orders,
      |    CAST(sum(cents) AS BIGINT) AS decile_cents
      |  FROM t GROUP BY 1),
      |s AS (SELECT decile, n_orders, decile_cents,
      |    CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT)
      |      AS cum_cents,
      |    CAST(sum(decile_cents) OVER () AS BIGINT) AS total_cents
      |  FROM g)
      |SELECT CAST(decile AS BIGINT) AS decile, n_orders, decile_cents,
      |  CAST(CAST(cum_cents AS HUGEINT) * 1000000 // total_cents
      |    AS BIGINT) AS cum_share_ppm
      |FROM s""".stripMargin

  // ---- r82: chi-square independence test ----------------------------

  /** r82: CHI-SQUARE INDEPENDENCE of order priority × order status —
    * the categorical-association screen (is fulfilment status
    * independent of priority?) completing the nonparametric family:
    * r76 compares distributions, r77 ranks trends, r78 audits
    * digits, r79 tests randomness; r82 tests contingency. χ² =
    * Σ_cells (obs − E)²/E with E = rowTotal·colTotal/grand, restated
    * exactly: per cell, 1e6·(obs·g − rt·ct)² div (rt·ct·g) — one
    * integer-floored term per cell, summed (all terms non-negative,
    * so truncation conventions cannot diverge). Carried in
    * decimal(38,0): obs·g squares to ~10²⁰ at sf0.1 and to ~10³⁰ at
    * 10⁹ orders — still inside 38 digits.
    *
    * 100 TB shape: ONE partial-agg groupBy collapses the fact table
    * to ≤ |prios|·|statuses| cells; row/col/grand totals derive from
    * the cell frame and broadcast back — nothing corpus-sized moves
    * after the first agg. */
  def r82ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    // ONE fact scan: the ≤|prios|·|statuses|-row cell frame pins and
    // every total (row, column, grand) derives from it — without the
    // pin Spark re-runs the corpus agg four times
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"),
        col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
      .snapshot()
    val rowT = cells.groupBy(col("prio")).agg(sum(col("obs")).as("rt"))
    val colT = cells.groupBy(col("st")).agg(sum(col("obs")).as("ct"))
    val grand = cells.agg(sum(col("obs")).as("g"),
      countDistinct(col("prio")).as("nr"),
      countDistinct(col("st")).as("nc"))
    cells.join(broadcast(rowT), Seq("prio"))
      .join(broadcast(colT), Seq("st"))
      .crossJoin(broadcast(grand))
      .select(col("nr"), col("nc"),
        expr(s"cast(1000000 as $dec) * " +
          s"(cast(obs as $dec) * g - cast(rt as $dec) * ct) * " +
          s"(cast(obs as $dec) * g - cast(rt as $dec) * ct) div " +
          s"(cast(rt as $dec) * ct * g)").as("term"))
      .groupBy()
      .agg(max(col("nr")).as("n_prios"), max(col("nc")).as("n_statuses"),
        sum(col("term")).as("chi2d"))
      .select(col("n_prios"), col("n_statuses"),
        ((col("n_prios") - 1) * (col("n_statuses") - 1)).as("dof"),
        col("chi2d").cast("bigint").as("chi2_ppm"))
  }

  val r82Sql: String =
    """WITH cells AS (SELECT o_orderpriority AS prio,
      |    o_orderstatus AS st, count(*) AS obs
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT prio, CAST(sum(obs) AS BIGINT) AS rt
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT st, CAST(sum(obs) AS BIGINT) AS ct
      |  FROM cells GROUP BY 1),
      |gt AS (SELECT CAST(sum(obs) AS BIGINT) AS g,
      |    count(DISTINCT prio) AS nr, count(DISTINCT st) AS nc
      |  FROM cells),
      |terms AS (SELECT gt.nr, gt.nc,
      |    CAST(1000000 AS HUGEINT)
      |      * (CAST(obs AS HUGEINT) * gt.g - CAST(rt.rt AS HUGEINT) * ct.ct)
      |      * (CAST(obs AS HUGEINT) * gt.g - CAST(rt.rt AS HUGEINT) * ct.ct)
      |      // (CAST(rt.rt AS HUGEINT) * ct.ct * gt.g) AS term
      |  FROM cells JOIN rt USING (prio) JOIN ct USING (st) CROSS JOIN gt)
      |SELECT CAST(max(nr) AS BIGINT) AS n_prios,
      |  CAST(max(nc) AS BIGINT) AS n_statuses,
      |  CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
      |  CAST(sum(term) AS BIGINT) AS chi2_ppm
      |FROM terms""".stripMargin

  // ---- r83: Kaplan-Meier survival curve ------------------------------

  /** r83: KAPLAN-MEIER SURVIVAL — time from each user's FIRST event
    * to their first 'error', right-censored at the last observed
    * activity for users who never error: the standard time-to-event
    * estimator (churn curves, reliability, time-to-conversion's
    * distribution-level sibling r56 answers pointwise). Steps exist
    * at failure durations only; at each step t, n_risk = subjects
    * still under observation (duration ≥ t, failures and censored
    * alike), n_events = failures at t, and the survivor function
    * updates by the product-limit rule S ← S·(n−d)/n.
    *
    * Exactness: durations are calendar-day integers; the product
    * limit is a SEQUENTIAL integer recurrence in ppm — S₀ = 10⁶,
    * Sᵢ = (Sᵢ₋₁·(nᵢ−dᵢ)) div nᵢ, one floor per step — which the
    * engine folds over the sorted step array (division spelled
    * (x − pmod(x, n))/n, exact because the numerator is made
    * divisible first) and the oracle restates as a recursive CTE:
    * identical integer sequences, no float product anywhere.
    *
    * 100 TB shape: two partial-agg groupBys collapse the event log
    * to one row per user; steps ≤ distinct failure days (calendar-
    * bounded), so the at-risk counts are a broadcast non-equi join
    * against a tiny step frame and the fold runs on one ≤|days|-row
    * array. */
  def r83KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // ONE fact scan: first/last activity and first failure all fold
    // in the same per-user partial agg (min of a CASE is the first
    // error); the per-subject frame pins because steps and at-risk
    // counts both read it
    val subj = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("tlast"),
        min(when(col("event_type") === "error", col("ts"))).as("terr"))
      .select(
        when(col("terr").isNotNull,
          datediff(to_date(col("terr")), to_date(col("t0"))))
          .otherwise(datediff(to_date(col("tlast")), to_date(col("t0"))))
          .cast("long").as("dur"),
        col("terr").isNotNull.as("failed"))
      .snapshot()
    val steps = subj.filter(col("failed"))
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val risk = subj.select(col("dur"))
      .join(broadcast(steps.select(col("t"))), col("dur") >= col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val stepFrame = steps.join(risk, Seq("t"))
    // fold the product limit over the SORTED step array: acc carries
    // (t, n, d, s) with a sentinel head s = 1e6; integer division is
    // spelled (x - pmod(x, n)) / n so the double division is exact
    stepFrame
      .agg(sort_array(collect_list(struct(col("t"), col("n"), col("d"))))
        .as("st"))
      .select(explode(aggregate(col("st"),
        array(struct(lit(-1L).as("t"), lit(0L).as("n"), lit(0L).as("d"),
          lit(1000000L).as("s"))),
        (acc, x) => {
          val last = element_at(acc, -1).getField("s")
          val num = last * (x.getField("n") - x.getField("d"))
          val s = ((num - pmod(num, x.getField("n"))) / x.getField("n"))
            .cast("long")
          concat(acc, array(struct(x.getField("t").as("t"),
            x.getField("n").as("n"), x.getField("d").as("d"), s.as("s"))))
        })).as("r"))
      .filter(col("r.t") >= 0)
      .select(col("r.t").as("t_day"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), col("r.s").as("surv_ppm"))
  }

  /** Recursive-CTE restatement of the same integer product-limit
    * recurrence. */
  val r83Sql: String =
    """WITH RECURSIVE sp AS (SELECT user_id, min(ts) AS t0,
      |    max(ts) AS tlast FROM events GROUP BY 1),
      |fe AS (SELECT user_id, min(ts) AS terr FROM events
      |  WHERE event_type = 'error' GROUP BY 1),
      |subj AS (SELECT CASE WHEN fe.terr IS NOT NULL
      |      THEN date_diff('day', CAST(sp.t0 AS DATE), CAST(fe.terr AS DATE))
      |      ELSE date_diff('day', CAST(sp.t0 AS DATE), CAST(sp.tlast AS DATE))
      |    END AS dur,
      |    fe.terr IS NOT NULL AS failed
      |  FROM sp LEFT JOIN fe USING (user_id)),
      |d AS (SELECT dur AS t, count(*) AS d FROM subj WHERE failed
      |  GROUP BY 1),
      |n AS (SELECT d.t, count(*) AS n FROM d JOIN subj ON subj.dur >= d.t
      |  GROUP BY 1),
      |steps AS (SELECT d.t, n.n, d.d,
      |    row_number() OVER (ORDER BY d.t) AS i
      |  FROM d JOIN n ON n.t = d.t),
      |km(i, t, n, d, s) AS (
      |  SELECT i, t, n, d,
      |    CAST(1000000 * (n - d) // n AS BIGINT) FROM steps WHERE i = 1
      |  UNION ALL
      |  SELECT st.i, st.t, st.n, st.d,
      |    CAST(km.s * (st.n - st.d) // st.n AS BIGINT)
      |  FROM steps st JOIN km ON st.i = km.i + 1)
      |SELECT CAST(t AS BIGINT) AS t_day, CAST(n AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS n_events, s AS surv_ppm
      |FROM km""".stripMargin

  val r78Sql: String =
    """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit FROM c WHERE cents > 0),
      |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      |t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM g)
      |SELECT digit, n, CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
      |  CAST(([301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152,
      |    45757])[digit] AS BIGINT) AS exp_ppm,
      |  CAST(abs(n * 1000000 // total -
      |    ([301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152,
      |      45757])[digit]) AS BIGINT) AS dev_ppm
      |FROM t""".stripMargin
}
