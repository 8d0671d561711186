package graft

import org.apache.spark.sql.functions._

/** Scale-technique demonstrations: partition pruning and bucketed
  * co-located joins — the §2.8 answers to "would this hold at
  * 1000× the data". */
class ScaleTechniquesSpec extends SparkTestBase {
  import testImplicits._

  test("partitioned write: directory layout prunes key-scoped reads") {
    val out = java.nio.file.Files.createTempDirectory("graft-out-").toString
    try {
      val df = (1 to 100).map(i => (s"vid${i % 4}", i.toLong, i * 2))
        .toDF("video_id", "frame_id", "x")
      graft.sources.Writers.writePartitioned(df, out, Seq("video_id"))
      assert(new java.io.File(s"$out/video_id=vid1").isDirectory)
      val read = spark.read.parquet(out).filter(col("video_id") === "vid1")
      assert(read.count() === 25L)
      // partition pruning: the scan's partition filters carry video_id
      val scan = read.queryExecution.executedPlan.toString()
      assert(scan.contains("PartitionFilters") &&
        scan.contains("video_id"), scan)
    } finally TmpPaths.deleteRecursively(new java.io.File(out))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in plan") {
    // default warehouse dir (spark-warehouse/, gitignored) — the
    // warehouse location is a static conf, immutable per session;
    // clear catalog entries AND any orphan dirs a crashed run left
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    val o = (1 to 500).map(i => (i.toLong % 100, i.toLong)).toDF("custkey", "orderkey")
    val c = (0 until 100).map(i => (i.toLong, s"cust$i")).toDF("custkey", "name")
    o.write.bucketBy(8, "custkey").sortBy("custkey").saveAsTable("b_orders")
    c.write.bucketBy(8, "custkey").sortBy("custkey").saveAsTable("b_customer")
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"), Seq("custkey"))
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === 500L)
  }

  test("z-order write: the Morton-range layout prunes a second-" +
    "dimension predicate that a single-column sort cannot") {
    // the x56 rewrite path: files laid out by Morton-code range have
    // bounded min/max stats on BOTH dimensions, so a predicate on
    // EITHER prunes files. A layout sorted on x alone prunes x
    // predicates perfectly — and y predicates not at all (every file
    // spans the full y range). Simulate file-level stat pruning:
    // count partitions whose per-partition y bounding box intersects
    // a y window. (Area is NOT the discriminator — on uniform data
    // every equal-count layout covers equal area; the shape of the
    // box is.)
    val n = 4096
    val pts = (0 until n).map { i =>
      val x = (i * 2654435761L % 256).toInt
      val y = (i * 40503L % 256).toInt
      (i.toLong, x, y)
    }.toDF("id", "xq", "yq")
    val morton = (0 until 8).map(i =>
      s"(shiftleft(shiftright(xq, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(yq, $i) & 1, ${2 * i}))").mkString(" + ")
    def touched(laid: org.apache.spark.sql.DataFrame): Long =
      laid.withColumn("pid", spark_partition_id())
        .groupBy(col("pid"))
        .agg(min(col("yq")).as("ymin"), max(col("yq")).as("ymax"))
        .filter(col("ymin") <= 127 && col("ymax") >= 96)
        .count()
    // align ranges to the 64×64 z-blocks (m div 4096) — exactly the
    // production rewrite: repartitionByRange on the block id
    val zOrdered = pts.withColumn("m", expr(morton))
      .repartitionByRange(16, expr("m div 4096"))
    val xOrdered = pts.repartitionByRange(16, col("xq"))
    val zTouched = touched(zOrdered)
    val xTouched = touched(xOrdered)
    // x-sorted: every file spans y fully -> nothing prunes (16/16).
    // z-ordered: only the block-row containing y∈[96,127] qualifies.
    assert(xTouched >= 15L, s"xTouched=$xTouched")
    assert(zTouched * 2 <= xTouched, s"zTouched=$zTouched xTouched=$xTouched")
  }

  test("Prof: three profiled runs of q1_agg, every run counts jobs, " +
    "stages and tasks, the stage table is well-formed, the session " +
    "config is untouched, and the record is one JSON line") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val line = graft.tools.Prof.profile(spark, sf, "q1_agg")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe)
    assert(!line.contains('\n'))
    val rec = spark.read.json(Seq(line).toDS())
    assert(!rec.columns.contains("_corrupt_record"), line)
    assert(rec.count() === 1L)
    assert(rec.select(col("query")).head().getString(0) === "q1_agg")
    val runs = rec.select(explode(col("runs")).as("r")).select("r.*")
    assert(runs.count() === 3L)
    assert(runs.filter(col("jobs") > 0 && col("stages") > 0 &&
      col("tasks") > 0).count() === 3L, line)
    assert(runs.filter(col("compiles") >= 0).count() === 3L, line)
    assert(rec.select(col("preheat_compiles")).head().getLong(0) >= 0L, line)
    for (part <- Seq("total_s", "construct_s", "plan_s", "execute_s")) {
      val s = rec.select(s"$part.*").head()
      val (lo, mid, hi) = (s.getAs[Double]("min"),
        s.getAs[Double]("median"), s.getAs[Double]("max"))
      assert(0.0 <= lo && lo <= mid && mid <= hi, s"$part: $line")
    }
    val stages = rec.select(explode(col("stage_table")).as("s")).select("s.*")
    assert(stages.count() > 0L, line)
    assert(stages.filter(col("wall_s") < 0 || col("tasks") <= 0).count() === 0L,
      line)
  }
}
