package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Bench main (BASELINE.md methodology: one preheat run, then timed
  * runs per query ≈ `/root/reference/benchmark.sh:29-36`).
  *
  * Each timed run executes the FULL plan by writing to the `noop`
  * sink — a `count()` would let Catalyst prune the very projections
  * being timed. The reported figure is the MEDIAN of 3 timed
  * iterations, so one sandbox-load spike can't contaminate the
  * round's number. Per-query `rows` is the input row count (sum of
  * the distinct parquet tables the plan scans, counted once each via
  * a pruned zero-column count), so sec-per-row ratios are readable
  * straight off the JSON. Failures are reported as errors, never as
  * timings. Output: exactly one bare JSON line on stdout (sbt's
  * forked-run output goes through StdoutOutput, see build.sbt, so
  * the driver can parse it without an `[info] ` prefix); all numbers
  * are formatted under Locale.ROOT so the line stays valid JSON on
  * any JVM default locale.
  *
  * The harvester keeps only the LAST ~2000 bytes of the run's
  * output, and sbt appends a `[success] Total time: …` trailer
  * after our line — so the stdout line must stay well inside that
  * window or its head is cut off and the round's bench goes
  * unparsed (exactly what happened rounds 3-5 once the per-query
  * `rows` map pushed the line past 2 KB). The stdout line therefore
  * carries only metric/value/unit/queries/errors/sf; the full
  * detail including per-query input rows goes to
  * `target/bench_detail.json`. At the round-7 surface (84 queries)
  * even that line crossed 1.8 KB, so the stdout `queries` map is
  * keyed by each query's unique PREFIX CODE (the part before the
  * first underscore: q1, v3, d10, s13, x26, r28 …) — uniqueness is
  * asserted at startup — while bench_detail.json keeps the full
  * names for cross-round comparison.
  */
object Bench {
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  // stdout carries 2 decimals per query (10 ms granularity — the
  // cross-round comparisons are coarser than that); bench_detail.json
  // keeps the full 3. At 72 queries the byte saved per entry buys
  // ~2.5 queries of harvest-window headroom.
  private def num2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    // Plan construction runs INSIDE the timed region: queries whose
    // construction does real distributed work (d9's connected-components
    // fixpoint, x15's bloom-sketch build, x20's embedded d9) must be
    // charged for it, or their bench rows under-report by orders of
    // magnitude. For every other query construction is milliseconds,
    // so nothing else shifts.
    def runOnce(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // input rows: distinct file-source tables in the optimized plan,
    // each counted once per bench process (column-pruned count — a
    // metadata-cheap scan, outside the timed region)
    val tableRows = scala.collection.mutable.Map[String, Long]()
    def inputRows(fn: (SparkSession, String) => DataFrame): Long =
      fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten.distinct.map { p =>
        tableRows.getOrElseUpdate(p, spark.read.parquet(p).count())
      }.sum

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // local iteration only (the driver never sets it): comma-separated
    // query names restrict the run, like Verify's optional third arg
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    SparkEntry.queries.filter(e => only.forall(_.contains(e._1))).foreach { case (name, fn) =>
      try {
        runOnce(fn) // preheat: JVM/codegen/parquet-footer warm-up
        val ts = Seq.fill(3)(runOnce(fn)).sorted
        timings(name) = ts(1) // median of 3
        rows(name) = inputRows(fn)
      } catch { case e: Throwable =>
        errors(name) = e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      }
    }
    val code = SparkEntry.queries.keys.map(n => n -> n.takeWhile(_ != '_')).toMap
    require(code.values.toSet.size == code.size,
      "query prefix codes must stay unique (stdout bench keys)")
    // The harvester keeps only the LAST ~2000 bytes of stdout and sbt
    // appends a "[success] ..." trailer, so the line must stay well
    // under that or its head is cut and the round's bench goes
    // unparsed (round 8's error-inflated line did exactly that). The
    // stdout map is therefore SELF-CAPPING: per-query entries are
    // emitted slowest-first and the fastest are dropped once the line
    // would cross the budget, with "queries_omitted" recording the
    // cut; errors keep only the first 3 (full text for all of them
    // lives in target/bench_detail.json along with the full map).
    val lineBudget = 1500
    val total = timings.values.sum
    val esCapped = errors.take(3).map { case (k, v) =>
      s""""$k":"$v"""" }.mkString("{", ",", "}") +
      (if (errors.size > 3) s""","errors_omitted":${errors.size - 3}"""
       else "")
    val fixedHead =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":"""
    val fixedTail =
      s""","errors":$esCapped,"sf":"$sfDir"}"""
    val entries = timings.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""${code(k)}":${num2(v)}""" }
    val budget = lineBudget - fixedHead.length - fixedTail.length - 40
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var used = 2 // braces
    entries.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val omitted = entries.size - kept.size
    val qs2 = kept.mkString("{", ",", "}") +
      (if (omitted > 0) s""","queries_omitted":$omitted""" else "")
    val qs3 = timings.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val rs = rows.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val line = fixedHead + qs2 + fixedTail
    val detail =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs3,"rows":$rs,"errors":$es,"sf":"$sfDir","stdout_line_bytes":${line.length}}"""
    val out = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, detail.getBytes("UTF-8"))
    // committed copy at the repo root: the stdout line is capped, so
    // the full per-query record has to live somewhere the round's
    // snapshot keeps (target/ is not tracked). A filtered run would
    // replace that full record with a partial one, so only an
    // unfiltered run writes it.
    if (only.isEmpty) java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
