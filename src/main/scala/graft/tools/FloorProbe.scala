package graft.tools

import org.apache.spark.sql.functions._

/** What is inside the ~0.5 s execute floor of a trivial query?
  * Times, after warm-up, median of 5:
  *   noop1   — 1-row in-memory DF → noop (pure job/write overhead)
  *   noop32  — 32-partition in-memory DF → noop (task fan-out cost)
  *   scan    — full lineitem scan → noop (I/O + codegen floor)
  *   agg     — q1-shaped groupBy agg → noop (adds one exchange + AQE)
  *   aggNoAqe— same with AQE off (isolates AQE stage-barrier cost)
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def med(label: String)(body: => Unit): Unit = {
      body // warm
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"PROBE $label ${ts(2)}%.3f")
    }

    val li = graft.sources.Tables.lineitem(spark, sfDir)
    med("noop1") {
      Seq(1).toDF("x").write.format("noop").mode("overwrite").save()
    }
    med("noop32") {
      spark.range(0, 32, 1, 32).write.format("noop").mode("overwrite").save()
    }
    med("scan") {
      li.write.format("noop").mode("overwrite").save()
    }
    med("agg") {
      li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    med("aggNoAqe") {
      li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    println("lineitem rows=" + li.count())
    spark.stop()
  }
}
