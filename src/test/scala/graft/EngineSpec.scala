package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Engine.iterate`, the one round loop: when it stops, what it pins,
  * what it frees, and that both snapshot modes give the same rows;
  * and that `Engine.session` keeps a fixpoint's generated classes. */
class EngineSpec extends SparkTestBase {
  import testImplicits._

  // x ← min(x + 1, cap): reaches its fixpoint after `cap` rounds
  private def init: DataFrame = (0L until 6L).toDF("x").select(lit(0L).as("x"))
  private def bump(cap: Long)(df: DataFrame, round: Int): DataFrame =
    df.select(least(col("x") + 1L, lit(cap)).as("x"))
  private def xs(df: DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  test("iterate stops at the first round done accepts, and done reads " +
    "prev while it is still pinned") {
    var rounds = 0
    val (out, converged) = Engine.iterate(init, 10,
        done = (prev, next) => next.except(prev).isEmpty) { (df, i) =>
      rounds = i
      bump(3L)(df, i)
    }
    // rounds 1..3 move x; round 4 is the first unchanged one
    assert(converged && rounds === 4)
    assert(xs(out) === Seq.fill(6)(3L))
  }

  test("iterate honours maxRounds and reports converged = false") {
    var rounds = 0
    val (out, converged) = Engine.iterate(init, 4) { (df, i) =>
      rounds = i
      bump(100L)(df, i)
    }
    assert(!converged && rounds === 4)
    assert(xs(out) === Seq.fill(6)(4L))
  }

  test("iterate with zero rounds returns init itself and never steps") {
    val in = init
    val (out, converged) = Engine.iterate(in, 0,
        done = (_, _) => true) { (_, _) => fail("step ran") }
    assert((out eq in) && !converged)
  }

  test("iterate leaves at most one new persisted RDD, the one behind " +
    "its result") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (out, _) = Engine.iterate(init, 5)(bump(100L))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"left ${added.size} RDDs persisted")
    assert(xs(out) === Seq.fill(6)(5L))
    assert(xs(out) === Seq.fill(6)(5L))
  }

  test("iterate under spark.graft.reliableSnapshots=true returns the " +
    "same rows as the default mode") {
    def run(): (Seq[Long], Boolean) = {
      val (out, converged) = Engine.iterate(init, 10,
          done = (prev, next) => next.except(prev).isEmpty)(bump(3L))
      (xs(out), converged)
    }
    val local = run()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-iterate-spec").toString
    spark.conf.set("spark.graft.reliableSnapshots", "true")
    spark.conf.set("spark.graft.snapshotDir", dir)
    try {
      assert(run() === local)
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      spark.conf.set("spark.graft.reliableSnapshots", "false")
      spark.conf.unset("spark.graft.snapshotDir")
    }
    assert(local === ((Seq.fill(6)(3L), true)))
  }

  test("session: the codegen cache holds d18_incremental_cc's working " +
    "set, so a second execution compiles at most 5 classes") {
    // CodeGenerator sizes its cache once per JVM, at first use; the
    // compile counter, not a conf read-back, shows the size took
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Long = {
      val c = compiles
      SparkEntry.queries("d18_incremental_cc")(spark, sf)
        .write.format("noop").mode("overwrite").save()
      compiles - c
    }
    val first = run()
    val second = run()
    assert(second <= 5L, s"first execution compiled $first, second $second")
  }
}
