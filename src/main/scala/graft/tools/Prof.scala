package graft.tools

import java.util.Locale
import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import graft.{Engine, SparkEntry}

/** The profiler: `runMain graft.tools.Prof <query>...` profiles the
  * named `SparkEntry.queries` on the tables in `SPARK_GRAFT_SF_DIR`.
  *
  * Per query it follows Bench's method — one preheat, then [[Runs]]
  * timed noop-sink runs with DataFrame construction inside the timed
  * region — and splits each run into
  *   construct — building the DataFrame (the iterative queries run
  *               real jobs here: CC rounds, trainer materializations)
  *   plan      — analysis + optimization + physical planning, forced
  *               through `executedPlan`
  *   execute   — the noop write of the planned frame.
  * A SparkListener counts the jobs, stages and tasks of every run
  * (the structural counters host steal cannot move), and for the
  * median run keeps a per-stage table — wall, CPU, GC, tasks, input,
  * shuffle read/write bytes and records written — of the
  * [[StageCap]] slowest stages. Stage walls are the scheduler's own
  * `submissionTime`/`completionTime`, not the listener thread's
  * clock, and the bus is drained before a run's counters are read.
  * `compiles` (per run) and `preheat_compiles` count the classes
  * janino compiled during that execution: `CodeGenerator` times one
  * compile per codegen-cache miss. The preheat compiles the query's
  * working set; a timed run's count near it means the cache evicted
  * that set (AQE alone adds a few, 0–4 at sf0.01).
  *
  * Output: one JSON line per query on stdout, numbers formatted
  * under Locale.ROOT:
  * {{{
  * {"query":…,"sf":…,"total_s":{"min","median","max"},"construct_s":…,
  *  "plan_s":…,"execute_s":…,"runs":[{"total_s","construct_s","plan_s",
  *  "execute_s","jobs","stages","tasks","compiles"}…],"median_run":i,
  *  "preheat_compiles":n,
  *  "stage_table":[{"stage","name","wall_s","cpu_s","gc_s","tasks",
  *  "input_bytes","shuffle_read_bytes","shuffle_write_bytes","records"}…]}
  * }}}
  */
object Prof {
  val Runs = 3
  val StageCap = 25

  final case class Stage(id: Int, name: String, wallMs: Long, cpuNs: Long,
      gcMs: Long, tasks: Int, input: Long, shuffleRead: Long,
      shuffleWrite: Long, records: Long)

  final case class Run(construct: Double, plan: Double, execute: Double,
      jobs: Int, stages: Int, tasks: Int, compiles: Long,
      stageTable: Seq[Stage]) {
    def total: Double = construct + plan + execute
  }

  /** Counts what the scheduler reports; read only after the bus has
    * been drained. */
  private final class Counter extends SparkListener {
    private var jobs, tasks = 0
    private val stages = mutable.ArrayBuffer[Stage]()

    def reset(): Unit = synchronized { jobs = 0; tasks = 0; stages.clear() }
    def snapshot(): (Int, Int, Int, Seq[Stage]) =
      synchronized { (jobs, stages.size, tasks, stages.toList) }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime)
        yield c - s).getOrElse(0L)
      val m = si.taskMetrics
      val st = Stage(si.stageId, si.name, wall, m.executorCpuTime, m.jvmGCTime,
        si.numTasks, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
      synchronized { stages += st }
    }
  }

  /** [[Runs]] profiled runs of query `name` after one preheat, as
    * one JSON line. */
  def profile(spark: SparkSession, sfDir: String, name: String): String = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // preheat
    val preheatCompiles = compiles - c0
    val counter = new Counter
    sc.addSparkListener(counter)
    val runs = try (1 to Runs).map { _ =>
      GraftSqlBridge.drainListenerBus(sc) // earlier runs' events out
      counter.reset()
      val c = compiles
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      GraftSqlBridge.drainListenerBus(sc)
      val (jobs, stages, tasks, table) = counter.snapshot()
      Run((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        jobs, stages, tasks, compiles - c, table.sortBy(-_.wallMs).take(StageCap))
    } finally sc.removeSparkListener(counter)
    json(name, sfDir, runs, preheatCompiles)
  }

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def spread(xs: Seq[Double]): String = {
    val s = xs.sorted
    s"""{"min":${num(s.head)},"median":${num(s(s.size / 2))},"max":${num(s.last)}}"""
  }

  private def json(name: String, sfDir: String, runs: Seq[Run],
      preheatCompiles: Long): String = {
    val medianRun = runs.indices.sortBy(runs(_).total).apply(runs.size / 2)
    val runRecs = runs.map { r =>
      s"""{"total_s":${num(r.total)},"construct_s":${num(r.construct)},""" +
      s""""plan_s":${num(r.plan)},"execute_s":${num(r.execute)},""" +
      s""""jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},""" +
      s""""compiles":${r.compiles}}"""
    }
    val stageRecs = runs(medianRun).stageTable.map { s =>
      s"""{"stage":${s.id},"name":${str(s.name.take(90))},""" +
      s""""wall_s":${num(s.wallMs / 1e3)},"cpu_s":${num(s.cpuNs / 1e9)},""" +
      s""""gc_s":${num(s.gcMs / 1e3)},"tasks":${s.tasks},""" +
      s""""input_bytes":${s.input},"shuffle_read_bytes":${s.shuffleRead},""" +
      s""""shuffle_write_bytes":${s.shuffleWrite},"records":${s.records}}"""
    }
    s"""{"query":${str(name)},"sf":${str(sfDir)},""" +
    s""""total_s":${spread(runs.map(_.total))},""" +
    s""""construct_s":${spread(runs.map(_.construct))},""" +
    s""""plan_s":${spread(runs.map(_.plan))},""" +
    s""""execute_s":${spread(runs.map(_.execute))},""" +
    s""""runs":${runRecs.mkString("[", ",", "]")},"median_run":$medianRun,""" +
    s""""preheat_compiles":$preheatCompiles,""" +
    s""""stage_table":${stageRecs.mkString("[", ",", "]")}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated table directory"))
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Engine.session("graft-prof")
    spark.sparkContext.setLogLevel("ERROR")
    try args.foreach(name => println(profile(spark, sfDir, name)))
    finally spark.stop()
  }
}
