package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Stage-level decomposition of one query's noop run (guide §1/§7):
  * runs the query once warm, then once instrumented with a
  * SparkListener, printing every stage's wall time, task count,
  * input/shuffle-read/shuffle-write bytes and records, sorted by
  * wall time. Maps the expensive stages back to plan operators.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-stageprof")
    spark.sparkContext.setLogLevel("ERROR")

    case class S(name: String, var submitted: Long = 0L, var completed: Long = 0L,
                 var tasks: Int = 0, var input: Long = 0L, var sr: Long = 0L,
                 var sw: Long = 0L, var records: Long = 0L, var cpuMs: Long = 0L,
                 var gcMs: Long = 0L)
    val stages = mutable.LinkedHashMap[Int, S]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val si = e.stageInfo
        stages.getOrElseUpdate(si.stageId, S(si.name)).submitted = System.nanoTime()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val s = stages.getOrElseUpdate(si.stageId, S(si.name))
        s.completed = System.nanoTime()
        s.tasks = si.numTasks
        s.input = si.taskMetrics.inputMetrics.bytesRead
        s.sr = si.taskMetrics.shuffleReadMetrics.totalBytesRead
        s.sw = si.taskMetrics.shuffleWriteMetrics.bytesWritten
        s.records = si.taskMetrics.outputMetrics.recordsWritten +
          si.taskMetrics.shuffleWriteMetrics.recordsWritten
        s.cpuMs = si.taskMetrics.executorCpuTime / 1000000
        s.gcMs = si.taskMetrics.jvmGCTime
      }
    }

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      // stage events arrive on the async bus: read them only once
      // it has delivered everything the run posted
      org.apache.spark.sql.graftbridge.GraftSqlBridge
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"STAGEPROF $name total=$total%.3f stages=${stages.size}")
      val rows = stages.values.toSeq.sortBy(s => -(s.completed - s.submitted))
      rows.take(25).foreach { s =>
        val wall = (s.completed - s.submitted) / 1e9
        println(f"  wall=$wall%7.3f cpu=${s.cpuMs / 1000.0}%7.2f gc=${s.gcMs / 1000.0}%5.2f tasks=${s.tasks}%4d in=${s.input / 1048576.0}%8.1fMB sr=${s.sr / 1048576.0}%8.1fMB sw=${s.sw / 1048576.0}%8.1fMB recs=${s.records}%10d  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
