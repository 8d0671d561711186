package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.model.{Frame, RawDetection}
import graft.operators.Detector
import graft.streaming.{InMemoryStore, MetadataConnection, MetadataStore}

/** JVM-wide counters bumped from task threads. In local mode every
  * task runs in this JVM, so a static map sees all of them. */
object Counters {
  private val m = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def get(k: String): Long = Option(m.get(k)).map(_.get).getOrElse(0L)
  def reset(): Unit = m.clear()
}

/** Times `detectBatch` at the detector's public boundary and counts the
  * heads it returns (the funnel's raw side). The engine builds one
  * detector per partition and then feeds it batches pulled from the
  * partition's frame iterator, so the time between the detector's
  * construction (or its previous batch) and the next `detectBatch` call
  * is the time the engine's own source path took to read, decode and
  * convert that batch's frames (plus the small downstream handling of
  * the previous batch's rows). */
final class TracedDetector(inner: Detector) extends Detector {
  private var ready = System.nanoTime()
  override def detectBatch(frames: Seq[Frame]): Seq[Seq[RawDetection]] = {
    val t0 = System.nanoTime()
    Counters.add("input.ns", t0 - ready)
    val out = inner.detectBatch(frames)
    ready = System.nanoTime()
    Counters.add("detect.ns", ready - t0)
    Counters.add("detect.frames", frames.size.toLong)
    Counters.add("detect.heads", out.iterator.map(_.size.toLong).sum)
    out
  }
}

object TracedDetector {
  /** Wraps the detector factory: each call is one model load (the
    * GraftNet detector parses its artifact in its constructor). */
  def factory(inner: () => Detector): () => Detector = () => {
    val t0 = System.nanoTime()
    val d = inner()
    Counters.add("model.ns", System.nanoTime() - t0)
    Counters.add("model.loads", 1L)
    new TracedDetector(d)
  }
}

/** The sink under test is the engine's in-memory VDMS double. This
  * wrapper records the wall time of every batch commit (the end of a
  * clip's latency) and, when traced, the connection / RPC / record
  * funnel. The double's state is JVM-global: `BenchStore.reset()`
  * separates passes. */
final class BenchStore(traced: Boolean) extends MetadataStore {
  private val inner = new InMemoryStore
  def connect(): MetadataConnection = {
    val c = inner.connect()
    if (traced) Counters.add("sink.connects", 1L)
    new MetadataConnection {
      def add(records: Seq[String]): Unit = {
        val t0 = System.nanoTime()
        c.add(records)
        if (traced) {
          Counters.add("sink.add.ns", System.nanoTime() - t0)
          Counters.add("sink.rpcs", 1L)
          Counters.add("sink.records", records.size.toLong)
        }
      }
      def close(): Unit = c.close()
    }
  }
  def isCommitted(batchId: Long): Boolean = inner.isCommitted(batchId)
  def commit(batchId: Long): Unit = {
    inner.commit(batchId)
    BenchStore.commits.add((batchId, System.nanoTime()))
    if (traced) Counters.add("sink.commits", 1L)
  }
}

object BenchStore {
  /** (batch id, nanoTime) per commit call, in call order. */
  val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  def records: Seq[String] = InMemoryStore.all
  def reset(): Unit = { commits.clear(); InMemoryStore.reset() }
}

/** Spark's job / stage / task channel. Read only after
  * `PerfbenchBus.drain`, so a window's counts are complete. */
final class EngineListener extends SparkListener {
  import EngineListener._
  private val jobs = new AtomicLong()
  private val stages = new AtomicLong()
  private val tasks = ArrayBuffer[TaskRec]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.synchronized {
      tasks += TaskRec((e.stageId, e.stageAttemptId), e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  def mark(sc: org.apache.spark.SparkContext): Mark = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Mark(jobs.get, stages.get, tasks.synchronized(tasks.size))
  }

  /** Counters between two marks; `wallS` and `slots` give the share of
    * the available task slots that were busy. */
  def window(a: Mark, b: Mark, wallS: Double, slots: Int): Map[String, Double] = {
    val ts = tasks.synchronized(tasks.slice(a.tasks, b.tasks).toVector)
    val runMs = ts.map(_.runMs).sum.toDouble
    // per stage max/median task time, weighted by the stage's task time
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = math.max(1.0, d(d.size / 2))
      (d.last / med, d.sum)
    }
    val wsum = skews.map(_._2).sum
    val skew = if (wsum > 0) skews.map { case (s, w) => s * w }.sum / wsum else 1.0
    Map(
      "jobs" -> (b.jobs - a.jobs).toDouble,
      "stages" -> (b.stages - a.stages).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "task_run_s" -> runMs / 1e3,
      "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "task_skew" -> skew,
      "slot_busy_share" ->
        (if (wallS > 0) runMs / 1e3 / (wallS * slots) else 0.0))
  }
}

object EngineListener {
  final case class TaskRec(stage: (Int, Int), durMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Mark(jobs: Long, stages: Long, tasks: Int)
}

/** Spark's per-trigger channel: every `StreamingQueryProgress`. */
final class StreamListener extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    buf.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** Progress of the triggers that ran a batch (no-data triggers carry
    * no `addBatch` phase). */
  def batches: Seq[StreamingQueryProgress] =
    buf.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
}

/** In-memory spans (workload, pass, trigger, query, phase), written as
  * JSON when the run ends. */
object Spans {
  final case class Span(name: String, kind: String, parent: String,
      startMs: Double, endMs: Double, attrs: Map[String, Double])
  private val buf = ArrayBuffer[Span]()
  private val origin = System.nanoTime()
  def nowMs: Double = msAt(System.nanoTime())
  def msAt(nanoTime: Long): Double = (nanoTime - origin) / 1e6

  /** `parent` names the span that caused this one ("" for the run). */
  def add(name: String, kind: String, parent: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty): Unit =
    buf.synchronized { buf += Span(name, kind, parent, startMs, endMs, attrs); () }

  def time[T](name: String, kind: String, parent: String)(body: => T): T = {
    val t0 = nowMs
    try body finally add(name, kind, parent, t0, nowMs)
  }

  def write(path: java.nio.file.Path): Unit = {
    val rows = buf.synchronized(buf.toVector).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},"parent":${Json.str(s.parent)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    ()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Session-level helpers shared by the workloads. */
object Harness {
  def slots(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      // nearest-rank on the sorted sample
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** How many repetitions of a unit of work that takes about `unitS`
    * seconds fill a window of `seconds`: at least `min`. Fixed by the
    * arguments, never by elapsed time, so every run of a workload does
    * the same work. */
  def reps(seconds: Double, unitS: Double, min: Int = 1): Int =
    math.max(min, math.round(seconds / unitS).toInt)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
