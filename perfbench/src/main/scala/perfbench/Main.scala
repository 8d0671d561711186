package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run reports: metrics, input description, named checks and
  * the operation count behind `attempted` / `failed`. */
final class Result {
  private val metricsM = mutable.LinkedHashMap[String, Double]()
  private val inputsM = mutable.LinkedHashMap[String, Double]()
  private val checksM = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var attemptedN = 0L
  private var failedN = 0L

  def metric(k: String, v: Double): Unit = metricsM(k) = v
  def metrics(m: Map[String, Double]): Unit = m.foreach { case (k, v) => metric(k, v) }
  def get(k: String): Double = metricsM.getOrElse(k, 0.0)
  def input(k: String, v: Double): Unit = inputsM(k) = v
  def check(name: String, ok: Boolean, detail: String): Unit =
    checksM += ((name, ok, if (ok) "" else detail))
  def attempt(ok: Boolean, n: Long = 1): Unit = {
    attemptedN += n
    if (!ok) failedN += n
  }

  def toJson: String = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val checks = checksM.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    s"""{"attempted":$attemptedN,"failed":$failedN,"checks":$checks,""" +
      s""""inputs":${obj(inputsM)},"metrics":${obj(metricsM)}}"""
  }
}

final case class RunContext(workload: String, seed: Long, seconds: Double,
    traced: Boolean, tiny: Boolean, work: Path, result: Result) {
  val master: String = s"local[${Runtime.getRuntime.availableProcessors()}]"
  private var n = 0
  /** A fresh directory under the run's work directory. */
  def newDir(name: String): Path = synchronized {
    n += 1
    Files.createDirectories(work.resolve(s"$name-$n"))
  }
}

object Setup {
  /** Runs `body` (session start + model load + warm-up) `times` times,
    * stopping every session but the last; returns the last session and
    * the median set-up time in seconds. */
  def repeat(times: Int)(body: => SparkSession): (SparkSession, Double) = {
    val ts = mutable.ArrayBuffer[Double]()
    var last: SparkSession = null
    (1 to times).foreach { i =>
      if (last != null) last.stop()
      val t0 = Spans.nowMs
      last = body
      val t1 = Spans.nowMs
      Spans.add(s"setup$i", "setup", "", t0, t1)
      ts += (t1 - t0) / 1e3
    }
    (last, Harness.median(ts.toSeq))
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> [--data <dir>] [--size full|tiny]`. Writes
  * the run's result JSON to `--out` and its spans next to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = RunContext(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", a.getOrElse("size", "full") == "tiny",
      Paths.get(a("work")).toAbsolutePath, new Result)
    val out = Paths.get(a("out")).toAbsolutePath
    val setups = if (ctx.tiny) 2 else 3
    val video = new Video(ctx)
    Spans.time(ctx.workload, "workload", "") {
      ctx.workload match {
        case "video_backlog" =>
          // one pass (4 clips, two triggers of the default 2 files) is ~14 s
          video.backlog(
            if (ctx.tiny) VideoShape(2, 64, 48, 4, 64) else VideoShape(4, 320, 240, 60, 1200),
            Harness.reps(ctx.seconds, 14.0), setups)
        case "query_mix" =>
          new QueryMix(ctx, a("data")).run(setups)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    ctx.result.metric("memory.peak_rss_mb", Harness.peakRssMb())
    // the traced run's own end-to-end figures: against an untraced run
    // of the same workload they give the tracing overhead
    if (ctx.traced)
      Seq("throughput_per_s", "latency_geomean_ms")
        .foreach(k => ctx.result.metric(s"trace.$k", ctx.result.get(k)))
    Spans.write(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.json"))
    Files.write(out, ctx.result.toJson.getBytes("UTF-8"))
    sys.exit(0)
  }
}
