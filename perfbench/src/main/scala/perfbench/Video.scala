package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Engine
import graft.model.Frame
import graft.operators.{Codecs, DetectorConfig, Detectors, Detector, GraftNet, Inter}
import graft.sources.FrameSource
import graft.streaming.DetectionStream

/** Shape of one video workload's input and model settings. */
final case class VideoShape(clips: Int, width: Int, height: Int,
    frames: Int, modelInput: Int)

/** The streaming workload. It drives the engine only through its public
  * entry points: `FrameSource.videoFileStream`,
  * `DetectionStream.runAvailableNow`, `Detectors.forConfig` and the
  * `MetadataStore` sink trait. */
final class Video(ctx: RunContext) {
  import ctx._

  /** The bundled model scores generated clips around 0.49-0.53, so the
    * reference's strict 0.7 would keep nothing; 0.5 keeps a share. */
  val Threshold = 0.5

  def config(modelInput: Int): DetectorConfig =
    DetectorConfig(modelPath = Some(GraftNet.BundledModel), modelInput = modelInput)

  def factory(modelInput: Int): () => Detector = {
    val f = Detectors.forConfig(config(modelInput))
    if (traced) TracedDetector.factory(f) else f
  }

  def labels(spark: SparkSession): DataFrame =
    spark.createDataFrame((0 until 25).map(i => (i, s"label_$i")))
      .toDF("label_id", "label")

  def writeClips(dir: Path, shape: VideoShape, salt: Int): Seq[Path] = {
    Files.createDirectories(dir)
    (0 until shape.clips).map { i =>
      val p = dir.resolve(f"clip_$salt%d_$i%04d.mp4")
      Files.write(p, Clips.clip(seed, salt * 100000 + i, shape.width,
        shape.height, shape.frames))
    }
  }

  /** Session start, model load, and a warm-up drain of a short clip of
    * the workload's geometry through the entry point it then measures. */
  def setup(master: String, shape: VideoShape): SparkSession = {
    val spark = Engine.session("perfbench", master)
    spark.sparkContext.setLogLevel("ERROR")
    Detectors.forConfig(config(shape.modelInput))()
    val warm = newDir("warm")
    writeClips(warm.resolve("in"), shape.copy(clips = 1, frames = math.min(shape.frames, 4)),
      salt = 9)
    val q = DetectionStream.runAvailableNow(
      FrameSource.videoFileStream(spark, warm.resolve("in").toString), labels(spark),
      Detectors.forConfig(config(shape.modelInput)), new BenchStore(traced = false),
      warm.resolve("ckpt").toString, Threshold)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    BenchStore.reset()
    spark
  }

  /** (file name, batch id) for every entry of the file source's log in
    * the checkpoint. */
  def sourceLog(ckpt: Path): Seq[(String, Long)] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f).asScala.filter(_.startsWith("{")).map { line =>
        val path = "\"path\":\"([^\"]*)\"".r.findFirstMatchIn(line).get.group(1)
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
        path.substring(path.lastIndexOf('/') + 1) -> batch
      }
    }
  }

  /** The engine's batch pipeline over the same clips decoded directly:
    * the multiset the streaming sink must reproduce. */
  def reference(spark: SparkSession, clips: Seq[Path], modelInput: Int): Seq[String] = {
    val frames = clips.flatMap { p =>
      val mt = new java.sql.Timestamp(Files.getLastModifiedTime(p).toMillis)
      val name = p.getFileName.toString
      Inter.decodeGopFrames(Files.readAllBytes(p)).zipWithIndex.map { case (f, i) =>
        Frame(name, i.toLong, mt, f.height, f.width,
          Codecs.Y4mCodec.yuv420ToRgb(f.y ++ f.cb ++ f.cr, 0, f.width, f.height))
      }
    }
    val ds = spark.createDataset(frames)(org.apache.spark.sql.Encoders.product[Frame])
    DetectionStream.pipeline(ds, labels(spark), Detectors.forConfig(config(modelInput)), Threshold)
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Single-threaded probe of the model's public `forward` on seeded
    * feature vectors: the network's share of a frame's inference time.
    * The rest of `detectBatch` (timed in the engine's path) is the
    * detector's preprocessing. */
  def forwardUsPerFrame(modelInput: Int): Double = {
    val net = GraftNet.load(config(modelInput).modelPath.get)
    val rnd = new scala.util.Random(seed)
    val feats = Vector.fill(8)(Array.fill(net.inputSize)(rnd.nextFloat()))
    val reps = 200
    (0 until reps).foreach(_ => feats.foreach(net.forward)) // warm-up
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => feats.foreach(net.forward))
    (System.nanoTime() - t0) / 1e3 / (feats.size * reps)
  }

  /** Per-layer metrics of the video workload. Counts are per
    * pass (one pass drains the whole input once), so runs that fit a
    * different number of passes compare. */
  def layerMetrics(raw: Map[String, Double], stream: StreamListener,
      passes: Int, modelInput: Int): Map[String, Double] = {
    val det = Counters.get("detect.frames")
    val heads = Counters.get("detect.heads").toDouble
    val kept = Counters.get("sink.records").toDouble
    val bs = stream.batches
    val trig = bs.map(_.durationMs.get("triggerExecution").doubleValue)
    def phase(k: String): Double =
      Harness.median(bs.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val taskS = math.max(1e-9, raw("task_run_s"))
    val perPass = Set("jobs", "stages", "tasks", "task_cpu_s", "task_gc_s", "task_run_s",
      "shuffle_mb", "spill_mb")
    val counts = Map(
      "inference.model_loads" -> Counters.get("model.loads").toDouble,
      "inference.model_load_ms" -> Counters.get("model.ns") / 1e6,
      "pipeline.frames" -> det.toDouble,
      "pipeline.heads" -> heads,
      "pipeline.boxes_kept" -> kept,
      "sink.connects" -> Counters.get("sink.connects").toDouble,
      "sink.rpcs" -> Counters.get("sink.rpcs").toDouble,
      "sink.records" -> kept,
      "sink.add_ms" -> Counters.get("sink.add.ns") / 1e6,
      "sink.commits" -> Counters.get("sink.commits").toDouble,
      "streaming.batches" -> bs.size.toDouble) ++
      raw.collect { case (k, v) if perPass(k) => s"engine.$k" -> v }
    val detectMs = Counters.get("detect.ns") / 1e6 / math.max(1L, det)
    val forwardUs = forwardUsPerFrame(modelInput)
    counts.map { case (k, v) => k -> v / passes } ++ Map(
      "inference.detect_ms_per_frame" -> detectMs,
      "inference.forward_us_per_frame" -> forwardUs,
      "inference.preprocess_ms_per_frame" -> (detectMs - forwardUs / 1e3),
      "inference.task_share" -> Counters.get("detect.ns") / 1e9 / taskS,
      "codecs.decode_ms_per_frame" -> Counters.get("input.ns") / 1e6 / math.max(1L, det),
      "codecs.task_share" -> Counters.get("input.ns") / 1e9 / taskS,
      "pipeline.keep_ratio" -> (if (heads > 0) kept / heads else 0.0),
      "streaming.trigger_ms_p50" -> Harness.median(trig),
      "streaming.trigger_ms_max" -> (if (trig.isEmpty) 0.0 else trig.max),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch")) ++
      raw.collect { case (k, v) if !perPass(k) => s"engine.$k" -> v }
  }

  // ---- video_backlog ------------------------------------------------

  def backlog(shape: VideoShape, passCount: Int, setups: Int): Unit = {
    val (spark, setupS) = Setup.repeat(setups)(setup(master, shape))
    result.metric("setup_s", setupS)
    val inDir = newDir("backlog").resolve("in")
    val clips = writeClips(inDir, shape, salt = 1)
    result.input("clips", shape.clips)
    result.input("frames", shape.clips.toLong * shape.frames)
    result.input("bytes", clips.map(Files.size).sum)
    val fac = factory(shape.modelInput)
    val lab = labels(spark)
    val el = new EngineListener; val sl = new StreamListener
    if (traced) { spark.sparkContext.addSparkListener(el); spark.streams.addListener(sl) }
    Counters.reset()

    val m0 = el.mark(spark.sparkContext)
    val passes = scala.collection.mutable.ArrayBuffer[(Double, Seq[String], Seq[Double], Boolean)]()
    val tStart = System.nanoTime()
    while (passes.size < passCount) {
      BenchStore.reset()
      val ckpt = newDir(s"backlog/ckpt${passes.size}")
      val p0 = Spans.nowMs
      val t0 = System.nanoTime()
      val q = DetectionStream.runAvailableNow(
        FrameSource.videoFileStream(spark, inDir.toString), lab, fac,
        new BenchStore(traced), ckpt.toString, Threshold)
      q.awaitTermination()
      val t1 = System.nanoTime()
      Spans.add(s"backlog.pass${passes.size}", "pass", workload, p0, Spans.nowMs)
      q.exception.foreach(e => throw e)
      // trigger latency: from the pass start (or the previous commit)
      // to each batch's sink commit
      val commitNs = BenchStore.commits.asScala.toSeq.map(_._2).sorted
      val trig = (t0 +: commitNs).sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
      trig.foldLeft(p0) { (start, ms) =>
        Spans.add("trigger", "trigger", s"backlog.pass${passes.size}", start, start + ms)
        start + ms
      }
      val log = sourceLog(ckpt).toMap
      val committed = BenchStore.commits.asScala.map(_._1).toSet
      val clipNames = clips.map(_.getFileName.toString)
      val missing = clipNames.filterNot(n => log.get(n).exists(committed.contains))
      result.check(s"backlog pass ${passes.size}: every clip committed",
        missing.isEmpty, s"uncommitted: ${missing.take(3).mkString(",")}")
      passes += (((t1 - t0) / 1e9, BenchStore.records.sorted, trig, missing.isEmpty))
    }
    val wall = (System.nanoTime() - tStart) / 1e9
    val m1 = el.mark(spark.sparkContext)
    val framesPerPass = shape.clips.toLong * shape.frames
    val totalFrames = framesPerPass * passes.size
    result.metric("throughput_per_s", totalFrames / passes.map(_._1).sum)
    val trig = passes.flatMap(_._3).toSeq
    result.metric("latency.p50_ms", Harness.median(trig))
    result.metric("latency_geomean_ms", Harness.geomean(trig))
    result.input("passes", passes.size)

    // correctness, outside the timed region
    val want = reference(spark, clips, shape.modelInput)
    passes.zipWithIndex.foreach { case ((_, got, _, allCommitted), i) =>
      result.check(s"backlog pass $i: sink records = batch pipeline",
        got == want, s"${got.size} records vs ${want.size} expected")
      result.attempt(allCommitted && got == want, shape.clips.toLong)
    }
    result.input("records_per_pass", want.size)

    if (traced) {
      result.metric("latency.p90_ms", Harness.pct(trig, 0.9))
      result.metric("latency.samples", trig.size.toDouble)
      val engine = el.window(m0, m1, wall, Harness.slots(spark))
      result.metrics(layerMetrics(engine, sl, passes.size, shape.modelInput))
      result.metric("codecs.bytes_in", clips.map(Files.size).sum.toDouble)
      spark.stop()
      // single-threaded baseline: one clip drained at local[1]
      val one = newDir("backlog1").resolve("in")
      Files.createDirectories(one)
      Files.copy(clips.head, one.resolve(clips.head.getFileName))
      val s1 = setup("local[1]", shape)
      val t0 = System.nanoTime()
      val q = DetectionStream.runAvailableNow(FrameSource.videoFileStream(s1, one.toString),
        labels(s1), Detectors.forConfig(config(shape.modelInput)),
        new BenchStore(traced = false), newDir("backlog1/ckpt").toString, Threshold)
      q.awaitTermination()
      val fps1 = shape.frames / ((System.nanoTime() - t0) / 1e9)
      result.metric("scaling.local1_fps", fps1)
      result.metric("scaling.ratio", result.get("throughput_per_s") / fps1)
      s1.stop()
    } else spark.stop()
  }
}
