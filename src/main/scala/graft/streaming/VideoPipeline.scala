package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import graft.operators.{DetectorConfig, Detectors}
import graft.sources.{FrameSource, Labels}

/** The user-facing entry point: what `run.sh` + `settings.yaml` are
  * to the reference (`/root/reference/run.sh:53`,
  * `config/settings.yaml:1-18`), this is to the engine — a reference
  * user brings the same flat config keys and gets the same pipeline:
  * frame source → preprocess+inference → threshold → boxes → labels
  * → VDMS-shaped sink, with frame limit and EOS semantics.
  */
final case class PipelineConfig(
    videoPath: String,                 // frame-metadata parquet dir (filesrc)
    labelFile: String,                 // id:name dim (coco.label shape)
    faceThreshold: Double = 0.7,       // settings.yaml:15 (strict >)
    totalFrames: Long = -1L,           // settings.yaml:12 (-1 = all)
    device: String = "CPU",
    dataType: String = "FP32",
    preprocFw: String = "np",          // settings.yaml:4
    modelPath: Option[String] = None,  // settings.yaml:17-18
    modelInput: Int = 1200,            // model input edge (settings.yaml:17-18 names)
    checkpointDir: String = "")

object PipelineConfig {
  /** Parse the reference's flat `key: value` YAML subset
    * (`config/settings.yaml` is flat scalars — no nesting needed). */
  def fromYaml(text: String): Map[String, String] =
    text.linesIterator
      .map(_.takeWhile(_ != '#').trim)
      .filter(l => l.nonEmpty && l.contains(":"))
      .map { l =>
        val Array(k, v) = l.split(":", 2)
        k.trim -> v.trim
      }.toMap

  def fromMap(m: Map[String, String]): PipelineConfig =
    PipelineConfig(
      videoPath = m.getOrElse("video_path",
        throw new IllegalArgumentException("video_path is required")),
      labelFile = m.getOrElse("label_file",
        throw new IllegalArgumentException("label_file is required")),
      faceThreshold = m.get("face_threshold").map(_.toDouble).getOrElse(0.7),
      totalFrames = m.get("total_frames").map(_.toLong).getOrElse(-1L),
      device = m.getOrElse("device", "CPU"),
      dataType = m.getOrElse("data_type", "FP32"),
      preprocFw = m.getOrElse("preproc_fw", "np"),
      modelPath = m.get("model_path"),
      modelInput = m.get("model_input").map(_.toInt).getOrElse(1200),
      checkpointDir = m.getOrElse("checkpoint_dir", ""))
}

object VideoPipeline {
  /** Launch the configured pipeline. Bounded (AvailableNow) unless a
    * frame limit is set, in which case the limit listener stops the
    * query (`total_frames` semantics). Without a `checkpoint_dir` the
    * run checkpoints to a fresh `graft-ckpt-*` directory under
    * `java.io.tmpdir`, which nothing can resume from, so it is deleted
    * once the query terminates; a named `checkpoint_dir` is never
    * touched. */
  def run(spark: SparkSession, cfg: PipelineConfig,
      store: MetadataStore): StreamingQuery = {
    // the detector config is checked before any source is opened
    val detectorFactory = Detectors.forConfig(DetectorConfig(
      device = cfg.device, dataType = cfg.dataType,
      preprocFw = cfg.preprocFw, modelPath = cfg.modelPath,
      modelInput = cfg.modelInput))
    val frames = FrameSource.frameStream(spark, cfg.videoPath)
    val labels = Labels.fromIdNameFile(spark, cfg.labelFile)
    val ckpt = if (cfg.checkpointDir.nonEmpty) cfg.checkpointDir
      else java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    val query =
      if (cfg.totalFrames > 0)
        DetectionStream.runWithFrameLimit(spark, frames, labels,
          detectorFactory, store, ckpt, cfg.totalFrames, cfg.faceThreshold)
      else
        DetectionStream.runAvailableNow(frames, labels, detectorFactory,
          store, ckpt, cfg.faceThreshold)
    if (cfg.checkpointDir.isEmpty) deleteWhenTerminated(spark, query, new java.io.File(ckpt))
    query
  }

  /** Delete `dir` once `query` has terminated, however it ends, with a
    * listener that leaves with the query, like `runWithFrameLimit`'s. */
  private def deleteWhenTerminated(spark: SparkSession, query: StreamingQuery,
      dir: java.io.File): Unit = {
    def cleanUp(l: StreamingQueryListener): Unit = {
      spark.streams.removeListener(l)
      graft.TmpPaths.deleteRecursively(dir)
    }
    val cleaner = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) cleanUp(this)
    }
    spark.streams.addListener(cleaner)
    // the query may have ended before the listener was registered, so
    // its terminated event is never seen
    if (!query.isActive) cleanUp(cleaner)
  }
}
