package graft.operators

import graft.model.{Frame, FrameDetections, RawDetection}
import org.apache.spark.sql.Dataset

/** Model-inference surface (SURVEY.md §2.5).
  *
  * A `Detector` is created once per partition (mirroring the
  * reference's once-per-process session init,
  * `gst-detection-tf.py:200-237`) and scores frames in micro-batches
  * (the reference runs batch=1, `gst-detection-tf.py:288-289`; we
  * batch to amortize per-call overhead — same "scalar outer loop,
  * vectorized kernel" structure at a better operating point).
  */
trait Detector extends Serializable {
  /** Score a batch of frames; one detection list per input frame,
    * aligned by position. */
  def detectBatch(frames: Seq[Frame]): Seq[Seq[RawDetection]]
}

/** Deterministic stub detector for hermetic tests and oracle parity
  * (SURVEY.md §5: correctness tests must not need TensorFlow).
  *
  * Derivation is pure integer arithmetic on (frame_id, box ordinal):
  *   n_boxes  = frame_id % 5
  *   score_i  = {0.5, 0.69, 0.70, 0.71, 0.95}[(frame_id + i) % 5]
  *              — probes the strict `> 0.7` threshold of
  *              `gst-detection-tf.py:296` on both sides and at the
  *              boundary
  *   class_i  = (frame_id + i) % 25  — joins the 25-row label dim
  *   ymin     = ((frame_id*7  + i*13) % 100) / 200.0
  *   xmin     = ((frame_id*11 + i*17) % 100) / 200.0
  *   ymax     = ymin + (((frame_id + i*19) % 100) + 1) / 250.0
  *   xmax     = xmin + (((frame_id*3 + i*23) % 100) + 1) / 250.0
  * All coordinates stay in [0, 1]; the same formulas are restated in
  * SQL by the oracle queries (queries/VideoQueries.scala), so the
  * full pipeline is DuckDB-checkable end to end.
  */
object StubDetector extends Detector {
  val scoreCycle: Array[Float] = Array(0.5f, 0.69f, 0.70f, 0.71f, 0.95f)

  def detectOne(frameId: Long): Seq[RawDetection] = {
    val n = (frameId % 5).toInt
    (0 until n).map { i =>
      val ymin = ((frameId * 7 + i * 13) % 100) / 200.0
      val xmin = ((frameId * 11 + i * 17) % 100) / 200.0
      val ymax = ymin + (((frameId + i * 19) % 100) + 1) / 250.0
      val xmax = xmin + (((frameId * 3 + i * 23) % 100) + 1) / 250.0
      RawDetection(ymin.toFloat, xmin.toFloat, ymax.toFloat, xmax.toFloat,
        scoreCycle(((frameId + i) % 5).toInt), ((frameId + i) % 25).toInt)
    }
  }

  override def detectBatch(frames: Seq[Frame]): Seq[Seq[RawDetection]] =
    frames.map(f => detectOne(f.frame_id))
}

object Detect {
  /** The `predict` operator: partition-scoped scoring with
    * per-partition model init and intra-partition micro-batching —
    * the standard Spark model-serving pattern (SURVEY.md §4 custom
    * piece 1). Planned as the DetectNode → DetectExec plan node
    * (`plans/DetectPlan.scala`, injected by GraftExtensions), so the
    * operator and its batch size show in explain output, in batch and
    * streaming plans alike. Narrow: no shuffle; pixels never leave
    * the partition. */
  def detect(
      frames: Dataset[Frame],
      detectorFactory: () => Detector,
      batchSize: Int = 32): Dataset[FrameDetections] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[FrameDetections]
    val node = graft.plans.DetectNode(
      frames.queryExecution.logical, detectorFactory, batchSize)
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(
      frames.sparkSession, node).as[FrameDetections]
  }

  /** `detector.detectBatch(frames)`, refused by name unless it holds
    * one detection list per frame: the callers pair lists with frames
    * by position, which would otherwise drop unmatched frames
    * silently. A frame with a non-positive height or width (one a
    * user's parquet can carry through `FrameSource.conform`) is
    * refused by name first, whatever the detector. */
  private[graft] def detectAligned(detector: Detector,
      frames: Seq[Frame]): Seq[Seq[RawDetection]] = {
    for (f <- frames) require(f.height > 0 && f.width > 0, s"frame ${f.video_id}/" +
      s"${f.frame_id} has non-positive dimensions ${f.height}x${f.width} (height x width)")
    val dets = detector.detectBatch(frames)
    if (dets.length != frames.length) throw new IllegalStateException(
      s"detectBatch returned ${dets.length} detection lists for ${frames.length} frames")
    dets
  }
}
