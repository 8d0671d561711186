package graft.model

import java.sql.Timestamp

/** Core record shapes of the engine (SURVEY.md §1.2).
  *
  * `Frame` mirrors the reference's decoded-buffer record
  * (`gst-detection-tf.py:243-254`): one row per RGB frame, pixels
  * packed as bytes; `ts` is added because Structured Streaming makes
  * the reference's implicit arrival order explicit event time.
  */
final case class Frame(
    video_id: String,
    frame_id: Long,
    ts: Timestamp,
    height: Int,
    width: Int,
    data: Array[Byte])

/** One raw detection, normalized coords — mirrors the aligned
  * bboxes/scores/classes arrays of `gst-detection-tf.py:236-237,289`. */
final case class RawDetection(
    ymin: Float,
    xmin: Float,
    ymax: Float,
    xmax: Float,
    score: Float,
    class_id: Int)

/** Per-frame inference output: the frame key plus its detection
  * array (pixels dropped — at 100 TB the image payload must not
  * survive past inference, exactly as the reference discards tensors
  * after `sess.run`). */
final case class FrameDetections(
    video_id: String,
    frame_id: Long,
    height: Int,
    width: Int,
    detections: Seq[RawDetection])
