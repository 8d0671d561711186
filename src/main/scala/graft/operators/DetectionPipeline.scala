package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's entire post-inference semantic re-expressed as
  * declarative relational stages (`gst-detection-tf.py:294-322,386-400`
  * → SURVEY.md §2.2-§2.4). All narrow transformations until the label
  * join; at 100 TB the only shuffle anywhere in this pipeline is
  * avoided by broadcasting the 80-row label dim.
  *
  * Input contract: a DataFrame with columns
  *   video_id, frame_id, height, width,
  *   detections ARRAY<STRUCT<ymin,xmin,ymax,xmax FLOAT/DOUBLE, score, class_id INT>>
  * (what `Detect.detect`, the DetectExec plan node, produces).
  */
object DetectionPipeline {

  /** F1: confidence mask *before* any per-box work, exactly like the
    * reference's `confidences > prob_threshold` (strict >,
    * `gst-detection-tf.py:296`). Filtering inside the array (before
    * explode) keeps the generator from materializing dead rows. */
  def thresholdFilter(df: DataFrame, threshold: Double): DataFrame =
    df.withColumn("detections",
      filter(col("detections"), d => d("score") > lit(threshold)))

  /** E1: 1 frame → N boxes via posexplode; `box_ref` is the 1-based
    * ordinal within the *surviving* boxes (`_ref = i + 1`,
    * `gst-detection-tf.py:398` — the loop runs post-mask). F2's
    * empty-result short-circuit is free: an empty array explodes to
    * zero rows. */
  def explodeBoxes(df: DataFrame): DataFrame =
    df.select(
        col("video_id"), col("frame_id"), col("height"), col("width"),
        posexplode(col("detections")).as(Seq("pos", "det")))
      .select(
        col("video_id"), col("frame_id"), col("height"), col("width"),
        (col("pos") + 1).cast("int").as("box_ref"),
        col("det.ymin").as("ymin"), col("det.xmin").as("xmin"),
        col("det.ymax").as("ymax"), col("det.xmax").as("xmax"),
        col("det.score").as("score"), col("det.class_id").as("class_id"))

  /** P9: normalized floats → pixel ints. The reference scales
    * {ymin*h, xmin*w, ymax*h, xmax*w} then truncates to int32
    * (`astype(np.int32)`, `gst-detection-tf.py:298-306`) and stores
    * those four values directly as rectangle x/y/w/h
    * (`gst-detection-tf.py:315-318`) — quirk preserved. Coordinates
    * are non-negative so `cast("int")` (truncation) == floor.
    * Deliberate deviation: arithmetic runs in the coerced (double)
    * precision rather than numpy's float32, which can differ by one
    * pixel when the float32 product rounds up across an integer
    * boundary (e.g. 0.9f*640: float32 → 576, double → 575). Double
    * is the more accurate result and matches the SQL oracle. */
  def scaleBoxes(df: DataFrame): DataFrame = {
    // Explicit double widening: when coords arrive as FLOAT (the real
    // detector path), float32*int arithmetic would round differently
    // than the DuckDB oracle's CAST(REAL AS DOUBLE)*INT; when they
    // arrive as DOUBLE (synthetic path) the cast is a no-op.
    def px(c: String, dim: String) =
      (col(c).cast("double") * col(dim)).cast("int")
    df.select(
      col("video_id"), col("frame_id"), col("box_ref"),
      px("ymin", "height").as("x"),
      px("xmin", "width").as("y"),
      px("ymax", "height").as("w"),
      px("xmax", "width").as("h"),
      col("class_id").as("label_id"), col("score"))
  }

  /** P10/J1: label id → name. The reference's in-process dict lookup
    * (`gst-detection-tf.py:394-396`) becomes a broadcast hash join —
    * the dim is tiny (80 COCO classes), so no shuffle at any scale. */
  def joinLabels(boxes: DataFrame, labels: DataFrame): DataFrame =
    boxes.join(broadcast(labels), Seq("label_id"), "inner")

  /** P13: the VDMS `AddBoundingBox` nested record
    * (`gst-detection-tf.py:308-322`), as a struct projection; pair
    * with `to_json` for the wire shape. */
  def vdmsRecord(df: DataFrame): Column =
    struct(
      struct(
        col("box_ref").as("_ref"),
        struct(col("x"), col("y"), col("w"), col("h")).as("rectangle")
      ).as("AddBoundingBox"),
      struct(col("label_id").as("label")).as("properties"))

  /** Full post-inference chain: mask → explode → scale. */
  def boxes(detections: DataFrame, threshold: Double): DataFrame =
    scaleBoxes(explodeBoxes(thresholdFilter(detections, threshold)))
}
