package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColorFunctions
import graft.operators.DetectionPipeline
import graft.sources.{Labels, Tables}
import graft.Engine.SnapshotOps

/** Oracle-checkable form of the video-analytics pipeline.
  *
  * The testdata has no video frames, so the `events` table stands in
  * as the frame stream (one event = one decoded frame) and a
  * synthetic deterministic detection array — the same integer
  * arithmetic as `operators.StubDetector`, restated in DuckDB SQL by
  * the oracles — stands in for model output. Everything downstream of
  * the detector is the REAL pipeline code (`DetectionPipeline`), so
  * the driver's DuckDB gate checks the actual operators:
  * mask(strict >0.7) → posexplode(_ref=i+1) → scale+int-truncate →
  * broadcast label join (nation as the label dim).
  */
object VideoQueries {

  /** Frame stream stand-in: events → (video_id, frame_id, ts, h, w). */
  private def frames(spark: SparkSession, dir: String): DataFrame =
    // NOT spread: a round-14 experiment fanned this scan out
    // (Tables.spread) to parallelize the per-frame kernels — v1/v2
    // improved ~0.5 s each, but v14 regressed 1.7 s -> 17 s: the
    // repartition put the detection transform below the
    // zone-window's video_id shuffle, where alias substitution
    // re-evaluated it per window reference (60 CPU-s). Reverted;
    // the single-split scan is the lesser cost at this SF and real
    // deployments have many splits here anyway.
    Tables.events(spark, dir).select(
      col("event_type").as("video_id"),
      col("event_id").as("frame_id"),
      col("ts"),
      (lit(480) + (col("event_id") % 3) * 240).cast("int").as("height"),
      (lit(640) + (col("event_id") % 3) * 320).cast("int").as("width"))

  /** Synthetic per-frame detection array (StubDetector formulas in
    * DOUBLE precision, matching the SQL oracle exactly — integer
    * modular arithmetic divided by literal constants, so both engines
    * produce bit-identical doubles). */
  private def withDetections(fr: DataFrame): DataFrame = {
    def score(fid: Column, i: Column): Column = {
      val k = (fid + i) % 5
      when(k === 0, 0.5).when(k === 1, 0.69).when(k === 2, 0.7)
        .when(k === 3, 0.71).otherwise(0.95)
    }
    fr.withColumn("detections",
      transform(
        filter(sequence(lit(0L), lit(4L)), i => i < col("frame_id") % 5),
        i => struct(
          (((col("frame_id") * 7 + i * 13) % 100) / 200.0).as("ymin"),
          (((col("frame_id") * 11 + i * 17) % 100) / 200.0).as("xmin"),
          ((((col("frame_id") * 7 + i * 13) % 100) / 200.0)
            + (((col("frame_id") + i * 19) % 100 + 1) / 250.0)).as("ymax"),
          ((((col("frame_id") * 11 + i * 17) % 100) / 200.0)
            + (((col("frame_id") * 3 + i * 23) % 100 + 1) / 250.0)).as("xmax"),
          score(col("frame_id"), i).as("score"),
          ((col("frame_id") + i) % 25).cast("int").as("class_id"))))
  }

  /** Shared SQL CTE prefix for the oracles: the same synthetic
    * detection stream, one row per (frame, box ordinal), pre-mask. */
  val detSql: String =
    """WITH det AS (
      |  SELECT e.event_type AS video_id, e.event_id AS frame_id, e.ts,
      |    480 + (e.event_id % 3) * 240 AS height,
      |    640 + (e.event_id % 3) * 320 AS width,
      |    t.i,
      |    ((e.event_id * 7 + t.i * 13) % 100) / 200.0 AS ymin,
      |    ((e.event_id * 11 + t.i * 17) % 100) / 200.0 AS xmin,
      |    ((e.event_id * 7 + t.i * 13) % 100) / 200.0
      |      + ((e.event_id + t.i * 19) % 100 + 1) / 250.0 AS ymax,
      |    ((e.event_id * 11 + t.i * 17) % 100) / 200.0
      |      + ((e.event_id * 3 + t.i * 23) % 100 + 1) / 250.0 AS xmax,
      |    CAST(CASE (e.event_id + t.i) % 5 WHEN 0 THEN 0.5 WHEN 1 THEN 0.69
      |      WHEN 2 THEN 0.7 WHEN 3 THEN 0.71 ELSE 0.95 END AS DOUBLE) AS score,
      |    CAST((e.event_id + t.i) % 25 AS INT) AS class_id
      |  FROM events e CROSS JOIN (VALUES (0),(1),(2),(3),(4)) t(i)
      |  WHERE t.i < e.event_id % 5
      |), surv AS (
      |  SELECT *, CAST(row_number() OVER
      |      (PARTITION BY frame_id ORDER BY i) AS INT) AS box_ref
      |  FROM det WHERE score > 0.7
      |), boxes AS (
      |  SELECT video_id, frame_id, ts, box_ref,
      |    CAST(floor(ymin * height) AS INT) AS x,
      |    CAST(floor(xmin * width) AS INT) AS y,
      |    CAST(floor(ymax * height) AS INT) AS w,
      |    CAST(floor(xmax * width) AS INT) AS h,
      |    class_id AS label_id, score
      |  FROM surv
      |)
      |""".stripMargin

  /** v1: the flagship — full post-inference pipeline, flat records.
    * One narrow chain + one broadcast join; ZERO shuffles end-to-end
    * (no global sort — the Verify dump orders for determinism, the
    * engine path stays narrow; see SparkEntry.ordered). */
  def v1Boxes(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
    DetectionPipeline.joinLabels(boxes, Labels.fromNation(spark, dir))
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"),
        col("label_id"), col("label"), col("score"))
  }

  val v1Sql: String = detSql +
    """SELECT b.video_id, b.frame_id, b.box_ref, b.x, b.y, b.w, b.h,
      |  b.label_id, n.n_name AS label, b.score
      |FROM boxes b JOIN nation n ON b.label_id = n.n_nationkey""".stripMargin

  /** v2: A1-style aggregation over pipeline output — boxes per label
    * name. 25 groups; partial agg makes the shuffle negligible. */
  def v2LabelHist(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
    DetectionPipeline.joinLabels(boxes, Labels.fromNation(spark, dir))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_boxes"),
           round(avg(col("score")), 6).as("avg_score"))
      .orderBy(col("n_boxes").desc, col("label"))
  }

  val v2Sql: String = detSql +
    """SELECT n.n_name AS label, count(*) AS n_boxes,
      |  round(avg(b.score), 6) AS avg_score
      |FROM boxes b JOIN nation n ON b.label_id = n.n_nationkey
      |GROUP BY 1 ORDER BY n_boxes DESC, label""".stripMargin

  /** v3: P11 `int_to_rgb` as codegen'd bit-twiddling expressions over
    * the distinct surviving label ids. */
  def v3Rgb(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("label_id")).distinct()
      .select(col("label_id"),
        ColorFunctions.rgbR(col("label_id")).as("r"),
        ColorFunctions.rgbG(col("label_id")).as("g"),
        ColorFunctions.rgbB(col("label_id")).as("b"))
      .orderBy(col("label_id"))
  }

  val v3Sql: String = detSql +
    """SELECT label_id,
      |  num & 255 AS r, (num >> 8) & 255 AS g, (num >> 16) & 255 AS b
      |FROM (SELECT DISTINCT label_id,
      |        CAST(floor(label_id / 80.0 * 255.0) AS INT) AS num
      |      FROM boxes)
      |ORDER BY label_id""".stripMargin

  /** v4: A1/A4 frame + box rates per video per hour window — the
    * fps-sink analog (`run.sh:34-37`) as an event-time windowed agg. */
  def v4FrameStats(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    dets
      .withColumn("n_boxes",
        size(filter(col("detections"), d => d("score") > lit(0.7))))
      // NTZ so parquet writes a plain (not UTC-adjusted) micros
      // timestamp — the same physical+logical type as the oracle's
      // TIMESTAMP; session TZ is UTC so the wall-clock value is equal.
      .groupBy(col("video_id"),
        window(col("ts"), "1 hour").getField("start")
          .cast("timestamp_ntz").as("ws"))
      .agg(count(lit(1)).as("n_frames"),
           sum(col("n_boxes")).as("n_boxes"))
      .orderBy(col("video_id"), col("ws"))
  }

  /** Oracle casts: DuckDB's date_trunc over a nanos parquet column
    * yields TIMESTAMP_NS and sum(BIGINT) yields HUGEINT — both cast
    * back to Spark's physical types (micros TIMESTAMP / BIGINT) so
    * the driver's type-sensitive hash matches. */
  val v4Sql: String =
    """SELECT e.event_type AS video_id,
      |  CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS ws,
      |  count(*) AS n_frames,
      |  CAST(sum((SELECT count(*) FROM (VALUES (0),(1),(2),(3),(4)) t(i)
      |       WHERE t.i < e.event_id % 5
      |         AND (CASE (e.event_id + t.i) % 5 WHEN 0 THEN 0.5
      |              WHEN 1 THEN 0.69 WHEN 2 THEN 0.7 WHEN 3 THEN 0.71
      |              ELSE 0.95 END) > 0.7)) AS BIGINT) AS n_boxes
      |FROM events e
      |GROUP BY 1, 2""".stripMargin

  /** v5: P13 — the nested VDMS `AddBoundingBox` wire record as JSON
    * (`gst-detection-tf.py:308-322`). */
  def v5VdmsRecords(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
    boxes
      .select(col("frame_id"), col("box_ref"),
        to_json(DetectionPipeline.vdmsRecord(boxes)).as("record"))
  }

  /** v6: the REAL inference operator on the oracle path — E2/M1/M2.
    * Builds a typed `Dataset[Frame]` from events, runs
    * `Detect.detect` (per-partition detector init + micro-batched
    * scoring inside the DetectExec plan node,
    * `plans/DetectPlan.scala`), then the same post-inference pipeline
    * as v1. Narrow end-to-end; pixels (empty here) never leave the
    * partition. The oracle restates
    * `StubDetector`'s float32 semantics: coordinates are computed in
    * double, rounded to REAL (`.toFloat`), then re-widened for the
    * pixel scale — bit-exact on both engines. */
  def v6Detect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fr = frames(spark, dir)
      .withColumn("data", lit(Array.empty[Byte]))
      .as[graft.model.Frame]
    val dets = graft.operators.Detect.detect(fr, () => graft.operators.StubDetector).toDF()
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
    DetectionPipeline.joinLabels(boxes, Labels.fromNation(spark, dir))
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"),
        col("label_id"), col("label"), col("score"))
  }

  val v6Sql: String =
    """WITH det AS (
      |  SELECT e.event_type AS video_id, e.event_id AS frame_id,
      |    480 + (e.event_id % 3) * 240 AS height,
      |    640 + (e.event_id % 3) * 320 AS width,
      |    t.i,
      |    CAST(((e.event_id * 7 + t.i * 13) % 100) / 200 AS REAL) AS ymin,
      |    CAST(((e.event_id * 11 + t.i * 17) % 100) / 200 AS REAL) AS xmin,
      |    CAST(((e.event_id * 7 + t.i * 13) % 100) / 200
      |      + ((e.event_id + t.i * 19) % 100 + 1) / 250 AS REAL) AS ymax,
      |    CAST(((e.event_id * 11 + t.i * 17) % 100) / 200
      |      + ((e.event_id * 3 + t.i * 23) % 100 + 1) / 250 AS REAL) AS xmax,
      |    CAST(CASE (e.event_id + t.i) % 5 WHEN 0 THEN 0.5 WHEN 1 THEN 0.69
      |      WHEN 2 THEN 0.7 WHEN 3 THEN 0.71 ELSE 0.95 END AS REAL) AS score,
      |    CAST((e.event_id + t.i) % 25 AS INT) AS class_id
      |  FROM events e CROSS JOIN (VALUES (0),(1),(2),(3),(4)) t(i)
      |  WHERE t.i < e.event_id % 5
      |), surv AS (
      |  SELECT *, CAST(row_number() OVER
      |      (PARTITION BY frame_id ORDER BY i) AS INT) AS box_ref
      |  FROM det WHERE CAST(score AS DOUBLE) > 0.7
      |), boxes AS (
      |  SELECT video_id, frame_id, box_ref,
      |    CAST(floor(CAST(ymin AS DOUBLE) * height) AS INT) AS x,
      |    CAST(floor(CAST(xmin AS DOUBLE) * width) AS INT) AS y,
      |    CAST(floor(CAST(ymax AS DOUBLE) * height) AS INT) AS w,
      |    CAST(floor(CAST(xmax AS DOUBLE) * width) AS INT) AS h,
      |    class_id AS label_id, score
      |  FROM surv
      |)
      |SELECT b.video_id, b.frame_id, b.box_ref, b.x, b.y, b.w, b.h,
      |  b.label_id, n.n_name AS label, b.score
      |FROM boxes b JOIN nation n ON b.label_id = n.n_nationkey""".stripMargin

  val v5Sql: String = detSql +
    """SELECT frame_id, box_ref,
      |  '{"AddBoundingBox":{"_ref":' || box_ref
      |  || ',"rectangle":{"x":' || x || ',"y":' || y
      |  || ',"w":' || w || ',"h":' || h
      |  || '}},"properties":{"label":' || label_id || '}}' AS record
      |FROM boxes""".stripMargin

  /** v8: TRACK CONTINUITY — the first step of multi-object tracking
    * over the detection stream: a box "continues" when the PREVIOUS
    * frame of its video has a same-label box with IoU ≥ 0.3; per
    * video the query reports box count, continued count, and track
    * starts (boxes opening a new track). IoU stays INTEGER-exact on
    * the pipeline's int box coords: 10·inter ≥ 3·union with inter
    * and union both integer products — no float area ever, so the
    * association decision can't drift between engines.
    *
    * 100 TB shape: frame adjacency is a lag() over the DISTINCT
    * (video, frame) list (bounded by frame count, not box count);
    * association is an equi-join on (video, prev_frame, label) —
    * fan-out is boxes-per-frame-per-label, never cross-frame; the
    * continued set dedups before the per-video partial agg. */
  def v8TrackContinuity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      // four consumers below (pf, cur, prev, the closing join) would
      // each re-run the detection explode; materialize the small box
      // relation once (charged to the timed region). The query's
      // remaining cost is the shared v-family detection-explode
      // baseline itself, not the join tree. At 100 TB this is the
      // standard cache of a derived relation reused within one job.
      .snapshot()
    val pf = boxes.select(col("video_id"), col("frame_id")).distinct()
      .withColumn("prev_frame", lag(col("frame_id"), 1).over(
        Window.partitionBy(col("video_id")).orderBy(col("frame_id"))))
    val cur = boxes.join(pf, Seq("video_id", "frame_id"))
    val prev = boxes.select(col("video_id"),
      col("frame_id").as("prev_frame"), col("label_id"),
      col("x").as("qx"), col("y").as("qy"),
      col("w").as("qw"), col("h").as("qh"))
    val iw = least(col("w"), col("qw")) - greatest(col("x"), col("qx"))
    val ih = least(col("h"), col("qh")) - greatest(col("y"), col("qy"))
    val inter = iw * ih
    val union = (col("w") - col("x")) * (col("h") - col("y")) +
      (col("qw") - col("qx")) * (col("qh") - col("qy")) - inter
    val cont = cur.join(prev, Seq("video_id", "prev_frame", "label_id"))
      .filter(iw > 0 && ih > 0 && inter * 10 >= union * 3)
      .select(col("video_id"), col("frame_id"), col("box_ref"))
      .distinct()
      .withColumn("is_cont", lit(1))
    cur.join(cont, Seq("video_id", "frame_id", "box_ref"), "left")
      .groupBy(col("video_id"))
      .agg(count(lit(1)).as("n_boxes"),
        count(col("is_cont")).as("n_continued"),
        (count(lit(1)) - count(col("is_cont"))).as("n_track_starts"))
  }

  val v8Sql: String = detSql +
    """, pf AS (SELECT video_id, frame_id, lag(frame_id) OVER
      |    (PARTITION BY video_id ORDER BY frame_id) AS prev_frame
      |  FROM (SELECT DISTINCT video_id, frame_id FROM boxes)),
      |cur AS (SELECT b.video_id, b.frame_id, b.box_ref, b.x, b.y, b.w,
      |    b.h, b.label_id, p.prev_frame
      |  FROM boxes b JOIN pf p USING (video_id, frame_id)),
      |cont AS (SELECT DISTINCT c.video_id, c.frame_id, c.box_ref
      |  FROM cur c JOIN boxes q ON q.video_id = c.video_id
      |    AND q.frame_id = c.prev_frame AND q.label_id = c.label_id
      |  WHERE least(c.w, q.w) > greatest(c.x, q.x)
      |    AND least(c.h, q.h) > greatest(c.y, q.y)
      |    AND 10 * (least(c.w, q.w) - greatest(c.x, q.x))
      |          * (least(c.h, q.h) - greatest(c.y, q.y))
      |      >= 3 * ((c.w - c.x) * (c.h - c.y) + (q.w - q.x) * (q.h - q.y)
      |          - (least(c.w, q.w) - greatest(c.x, q.x))
      |          * (least(c.h, q.h) - greatest(c.y, q.y))))
      |SELECT c.video_id, count(*) AS n_boxes,
      |  count(k.box_ref) AS n_continued,
      |  count(*) - count(k.box_ref) AS n_track_starts
      |FROM cur c LEFT JOIN cont k ON k.video_id = c.video_id
      |  AND k.frame_id = c.frame_id AND k.box_ref = c.box_ref
      |GROUP BY 1""".stripMargin

  // ---- v9: greedy non-max suppression under the hash gate ----------

  /** v9: per-frame greedy NON-MAX SUPPRESSION — the canonical
    * detection post-processing step (suppress every box whose IoU
    * with an already-kept higher-scoring box exceeds 0.15 — tuned to the synthetic box distribution, whose maximum pairwise IoU is ~0.25). The
    * greedy fold runs ROW-LOCALLY over each frame's candidate array
    * with HOFs (sort by (score DESC, ordinal) → aggregate carrying
    * the kept list → posexplode), so boxes never shuffle for the
    * algorithm — the same in-partition contract as the decode
    * queries. The IoU decision is INTEGER-exact end-to-end
    * (pixel coords from the v1 floor-cast, 20·inter > 3·union — no
    * float ratio), which is what lets a greedy algorithm sit under
    * the cross-engine hash gate: the oracle replays the identical
    * fold in SQL (class-agnostic NMS; the per-class variant is the
    * same fold keyed by class).
    *
    * Oracle note: DuckDB 1.0.0's list_reduce LOSES the accumulated
    * prefix when an iteration returns the accumulator unchanged;
    * the restatement therefore always concatenates (an empty list
    * when suppressed) rather than returning acc — semantically
    * identical, bug-proof. */
  def v9Nms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fr = withDetections(frames(spark, dir))
    // the greedy kernel is COMPILED code in one narrow partition pass:
    // the interpreted-HOF spelling of the same fold (sort_array +
    // aggregate/exists) benched 3.5x the DuckDB oracle at sf0.1 —
    // the s7/x26 lesson again. Candidate prep (floor-cast coords),
    // sort order, and the integer IoU decision are bit-identical to
    // the HOF version and to the SQL restatement.
    fr.select(col("video_id"), col("frame_id"), col("height"), col("width"),
        transform(col("detections"), d => struct(
          d.getField("ymin").as("_1"), d.getField("xmin").as("_2"),
          d.getField("ymax").as("_3"), d.getField("xmax").as("_4"),
          d.getField("score").as("_5"), d.getField("class_id").as("_6")))
          .as("dets"))
      .as[(String, Long, Int, Int,
           Seq[(Double, Double, Double, Double, Double, Int)])]
      .mapPartitions { it =>
        it.flatMap { case (vid, fid, hh, ww, dets) =>
          val cands = dets.zipWithIndex.collect {
            case ((ymin, xmin, ymax, xmax, sc, cls), i) if sc > 0.7 =>
              (-sc, i.toLong, math.floor(ymin * hh).toInt,
                math.floor(xmin * ww).toInt, math.floor(ymax * hh).toInt,
                math.floor(xmax * ww).toInt, sc, cls)
          }.sortBy(c => (c._1, c._2))
          val kept = scala.collection.mutable.ArrayBuffer
            .empty[(Double, Long, Int, Int, Int, Int, Double, Int)]
          cands.foreach { b =>
            val clash = kept.exists { k =>
              val ix = math.max(0, math.min(k._5, b._5) - math.max(k._3, b._3))
              val iy = math.max(0, math.min(k._6, b._6) - math.max(k._4, b._4))
              val inter = ix.toLong * iy
              val union = (k._5 - k._3).toLong * (k._6 - k._4) +
                (b._5 - b._3).toLong * (b._6 - b._4) - inter
              20 * inter > 3 * union
            }
            if (!clash) kept += b
          }
          kept.iterator.zipWithIndex.map { case (b, pos) =>
            (vid, fid, cands.length, pos + 1, b._2.toInt,
              b._3, b._4, b._5, b._6, b._7, b._8)
          }
        }
      }
      .toDF("video_id", "frame_id", "n_cands", "nms_rank", "det_idx",
        "x", "y", "w", "h", "score", "label_id")
  }

  val v9Sql: String = detSql.replace(
    """), surv AS (""", """), cand AS (
      |  SELECT video_id, frame_id,
      |    {ns: -score, i: i,
      |     x: CAST(floor(ymin * height) AS INT),
      |     y: CAST(floor(xmin * width) AS INT),
      |     w: CAST(floor(ymax * height) AS INT),
      |     h: CAST(floor(xmax * width) AS INT),
      |     sc: score, cls: class_id} AS b
      |  FROM det WHERE score > 0.7
      |), frame_arr AS (
      |  SELECT video_id, frame_id, list_sort(list(b)) AS arr
      |  FROM cand GROUP BY 1, 2
      |), kept AS (
      |  SELECT video_id, frame_id, len(arr) AS n_cands,
      |    list_reduce(list_prepend(arr[1:0], list_transform(arr, b -> [b])),
      |      (acc, bl) -> list_concat(acc,
      |        CASE WHEN len(list_filter(acc, k ->
      |          20 * (greatest(0, least(k.w, bl[1].w) - greatest(k.x, bl[1].x))
      |              * greatest(0, least(k.h, bl[1].h) - greatest(k.y, bl[1].y)))
      |          > 3 * ((k.w - k.x) * (k.h - k.y)
      |              + (bl[1].w - bl[1].x) * (bl[1].h - bl[1].y)
      |              - (greatest(0, least(k.w, bl[1].w) - greatest(k.x, bl[1].x))
      |               * greatest(0, least(k.h, bl[1].h) - greatest(k.y, bl[1].y)))))) > 0
      |        THEN bl[1:0] ELSE bl END)) AS ks
      |  FROM frame_arr
      |), surv AS (""").stripMargin + "\n" +
    """SELECT video_id, frame_id, CAST(n_cands AS INT) AS n_cands,
      |  CAST(p + 1 AS INT) AS nms_rank, CAST(b.i AS INT) AS det_idx,
      |  b.x AS x, b.y AS y, b.w AS w, b.h AS h,
      |  b.sc AS score, b.cls AS label_id
      |FROM (
      |  -- SELECT-clause unnests expand in lockstep (a FROM-clause
      |  -- pair would cross-join)
      |  SELECT video_id, frame_id, n_cands,
      |    unnest(ks) AS b, unnest(range(len(ks))) AS p
      |  FROM kept) u""".stripMargin

  // ---- v10: track gap interpolation --------------------------------

  /** v10: TRACK GAP INTERPOLATION — the temporal-smoothing step after
    * v8's association: per (video, label) take the representative box
    * per frame (min box_ref — a deterministic pick), find frame GAPS
    * between consecutive appearances, and fill each gap frame with
    * the LINEAR interpolation of the flanking boxes — the standard
    * fix for detector flicker before dwell/zone analytics consume
    * the track. Reported per video: gap segments, gap frames filled,
    * and the exact interpolated-area mass.
    *
    * Exactness: interpolation is exact INTEGER rational arithmetic —
    * coord_milli = (c·(nf−f) + nc·(f−pf))·1000 div (nf−pf) — no
    * float ever appears, so the filled boxes and their area sum are
    * bit-identical across engines.
    *
    * 100 TB shape: the (video, frame, label) representative pick and
    * the lead() window share ONE (video, label)-keyed exchange; gap
    * explosion is bounded by gap length (real tracks: short); the
    * closing aggs are |videos| rows. boxes materializes once for its
    * consumers (the v8 snapshot discipline). */
  def v10TrackInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    trackInterpolate(boxes)
  }

  /** DataFrame-taking core of v10 (boxes: video_id, frame_id,
    * box_ref, x, y, w, h, label_id) — the unit spec asserts on THIS. */
  def trackInterpolate(boxes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rep = boxes
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("video_id"), col("frame_id"), col("label_id"))
          .orderBy(col("box_ref"))))
      .filter(col("brn") === 1)
      .select(col("video_id"), col("label_id"), col("frame_id").as("pf"),
        col("x"), col("y"), col("w"), col("h"))
    val wl = Window.partitionBy(col("video_id"), col("label_id"))
      .orderBy(col("pf"))
    val sq = rep
      .withColumn("nf", lead(col("pf"), 1).over(wl))
      .withColumn("nx", lead(col("x"), 1).over(wl))
      .withColumn("ny", lead(col("y"), 1).over(wl))
      .withColumn("nw", lead(col("w"), 1).over(wl))
      .withColumn("nh", lead(col("h"), 1).over(wl))
    val gaps = sq.filter(col("nf").isNotNull && col("nf") > col("pf") + 1)
    def interp(c: String, nc: String): org.apache.spark.sql.Column =
      expr(s"($c * (nf - gf) + $nc * (gf - pf)) * 1000 div (nf - pf)")
    val itp = gaps
      .select(col("video_id"), col("pf"), col("nf"),
        col("x"), col("y"), col("w"), col("h"),
        col("nx"), col("ny"), col("nw"), col("nh"),
        explode(sequence(col("pf") + 1, col("nf") - 1)).as("gf"))
      .select(col("video_id"),
        interp("x", "nx").as("xi"), interp("y", "ny").as("yi"),
        interp("w", "nw").as("wi"), interp("h", "nh").as("hi"))
    val ga = gaps.groupBy(col("video_id"))
      .agg(count(lit(1)).as("n_gap_segments"),
        sum(col("nf") - col("pf") - 1).as("n_gap_frames"))
    val ia = itp.groupBy(col("video_id"))
      .agg(sum((col("wi") - col("xi")) * (col("hi") - col("yi")))
        .as("interp_area_sum"))
    ga.join(ia, Seq("video_id"))
      .select(col("video_id"), col("n_gap_segments"), col("n_gap_frames"),
        col("interp_area_sum"))
  }

  val v10Sql: String = detSql +
    """, rep AS (SELECT video_id, label_id, frame_id AS pf, x, y, w, h
      |  FROM (SELECT *, row_number() OVER (PARTITION BY video_id,
      |      frame_id, label_id ORDER BY box_ref) AS brn FROM boxes)
      |  WHERE brn = 1),
      |sq AS (SELECT video_id, label_id, pf, x, y, w, h,
      |    lead(pf) OVER wl AS nf,
      |    lead(x) OVER wl AS nx, lead(y) OVER wl AS ny,
      |    lead(w) OVER wl AS nw, lead(h) OVER wl AS nh
      |  FROM rep
      |  WINDOW wl AS (PARTITION BY video_id, label_id ORDER BY pf)),
      |gaps AS (SELECT * FROM sq WHERE nf IS NOT NULL AND nf > pf + 1),
      |itp AS (SELECT video_id,
      |    (x * (nf - gf) + nx * (gf - pf)) * 1000 // (nf - pf) AS xi,
      |    (y * (nf - gf) + ny * (gf - pf)) * 1000 // (nf - pf) AS yi,
      |    (w * (nf - gf) + nw * (gf - pf)) * 1000 // (nf - pf) AS wi,
      |    (h * (nf - gf) + nh * (gf - pf)) * 1000 // (nf - pf) AS hi
      |  FROM gaps, LATERAL (SELECT unnest(range(pf + 1, nf)) AS gf) t),
      |ga AS (SELECT video_id, count(*) AS n_gap_segments,
      |    CAST(sum(nf - pf - 1) AS BIGINT) AS n_gap_frames
      |  FROM gaps GROUP BY 1),
      |ia AS (SELECT video_id,
      |    CAST(sum((wi - xi) * (hi - yi)) AS BIGINT) AS interp_area_sum
      |  FROM itp GROUP BY 1)
      |SELECT video_id, n_gap_segments, n_gap_frames, interp_area_sum
      |FROM ga JOIN ia USING (video_id)""".stripMargin

  // ---- v11: zone occupancy (spatial dwell analytics) ---------------

  /** v11: ZONE OCCUPANCY — the spatial-analytics step downstream of
    * the tracking family (v8 continuity, v10 interpolation): each
    * surviving box is assigned to one cell of a 4×4 grid over its
    * frame by its INTEGER center ((x+w) div 2, (y+h) div 2 — the
    * boxes relation's (x,w)/(y,h) are the scaled vertical/horizontal
    * ranges), and the per-(video, zone) report carries box count,
    * distinct occupied frames, and the occupancy rate against the
    * video's total frame count — the "which regions does traffic
    * dwell in" question every camera-analytics deployment asks.
    * Centers can land past the frame edge (the stub's ymax/xmax may
    * exceed 1.0), so zones clamp to 3 — integer arithmetic end to
    * end, one division at the edge.
    *
    * 100 TB shape: a narrow projection over the zero-shuffle v1
    * chain + ONE partial-agg shuffle keyed by (video, zone) (the
    * distinct-frames count partial-aggregates per key), + a
    * broadcast of the tiny per-video frame totals. */
  def v11ZoneOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val fr = frames(spark, dir)
    val bx = DetectionPipeline.boxes(withDetections(fr), threshold = 0.7)
      // frame dims are a deterministic function of frame_id in the
      // stand-in stream (a real pipeline carries them on the row)
      .withColumn("height", (lit(480) + (col("frame_id") % 3) * 240))
      .withColumn("width", (lit(640) + (col("frame_id") % 3) * 320))
      .withColumn("zone_row",
        least(lit(3L), expr("((x + w) div 2) * 4 div height")))
      .withColumn("zone_col",
        least(lit(3L), expr("((y + h) div 2) * 4 div width")))
    val perVideo = fr.groupBy(col("video_id"))
      .agg(countDistinct(col("frame_id")).as("video_frames"))
    bx.groupBy(col("video_id"), col("zone_row"), col("zone_col"))
      .agg(count(lit(1)).as("n_boxes"),
        countDistinct(col("frame_id")).as("n_frames"))
      .join(broadcast(perVideo), Seq("video_id"))
      .select(col("video_id"), col("zone_row"), col("zone_col"),
        col("n_boxes"), col("n_frames"),
        round(col("n_frames").cast("double") /
          col("video_frames").cast("double"), 6).as("occupancy"))
  }

  val v11Sql: String = detSql +
    """, zb AS (
      |  SELECT video_id, frame_id,
      |    least(3, ((x + w) // 2) * 4 // (480 + (frame_id % 3) * 240))
      |      AS zone_row,
      |    least(3, ((y + h) // 2) * 4 // (640 + (frame_id % 3) * 320))
      |      AS zone_col
      |  FROM boxes
      |), pv AS (
      |  SELECT event_type AS video_id, count(DISTINCT event_id) AS vf
      |  FROM events GROUP BY 1
      |), zg AS (
      |  SELECT video_id, zone_row, zone_col, count(*) AS n_boxes,
      |    count(DISTINCT frame_id) AS n_frames
      |  FROM zb GROUP BY 1, 2, 3
      |)
      |SELECT zg.video_id, CAST(zone_row AS BIGINT) AS zone_row,
      |  CAST(zone_col AS BIGINT) AS zone_col, n_boxes, n_frames,
      |  round(CAST(n_frames AS DOUBLE) / CAST(vf AS DOUBLE), 6)
      |    AS occupancy
      |FROM zg JOIN pv ON pv.video_id = zg.video_id""".stripMargin

  // ---- v12: object co-occurrence matrix ----------------------------

  /** v12: OBJECT CO-OCCURRENCE — which detected label PAIRS appear in
    * the same frame, with the integral LIFT against independence
    * (n_both·T·1e6 div (n_a·n_b)) — the video-side market-basket
    * matrix (g6's bipartite projection with frames as baskets and
    * model labels as items): the signal behind "person+bicycle
    * co-occur 3× more than chance" scene analytics. Counts come from
    * the DISTINCT (frame, label) incidence (a label twice in one
    * frame counts once — the g6 collapse rule); label names ride the
    * P10 broadcast dim under both pair roles (the r40 two-role
    * pattern). Lift stays integer: one floor division over exact
    * longs, no float ratio to drift.
    *
    * 100 TB shape: incidence distinct = one (frame, label) keyed
    * partial-agg shuffle; the pair join is keyed by FRAME with
    * fan-out |labels in frame|² ≤ 25² per frame; per-label totals
    * and T fold to broadcast rows. */
  def v12CoOccurrence(spark: SparkSession, dir: String): DataFrame = {
    val bx = DetectionPipeline.boxes(
      withDetections(frames(spark, dir)), threshold = 0.7)
    val inc = bx.select(col("frame_id"), col("label_id")).distinct()
    val total = inc.select(col("frame_id")).distinct()
      .agg(count(lit(1)).as("t_frames"))
    val perLabel = inc.groupBy(col("label_id"))
      .agg(count(lit(1)).as("n_frames"))
    val pairs = inc.alias("a")
      .join(inc.alias("b"),
        col("a.frame_id") === col("b.frame_id") &&
        col("a.label_id") < col("b.label_id"))
      .groupBy(col("a.label_id").as("la"), col("b.label_id").as("lb"))
      .agg(count(lit(1)).as("n_both"))
    val labels = Labels.fromNation(spark, dir)
    pairs
      .join(broadcast(perLabel.select(col("label_id").as("la"),
        col("n_frames").as("n_a"))), Seq("la"))
      .join(broadcast(perLabel.select(col("label_id").as("lb"),
        col("n_frames").as("n_b"))), Seq("lb"))
      .crossJoin(broadcast(total))
      .join(broadcast(labels.select(col("label_id").as("la"),
        col("label").as("label_a"))), Seq("la"))
      .join(broadcast(labels.select(col("label_id").as("lb"),
        col("label").as("label_b"))), Seq("lb"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * t_frames * 1000000 div (n_a * n_b)")
          .as("lift_micro"))
  }

  val v12Sql: String = detSql +
    """, inc AS (SELECT DISTINCT frame_id, label_id FROM boxes),
      |t AS (SELECT count(DISTINCT frame_id) AS t_frames FROM inc),
      |pl AS (SELECT label_id, count(*) AS n_frames FROM inc GROUP BY 1),
      |pr AS (SELECT a.label_id AS la, b.label_id AS lb,
      |    count(*) AS n_both
      |  FROM inc a JOIN inc b
      |    ON a.frame_id = b.frame_id AND a.label_id < b.label_id
      |  GROUP BY 1, 2)
      |SELECT na.n_name AS label_a, nb.n_name AS label_b,
      |  pa.n_frames AS n_a, pb.n_frames AS n_b, n_both,
      |  n_both * t_frames * 1000000 // (pa.n_frames * pb.n_frames)
      |    AS lift_micro
      |FROM pr
      |JOIN pl pa ON pr.la = pa.label_id
      |JOIN pl pb ON pr.lb = pb.label_id
      |JOIN nation na ON na.n_nationkey = pr.la
      |JOIN nation nb ON nb.n_nationkey = pr.lb
      |CROSS JOIN t""".stripMargin
  // ---- v13: track kinematics (speed / path length) -----------------

  /** v13: TRACK KINEMATICS — per (video, label) track, exact integer
    * motion statistics over the per-frame representative boxes (the
    * v10 rep convention: lowest box_ref per (frame, label)):
    * observation count, step count, total Manhattan path length of
    * the box center (in DOUBLED pixel units — center×2 = (2x+w,
    * 2y+h) keeps halving exact), and the peak per-frame speed in
    * milli-double-pixels (step distance scaled by 1000, floor-divided
    * by 2·frame-gap). This is the third tracking stage after v8's
    * continuity (does the track persist) and v10's interpolation
    * (fill its gaps): how fast does it MOVE — the loitering-vs-
    * transit discriminator a deployment alerts on. Every quantity is
    * exact integer arithmetic; single-observation tracks carry zero
    * steps/path/speed (never NULL).
    *
    * 100 TB shape: the narrow zero-shuffle v1 chain feeds ONE
    * (video, label)-keyed exchange shared by the dedup rank and the
    * lead window; steps partial-aggregate per track before the
    * closing join of two already-tiny relations. */
  def v13TrackKinematics(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    trackKinematics(boxes)
  }

  /** DataFrame-taking core of v13 (boxes: video_id, frame_id,
    * box_ref, x, y, w, h, label_id) — the unit spec asserts on THIS. */
  def trackKinematics(boxes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rep = boxes
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("video_id"), col("frame_id"), col("label_id"))
          .orderBy(col("box_ref"))))
      .filter(col("brn") === 1)
      .select(col("video_id"), col("label_id"), col("frame_id").as("pf"),
        (col("x") * 2 + col("w")).as("cx2"),
        (col("y") * 2 + col("h")).as("cy2"))
    val wl = Window.partitionBy(col("video_id"), col("label_id"))
      .orderBy(col("pf"))
    val st = rep
      .withColumn("nf", lead(col("pf"), 1).over(wl))
      .withColumn("ncx2", lead(col("cx2"), 1).over(wl))
      .withColumn("ncy2", lead(col("cy2"), 1).over(wl))
      .filter(col("nf").isNotNull)
      .withColumn("manh",
        abs(col("ncx2") - col("cx2")) + abs(col("ncy2") - col("cy2")))
      .withColumn("speed_milli",
        expr("manh * 1000 div (2 * (nf - pf))"))
    val obs = rep.groupBy(col("video_id"), col("label_id"))
      .agg(count(lit(1)).as("n_obs"))
    val agg = st.groupBy(col("video_id"), col("label_id"))
      .agg(count(lit(1)).as("n_steps"),
        sum(col("manh")).as("path_manh2"),
        max(col("speed_milli")).as("max_speed_milli"))
    obs.join(agg, Seq("video_id", "label_id"), "left")
      .select(col("video_id"), col("label_id"), col("n_obs"),
        coalesce(col("n_steps"), lit(0L)).as("n_steps"),
        coalesce(col("path_manh2"), lit(0L)).as("path_manh2"),
        coalesce(col("max_speed_milli"), lit(0L)).as("max_speed_milli"))
  }

  val v13Sql: String = detSql +
    """, rep AS (SELECT video_id, label_id, frame_id AS pf,
      |    x * 2 + w AS cx2, y * 2 + h AS cy2
      |  FROM (SELECT *, row_number() OVER (PARTITION BY video_id,
      |      frame_id, label_id ORDER BY box_ref) AS brn FROM boxes)
      |  WHERE brn = 1),
      |sq AS (SELECT video_id, label_id, pf, cx2, cy2,
      |    lead(pf) OVER wl AS nf,
      |    lead(cx2) OVER wl AS ncx2, lead(cy2) OVER wl AS ncy2
      |  FROM rep
      |  WINDOW wl AS (PARTITION BY video_id, label_id ORDER BY pf)),
      |st AS (SELECT video_id, label_id,
      |    abs(ncx2 - cx2) + abs(ncy2 - cy2) AS manh,
      |    (abs(ncx2 - cx2) + abs(ncy2 - cy2)) * 1000 // (2 * (nf - pf))
      |      AS speed_milli
      |  FROM sq WHERE nf IS NOT NULL),
      |obs AS (SELECT video_id, label_id, count(*) AS n_obs
      |  FROM rep GROUP BY 1, 2),
      |ag AS (SELECT video_id, label_id, count(*) AS n_steps,
      |    CAST(sum(manh) AS BIGINT) AS path_manh2,
      |    CAST(max(speed_milli) AS BIGINT) AS max_speed_milli
      |  FROM st GROUP BY 1, 2)
      |SELECT obs.video_id, obs.label_id, obs.n_obs,
      |  coalesce(ag.n_steps, 0) AS n_steps,
      |  coalesce(ag.path_manh2, 0) AS path_manh2,
      |  coalesce(ag.max_speed_milli, 0) AS max_speed_milli
      |FROM obs LEFT JOIN ag USING (video_id, label_id)""".stripMargin
  // ---- v14: zone transition matrix (spatial flow) ------------------

  /** v14: ZONE TRANSITION MATRIX — r55's first-order Markov flow
    * model applied to SPACE: per (video, label) track (the v13
    * representative convention), each consecutive-frame step emits a
    * (zone_from, zone_to) transition over v11's 4×4 grid, aggregated
    * corpus-wide with per-origin totals and integer-micro rates.
    * This is the traffic-flow question after v11's static dwell
    * (where do objects sit) and v13's kinematics (how fast they
    * move): WHERE DO THEY GO — the input to path prediction and
    * choke-point analysis in camera analytics. All integer; the
    * diagonal is the stay rate.
    *
    * 100 TB shape: the narrow v1 chain feeds ONE (video, label)-
    * keyed exchange shared by the dedup rank and the lead window;
    * the matrix partial-aggregates to ≤ 16² rows and per-origin
    * totals derive from the aggregated relation itself (the r55
    * discipline). */
  def v14ZoneTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bx = DetectionPipeline.boxes(withDetections(frames(spark, dir)),
        threshold = 0.7)
      .withColumn("height", lit(480) + (col("frame_id") % 3) * 240)
      .withColumn("width", lit(640) + (col("frame_id") % 3) * 320)
    val rep = bx
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("video_id"), col("frame_id"), col("label_id"))
          .orderBy(col("box_ref"))))
      .filter(col("brn") === 1)
      .withColumn("zone",
        least(lit(3L), expr("((x + w) div 2) * 4 div height")) * 4 +
          least(lit(3L), expr("((y + h) div 2) * 4 div width")))
      .select(col("video_id"), col("label_id"), col("frame_id"), col("zone"))
    val wl = Window.partitionBy(col("video_id"), col("label_id"))
      .orderBy(col("frame_id"))
    val st = rep.withColumn("nz", lead(col("zone"), 1).over(wl))
      .filter(col("nz").isNotNull)
    val m = st.groupBy(col("zone").as("zone_from"), col("nz").as("zone_to"))
      .agg(count(lit(1)).as("n_steps"))
    m.withColumn("from_total", sum(col("n_steps")).over(
        Window.partitionBy(col("zone_from"))))
      .withColumn("rate_micro", expr("n_steps * 1000000 div from_total"))
  }

  val v14Sql: String = detSql +
    """, rp AS (SELECT video_id, label_id, frame_id,
      |    least(3, ((x + w) // 2) * 4 // (480 + (frame_id % 3) * 240)) * 4
      |      + least(3, ((y + h) // 2) * 4 // (640 + (frame_id % 3) * 320))
      |      AS zone
      |  FROM (SELECT *, row_number() OVER (PARTITION BY video_id,
      |      frame_id, label_id ORDER BY box_ref) AS brn FROM boxes)
      |  WHERE brn = 1),
      |sq AS (SELECT video_id, label_id, zone,
      |    lead(zone) OVER (PARTITION BY video_id, label_id
      |      ORDER BY frame_id) AS nz
      |  FROM rp),
      |m AS (SELECT zone AS zone_from, nz AS zone_to, count(*) AS n_steps
      |  FROM sq WHERE nz IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT zone_from, CAST(sum(n_steps) AS BIGINT) AS from_total
      |  FROM m GROUP BY 1)
      |SELECT zone_from, zone_to, n_steps, from_total,
      |  CAST(n_steps * 1000000 // from_total AS BIGINT) AS rate_micro
      |FROM m JOIN t USING (zone_from)""".stripMargin

  // ---- v15: best-IoU track association (frame-to-frame matching) ---

  /** v15: TRACK ASSOCIATION — for every detection, the single
    * best-matching detection of the SAME label in the video's
    * previous frame: the argmax-IoU assignment that turns v8's
    * boolean "is continued" into the actual track edge a tracker
    * consumes (v10 interpolates along these edges; v13 measures
    * kinematics assuming them). Candidates gate at IoU ≥ 0.3
    * (v8's integer 10·inter ≥ 3·union), and the argmax is decided
    * on the INTEGER key inter·1e9 div union with ties to the
    * smallest previous box_ref — no float enters the ordering, so
    * both engines pick the identical winner.
    *
    * 100 TB shape: the box relation materializes once (the v8/v13
    * checkpoint contract); candidates come from ONE equi-join keyed
    * by (video, prev frame, label) — fan-out bounded by per-frame
    * box count, the v12 frame-key argument; the argmax is a
    * WindowGroupLimit over that bounded candidate set. */
  def trackAssociation(boxes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pf = boxes.select(col("video_id"), col("frame_id")).distinct()
      .withColumn("prev_frame", lag(col("frame_id"), 1).over(
        Window.partitionBy(col("video_id")).orderBy(col("frame_id"))))
    val cur = boxes.join(pf, Seq("video_id", "frame_id"))
    val prev = boxes.select(col("video_id"),
      col("frame_id").as("prev_frame"), col("label_id"),
      col("box_ref").as("prev_ref"),
      col("x").as("qx"), col("y").as("qy"),
      col("w").as("qw"), col("h").as("qh"))
    val iw = least(col("w"), col("qw")) - greatest(col("x"), col("qx"))
    val ih = least(col("h"), col("qh")) - greatest(col("y"), col("qy"))
    val inter = (iw * ih).cast("long")
    val union = ((col("w") - col("x")) * (col("h") - col("y")) +
      (col("qw") - col("qx")) * (col("qh") - col("qy"))).cast("long") - inter
    val w = Window
      .partitionBy(col("video_id"), col("frame_id"), col("box_ref"))
      .orderBy(col("iou_key").desc, col("prev_ref"))
    cur.join(prev, Seq("video_id", "prev_frame", "label_id"))
      .filter(iw > 0 && ih > 0 && inter * 10 >= union * 3)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("prev_frame"), col("prev_ref"), inter.as("i"), union.as("u"))
      // integral div on both engines — a double quotient can round
      // UP across the floor boundary at these magnitudes (i·1e9
      // approaches 2^53), which would flip an argmax
      .selectExpr("video_id", "frame_id", "box_ref", "prev_frame",
        "prev_ref", "i * 1000000000 div u AS iou_key",
        "i * 1000000 div u AS iou_ppm")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("prev_frame"), col("prev_ref"), col("iou_ppm"))
  }

  def v15TrackAssociation(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    trackAssociation(boxes)
  }

  /** Shared oracle CTE chain for v15/v16: detSql's `boxes` +
    * previous-frame pairing + IoU candidates + the integer-key
    * argmax rank. */
  private val assocCtes: String = detSql +
    """, pf AS (SELECT video_id, frame_id, lag(frame_id) OVER
      |    (PARTITION BY video_id ORDER BY frame_id) AS prev_frame
      |  FROM (SELECT DISTINCT video_id, frame_id FROM boxes)),
      |cur AS (SELECT b.video_id, b.frame_id, b.box_ref, b.x, b.y, b.w,
      |    b.h, b.label_id, p.prev_frame
      |  FROM boxes b JOIN pf p USING (video_id, frame_id)),
      |cand AS (SELECT c.video_id, c.frame_id, c.box_ref, c.prev_frame,
      |    q.box_ref AS prev_ref,
      |    CAST((least(c.w, q.w) - greatest(c.x, q.x))
      |      * (least(c.h, q.h) - greatest(c.y, q.y)) AS BIGINT) AS i,
      |    CAST((c.w - c.x) * (c.h - c.y) + (q.w - q.x) * (q.h - q.y)
      |      - (least(c.w, q.w) - greatest(c.x, q.x))
      |      * (least(c.h, q.h) - greatest(c.y, q.y)) AS BIGINT) AS u
      |  FROM cur c JOIN boxes q ON q.video_id = c.video_id
      |    AND q.frame_id = c.prev_frame AND q.label_id = c.label_id
      |  WHERE least(c.w, q.w) > greatest(c.x, q.x)
      |    AND least(c.h, q.h) > greatest(c.y, q.y)
      |    AND 10 * (least(c.w, q.w) - greatest(c.x, q.x))
      |          * (least(c.h, q.h) - greatest(c.y, q.y))
      |      >= 3 * ((c.w - c.x) * (c.h - c.y) + (q.w - q.x) * (q.h - q.y)
      |          - (least(c.w, q.w) - greatest(c.x, q.x))
      |          * (least(c.h, q.h) - greatest(c.y, q.y)))),
      |rk AS (SELECT video_id, frame_id, box_ref, prev_frame, prev_ref,
      |    CAST(i * 1000000 // u AS BIGINT) AS iou_ppm,
      |    row_number() OVER (PARTITION BY video_id, frame_id, box_ref
      |      ORDER BY i * 1000000000 // u DESC, prev_ref) AS rn
      |  FROM cand)""".stripMargin

  val v15Sql: String = assocCtes +
    """
      |SELECT video_id, frame_id, box_ref, prev_frame, prev_ref, iou_ppm
      |FROM rk WHERE rn = 1""".stripMargin

  // ---- v16: tracklet labeling (association closure) ----------------

  /** v16: TRACKLETS — v15's frame-to-frame association edges closed
    * into track identities with the d-family's connected-components
    * operator: every detection labeled with the min node id of its
    * association chain (unmatched boxes are their own singleton
    * tracklet). The video family's d9: per-frame edges become the
    * per-object identity a downstream query groups by (dwell, path,
    * kinematics PER OBJECT instead of per box). Node ids pack
    * (poly_hash(video), frame, ref) into one long — deterministic
    * and restated identically by the oracle, whose recursive-CTE
    * closure certifies the iterative min-label propagation like d9.
    *
    * 100 TB shape: the association edge list is tiny relative to the
    * scan, and it is not a general graph — the argmax gives every
    * box AT MOST ONE parent, every edge points to a strictly
    * EARLIER frame (so parents strictly decrease in the packed id
    * and no cycle exists), and NO CHAIN EVER SPANS VIDEOS. That last
    * invariant is the whole plan: ONE hash repartition on video_id
    * co-locates each video's forest, and find-root closes it
    * IN-PARTITION with a path-compressing parent walk — the m10
    * "runs never span rows" argument applied to track chains. No
    * iteration, no snapshots: one shuffle of the (tiny) edge list +
    * one narrow pass, where the previous pointer-jumping spelling
    * paid O(log track-length) join+materialize rounds for the same
    * answer. Per-partition state is bounded by the partition's edge
    * count (boxes ≪ corpus; a partition holds whole videos — the
    * repartition(video_id) uses the session shuffle-partition count,
    * so a pathologically long or skewed video bounds one executor's
    * heap by THAT video's edges — GUARDED: a per-video box count
    * (boxes upper-bound edges, since the argmax gives each box at
    * most one parent) over the caller-pinned box relation routes any
    * video above `maxEdgesPerVideo` to the distributed two-phase
    * star-contraction closure (Components.connectedComponentsTwoPhase,
    * O(log² n) rounds whatever the chain length — each association
    * forest is a tree, so the component minimum IS the chain root)
    * while everything else keeps the one-shuffle in-partition walk; the oversized-video list itself is
    * driver-scale by construction (only pathological keys cross the
    * threshold). The final label attach is one left join back
    * to the box relation: unmatched boxes and roots label
    * themselves. */
  def tracklets(boxes: DataFrame,
      maxEdgesPerVideo: Long = 4L * 1000 * 1000): DataFrame = {
    import graft.functions.TextFunctions
    def node(v: org.apache.spark.sql.Column, f: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column) =
      TextFunctions.polyHash(v) * lit(100000000L) +
        f.cast("long") * lit(100L) + r.cast("long")
    val assoc = trackAssociation(boxes)
    val spark = boxes.sparkSession
    import spark.implicits._
    // escalation guard: per-video box counts (callers pin `boxes`, so
    // this is one narrow agg over cached blocks); > threshold ⇒ that
    // video's heap-bounded in-partition walk is unsafe
    val oversized: Set[String] = boxes
      .groupBy(col("video_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxEdgesPerVideo)
      .select(col("video_id")).as[String].collect().toSet
    val edges = assoc.select(col("video_id"),
      node(col("video_id"), col("frame_id"), col("box_ref")).as("node"),
      node(col("video_id"), col("prev_frame"), col("prev_ref"))
        .as("parent"))
    val walkEdges =
      if (oversized.isEmpty) edges
      else edges.filter(!col("video_id").isin(oversized.toSeq: _*))
    val walkRoots = walkEdges
      .repartition(col("video_id"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        val nodes = scala.collection.mutable.ArrayBuffer[Long]()
        it.foreach { case (_, n, p) => parent.put(n, p); nodes += n }
        // find-root with full path compression; parents strictly
        // decrease (earlier frame ⇒ smaller packed id), so the walk
        // terminates and the root IS the chain minimum
        def root(x: Long): Long = {
          var r = x
          while (parent.containsKey(r)) r = parent.get(r)
          var c = x
          while (parent.containsKey(c) && parent.get(c) != r) {
            val nxt = parent.get(c); parent.put(c, r); c = nxt
          }
          r
        }
        nodes.iterator.map(n => (n, root(n)))
      }
      .toDF("node", "cluster")
    val roots =
      if (oversized.isEmpty) walkRoots
      else walkRoots.unionByName(
        // fallback: the TWO-PHASE distributed closure — O(log² n)
        // rounds regardless of chain diameter. The min-label
        // propagation variant needs O(chain-length) rounds, and a
        // video big enough to trip this guard (> maxEdgesPerVideo
        // boxes) almost certainly contains track chains longer than
        // its round cap — exactly the inputs the guard exists for
        // (ADVICE r13), so the deep-chain closure is the only safe
        // escalation. No single executor ever holds a video's whole
        // edge set either way.
        graft.operators.Components.connectedComponentsTwoPhase(
          edges.filter(col("video_id").isin(oversized.toSeq: _*))
            .select(col("node").as("a"), col("parent").as("b"))))
    boxes
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        node(col("video_id"), col("frame_id"), col("box_ref")).as("node"))
      .join(roots, Seq("node"), "left")
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        coalesce(col("cluster"), col("node")).as("tracklet_id"))
  }

  def v16Tracklets(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    tracklets(boxes)
  }

  /** The shared v16 closure CTE chain (assoc → forest edges →
    * recursive reach → min-label → per-box tracklet id), reused by
    * v17's dwell rollup. */
  private lazy val trackletCtes: String = {
    val ph = graft.queries.LlmQueries.polySql("video_id")
    assocCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      s""",
         |edg AS MATERIALIZED (SELECT
         |    $ph * 100000000 + frame_id * 100 + box_ref AS a,
         |    $ph * 100000000 + prev_frame * 100 + prev_ref AS b
         |  FROM rk WHERE rn = 1),
         |symt AS MATERIALIZED (SELECT a, b FROM edg
         |  UNION SELECT b AS a, a AS b FROM edg),
         |reach(node, lab) AS (
         |  SELECT DISTINCT a AS node, a AS lab FROM symt
         |  UNION
         |  SELECT s.a AS node, r.lab FROM symt s JOIN reach r
         |    ON r.node = s.b
         |),
         |labt AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY 1),
         |bn AS (SELECT video_id, frame_id, box_ref,
         |    $ph * 100000000 + frame_id * 100 + box_ref AS node
         |  FROM boxes),
         |tr AS (SELECT bn.video_id, bn.frame_id, bn.box_ref,
         |    coalesce(l.cluster, bn.node) AS tracklet_id
         |  FROM bn LEFT JOIN labt l ON l.node = bn.node)""".stripMargin
  }

  lazy val v16Sql: String = trackletCtes +
    """
      |SELECT video_id, frame_id, box_ref, tracklet_id FROM tr""".stripMargin

  // ---- v17: per-tracklet zone dwell ---------------------------------

  /** v17: TRACKLET ZONE DWELL — the downstream consumer v16's
    * tracklets exist for: per track identity, how long it lived
    * (frame span), how many boxes it collected, and how many of
    * v11's 4×4 spatial zones it crossed — the "did the object move
    * or park" report (n_zones = 1 over a long span is a parked
    * object; n_zones rising with span is a path). Composes three
    * operators the family already certifies — v15's association
    * argmax, v16's closure, v11's integer zone quantization — into
    * one per-object analytic, which is exactly how a production
    * video pipeline consumes a tracker.
    *
    * 100 TB shape: v16's plan + ONE keyed join of the tracklet
    * labels back onto the (tiny) box relation and ONE partial-agg
    * groupBy on (video, tracklet). */
  def v17TrackletDwell(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    val tr = tracklets(boxes)
    val zb = boxes
      .withColumn("height", lit(480) + (col("frame_id") % 3) * 240)
      .withColumn("width", lit(640) + (col("frame_id") % 3) * 320)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        (least(lit(3L), expr("((x + w) div 2) * 4 div height")) * 4 +
          least(lit(3L), expr("((y + h) div 2) * 4 div width")))
          .as("zone"))
    tr.join(zb, Seq("video_id", "frame_id", "box_ref"))
      .groupBy(col("video_id"), col("tracklet_id"))
      .agg(count(lit(1)).as("n_boxes"),
        countDistinct(col("zone")).as("n_zones"),
        min(col("frame_id")).as("first_frame"),
        max(col("frame_id")).as("last_frame"))
  }

  lazy val v17Sql: String = trackletCtes +
    """,
      |zb AS (SELECT video_id, frame_id, box_ref,
      |    least(3, ((x + w) // 2) * 4 // (480 + (frame_id % 3) * 240)) * 4
      |      + least(3, ((y + h) // 2) * 4 // (640 + (frame_id % 3) * 320))
      |      AS zone
      |  FROM boxes)
      |SELECT t.video_id, t.tracklet_id, count(*) AS n_boxes,
      |  CAST(count(DISTINCT z.zone) AS BIGINT) AS n_zones,
      |  CAST(min(t.frame_id) AS BIGINT) AS first_frame,
      |  CAST(max(t.frame_id) AS BIGINT) AS last_frame
      |FROM tr t JOIN zb z USING (video_id, frame_id, box_ref)
      |GROUP BY 1, 2""".stripMargin

  // ---- v18: zone-transition matrix ----------------------------------

  /** v18: ZONE-TRANSITION MATRIX — corpus-wide traffic-flow counts
    * between v11's 4×4 spatial zones, walked along v16's tracklets:
    * for every consecutive box pair of a tracklet (frame order,
    * box_ref tiebreak), one (from_zone, to_zone) transition. The
    * standard flow analytic a deployment derives from a tracker
    * (where do objects enter, where do they go); the diagonal is
    * dwell, off-diagonals are motion. Invariant (spec-pinned):
    * Σ transitions = Σ boxes − |tracklets|. RIDES the single
    * detection pass and the same closure — no re-inference (the
    * v-family discipline).
    *
    * 100 TB shape: v16's plan + one lag window per (video,
    * tracklet) over the tiny box relation + one ≤256-cell
    * partial-agg groupBy. */
  def v18ZoneTransitions(spark: SparkSession, dir: String): DataFrame = {
    val dets = withDetections(frames(spark, dir))
    val boxes = DetectionPipeline.boxes(dets, threshold = 0.7)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        col("x"), col("y"), col("w"), col("h"), col("label_id"))
      .snapshot()
    val tr = tracklets(boxes)
    val zb = boxes
      .withColumn("height", lit(480) + (col("frame_id") % 3) * 240)
      .withColumn("width", lit(640) + (col("frame_id") % 3) * 320)
      .select(col("video_id"), col("frame_id"), col("box_ref"),
        (least(lit(3L), expr("((x + w) div 2) * 4 div height")) * 4 +
          least(lit(3L), expr("((y + h) div 2) * 4 div width")))
          .as("zone"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("video_id"), col("tracklet_id"))
      .orderBy(col("frame_id"), col("box_ref"))
    tr.join(zb, Seq("video_id", "frame_id", "box_ref"))
      .withColumn("prev_zone", lag(col("zone"), 1).over(w))
      .filter(col("prev_zone").isNotNull)
      .groupBy(col("prev_zone").cast("bigint").as("from_zone"),
        col("zone").cast("bigint").as("to_zone"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  lazy val v18Sql: String = trackletCtes +
    """,
      |zb AS (SELECT video_id, frame_id, box_ref,
      |    least(3, ((x + w) // 2) * 4 // (480 + (frame_id % 3) * 240)) * 4
      |      + least(3, ((y + h) // 2) * 4 // (640 + (frame_id % 3) * 320))
      |      AS zone
      |  FROM boxes),
      |sq AS (SELECT z.zone,
      |    lag(z.zone) OVER (PARTITION BY t.video_id, t.tracklet_id
      |      ORDER BY t.frame_id, t.box_ref) AS prev_zone
      |  FROM tr t JOIN zb z USING (video_id, frame_id, box_ref))
      |SELECT CAST(prev_zone AS BIGINT) AS from_zone,
      |  CAST(zone AS BIGINT) AS to_zone, count(*) AS n_transitions
      |FROM sq WHERE prev_zone IS NOT NULL GROUP BY 1, 2""".stripMargin
}
