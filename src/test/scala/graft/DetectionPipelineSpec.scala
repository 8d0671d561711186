package graft

import java.sql.Timestamp
import graft.model.{Frame, RawDetection}
import graft.operators.{Detect, DetectionPipeline, StubDetector}
import org.apache.spark.sql.functions._

class DetectionPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def mkFrames(n: Int): Seq[Frame] =
    (0 until n).map { i =>
      Frame("vidA", i.toLong, new Timestamp(1700000000000L + i * 40L),
        height = 480, width = 640, data = Array.empty[Byte])
    }

  test("StubDetector: box count = frame_id % 5, coords in [0,1]") {
    for (fid <- 0L to 20L) {
      val dets = StubDetector.detectOne(fid)
      assert(dets.length == (fid % 5).toInt)
      dets.foreach { d =>
        assert(d.ymin >= 0 && d.ymax <= 1.0f && d.xmin >= 0 && d.xmax <= 1.0f)
        assert(d.ymax > d.ymin && d.xmax > d.xmin)
      }
    }
  }

  test("Detect.detect runs per-partition and keeps frame alignment") {
    val ds = spark.createDataset(mkFrames(50)).repartition(4)
    val out = Detect.detect(ds, () => StubDetector, batchSize = 8).collect()
    assert(out.length == 50)
    out.foreach { fd =>
      assert(fd.detections == StubDetector.detectOne(fd.frame_id))
    }
    // a batch size Iterator.grouped cannot take is refused by name
    // when the operator is built, not inside every task
    for (bad <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](
        Detect.detect(ds, () => StubDetector, batchSize = bad))
      assert(e.getMessage.contains("batchSize"), e.getMessage)
    }
  }

  test("a detector that returns too few detection lists is refused, not zipped short") {
    val ds = spark.createDataset(mkFrames(20)).repartition(2)
    val e = intercept[Exception](
      Detect.detect(ds, () => DropsLast, batchSize = 4).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("detectBatch returned 3 detection lists for 4 frames"), messages)
  }

  test("threshold filter is strict > (0.70 boundary excluded)") {
    val ds = spark.createDataset(mkFrames(100))
    val dets = Detect.detect(ds, () => StubDetector).toDF()
    val survived = DetectionPipeline
      .thresholdFilter(dets, 0.7)
      .select(explode(col("detections")).as("d"))
      .select(col("d.score").cast("double").as("s"))
      .collect().map(_.getDouble(0))
    assert(survived.nonEmpty)
    assert(survived.forall(s => s > 0.7))
    // 0.71 and 0.95 survive; 0.70 must not (strict >, ref gst-detection-tf.py:296)
    assert(!survived.exists(s => math.abs(s - 0.7) < 1e-6))
  }

  test("box_ref is the 1-based post-mask ordinal (_ref = i+1 quirk)") {
    val ds = spark.createDataset(mkFrames(100))
    val dets = Detect.detect(ds, () => StubDetector).toDF()
    val boxes = DetectionPipeline.boxes(dets, 0.7)
      .select("frame_id", "box_ref").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    boxes.foreach { case (fid, refs) =>
      val expected = StubDetector.detectOne(fid).count(_.score > 0.7f)
      assert(refs == (1 to expected), s"frame $fid: $refs")
    }
  }

  test("scaleBoxes truncates like astype(int32) and keeps corner order") {
    // one hand-computed case: ymin=0.25 xmin=0.5 ymax=0.8 xmax=0.9, 480x640
    val df = Seq(("v", 1L, 480, 640,
      Seq(RawDetection(0.25f, 0.5f, 0.8f, 0.9f, 0.95f, 3))))
      .toDF("video_id", "frame_id", "height", "width", "detections")
    val r = DetectionPipeline.boxes(df, 0.7).collect()(0)
    assert(r.getAs[Int]("x") == 120)  // ymin*h
    assert(r.getAs[Int]("y") == 320)  // xmin*w
    // scale runs in double (see scaleBoxes scaladoc): truncate(double(f)*dim)
    assert(r.getAs[Int]("w") == (0.8f.toDouble * 480).toInt) // 384
    assert(r.getAs[Int]("h") == (0.9f.toDouble * 640).toInt) // 575, not float32's 576
    assert(r.getAs[Int]("label_id") == 3)
  }

  test("empty detection array explodes to zero rows (F2 short-circuit)") {
    val df = Seq(("v", 5L, 480, 640, Seq.empty[RawDetection]))
      .toDF("video_id", "frame_id", "height", "width", "detections")
    assert(DetectionPipeline.boxes(df, 0.7).count() == 0)
  }

  test("label join broadcasts and resolves names") {
    val labels = Seq((3, "car"), (7, "truck")).toDF("label_id", "label")
    val df = Seq(("v", 1L, 480, 640,
      Seq(RawDetection(0.1f, 0.1f, 0.2f, 0.2f, 0.95f, 3),
          RawDetection(0.1f, 0.1f, 0.2f, 0.2f, 0.95f, 7))))
      .toDF("video_id", "frame_id", "height", "width", "detections")
    val joined = DetectionPipeline.joinLabels(
      DetectionPipeline.boxes(df, 0.7), labels)
    assert(joined.select("label").as[String].collect().sorted
      === Array("car", "truck"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("vdms record JSON shape matches the reference wire format") {
    val df = Seq(("v", 1L, 480, 640,
      Seq(RawDetection(0.25f, 0.5f, 0.8f, 0.9f, 0.95f, 3))))
      .toDF("video_id", "frame_id", "height", "width", "detections")
    val boxes = DetectionPipeline.boxes(df, 0.7)
    val json = boxes.select(
      to_json(DetectionPipeline.vdmsRecord(boxes)).as("j"))
      .as[String].collect()(0)
    assert(json ==
      """{"AddBoundingBox":{"_ref":1,"rectangle":{"x":120,"y":320,"w":384,"h":575}},"properties":{"label":3}}""")
  }
}

/** A misaligned detector: it drops the last frame of every batch. */
private object DropsLast extends graft.operators.Detector {
  override def detectBatch(frames: Seq[Frame]): Seq[Seq[RawDetection]] =
    StubDetector.detectBatch(frames.dropRight(1))
}
