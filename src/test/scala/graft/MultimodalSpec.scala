package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaRecord, StubCodec}
import graft.functions.PolyHash

class MultimodalSpec extends SparkTestBase {
  import testImplicits._

  private def media = Seq(
    MediaRecord(1L, "image", "fake-jpeg-bytes-1".getBytes("UTF-8")),
    MediaRecord(2L, "video", "fake-mp4-bytes-22".getBytes("UTF-8")),
    MediaRecord(3L, "audio", Array[Byte]())
  )

  test("decode: per-partition codec, deterministic stub metadata") {
    val ds = spark.createDataset(media).repartition(2)
    val out = Multimodal.decode(ds).collect().map(d => d.media_id -> d).toMap
    assert(out.size === 3)
    // deterministic: recompute locally
    media.foreach { m =>
      val d = out(m.media_id)
      assert(d.checksum === PolyHash.hashBytes(m.data))
      assert(d.byte_len === m.data.length)
      assert(d.channels === 3)
      assert(d.n_frames >= 1 && d.n_frames <= 7)
      assert(d.width >= 64 && d.width < 125)
    }
  }

  test("frame sampling explodes every step-th frame, no pixels") {
    val ds = spark.createDataset(media)
    val decoded = Multimodal.decode(ds)
    val frames = Multimodal.sampleFrames(decoded, step = 2)
    val expect = decoded.collect()
      .map(d => d.media_id -> (0 until d.n_frames by 2).size).toMap
    val got = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got === expect)
  }

  test("plan dump sink writes a formatted physical plan (S9)") {
    val path = Files.createTempFile("graft-plan-", ".txt").toString
    try {
      Engine.dumpPlan(spark.range(10).toDF().filter(col("id") > 3), path)
      val txt = Files.readString(java.nio.file.Paths.get(path))
      assert(txt.contains("Physical Plan"))
      assert(txt.contains("Range"))
    } finally TmpPaths.deleteRecursively(new java.io.File(path))
  }

  test("label file: name truncated at the second colon, like the reference") {
    val f = Files.createTempFile("labels-", ".label")
    try {
      Files.writeString(f, "1:person\n2:traffic light: small\n")
      val rows = graft.sources.Labels.fromIdNameFile(spark, f.toString)
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(rows(1) === "person")
      // gst-detection-tf.py load_labels keeps line.split(":")[:2] — the
      // text after a second ':' is dropped, not kept
      assert(rows(2) === "traffic light")
    } finally TmpPaths.deleteRecursively(f.toFile)
  }
}
