package graft

import java.sql.Timestamp

import graft.model.Frame
import graft.operators.{Codecs, Detect, DetectorConfig, Detectors, GraftNet,
  Inter}
import graft.operators.Codecs.Mp4.PcmFrame

/** Round-11 additions, part 3: the I_PCM rung of the H.264 pixel
  * seam — uncompressed H.264 slices (real syntax: slice header,
  * mb_type 25, pcm alignment, emulation prevention) encoded,
  * container-hopped, decoded, and driven into real inference.
  */
class Round11cSpec extends SparkTestBase {
  import testImplicits._

  private def lcgPlanes(w: Int, h: Int, seed: Long): PcmFrame = {
    var s = seed
    def next(): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % 256).toInt
    }
    PcmFrame(w, h,
      Array.fill(w * h)(next().toByte),
      Array.fill(w * h / 4)(next().toByte),
      Array.fill(w * h / 4)(next().toByte))
  }

  test("I_PCM slice round-trips random planes byte-exactly") {
    val f = lcgPlanes(32, 16, 0xBEEF11L)
    val nal = Codecs.Mp4.buildIdrPcmSlice(f, frameNum = 0, frameNumBits = 4)
    assert((nal(0) & 0x1f) === 5) // IDR NAL
    val sps = Codecs.Mp4.parseSps(Codecs.Mp4.buildSps(32, 16))
    val back = Codecs.Mp4.parseIntraSlice(nal, sps)
    assert(back.width === 32 && back.height === 16)
    assert(back.y.toSeq === f.y.toSeq)
    assert(back.cb.toSeq === f.cb.toSeq)
    assert(back.cr.toSeq === f.cr.toSeq)
  }

  test("I_PCM survives start-code-mimicking planes via emulation prevention") {
    // luma full of zeros forces 00 00 00 runs; sprinkle 00 00 01/02/03
    // (the exact sequences §7.4.1.1 exists to prevent)
    val y = Array.fill(256)(0.toByte)
    y(10) = 1; y(20) = 2; y(30) = 3
    val f = PcmFrame(16, 16, y,
      Array.fill(64)(0.toByte), Array.fill(64)(3.toByte))
    val nal = Codecs.Mp4.buildIdrPcmSlice(f, frameNum = 0, frameNumBits = 4)
    // escapes must actually be present, or the fixture proves nothing
    val esc = nal.drop(1)
    assert(Codecs.Mp4.rbspUnescape(esc).length < esc.length,
      "no emulation-prevention bytes were inserted")
    // and no NAL-internal 00 00 0x start-code mimic survives
    val bad = (0 until esc.length - 2).exists(i =>
      esc(i) == 0 && esc(i + 1) == 0 && (esc(i + 2) & 0xff) <= 2)
    assert(!bad, "escaped NAL still contains a start-code mimic")
    val sps = Codecs.Mp4.parseSps(Codecs.Mp4.buildSps(16, 16))
    val back = Codecs.Mp4.parseIntraSlice(nal, sps)
    assert(back.y.toSeq === f.y.toSeq)
    assert(back.cb.toSeq === f.cb.toSeq)
    assert(back.cr.toSeq === f.cr.toSeq)
  }

  test("MP4 of I_PCM slices decodes container-to-pixels, multi-frame") {
    val frames = (0 until 3).map(f => lcgPlanes(32, 16, 0xACE0L + f))
    val nals = frames.zipWithIndex.map { case (fr, f) =>
      Seq(Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
        frameNumBits = 4, idrPicId = f))
    }
    val mp4 = Codecs.Mp4.mux(nals, keyframes = Seq(1, 2, 3),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val dec = Inter.decodeGopFrames(mp4).toSeq
    assert(dec.length === 3)
    dec.zip(frames).foreach { case (d, o) =>
      assert(d.width === 32 && d.height === 16)
      assert(d.y.toSeq === o.y.toSeq)
      assert(d.cb.toSeq === o.cb.toSeq)
      assert(d.cr.toSeq === o.cr.toSeq)
    }
  }

  test("videoFileStream: a directory of MP4s streams into the detection pipeline") {
    import graft.operators.StubDetector
    import graft.sources.FrameSource
    import graft.streaming.{DetectionStream, InMemoryStore}
    val dir = java.nio.file.Files.createTempDirectory("graft-mp4-in-")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mp4-ck-")
    try {
      def mkMp4(seed: Long, n: Int): Array[Byte] = {
        val frames = (0 until n).map(f => lcgPlanes(32, 16, seed + f))
        val nals = frames.zipWithIndex.map { case (fr, f) =>
          Seq(Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
            frameNumBits = 4, idrPicId = f)) }
        Codecs.Mp4.mux(nals, keyframes = (1 to n),
          timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
      }
      java.nio.file.Files.write(dir.resolve("a.mp4"), mkMp4(0x11L, 2))
      java.nio.file.Files.write(dir.resolve("b.mp4"), mkMp4(0x77L, 3))
      val labels = {
        import testImplicits._
        (0 until 25).map(i => (i, s"label_$i")).toDF("label_id", "label")
      }
      InMemoryStore.reset()
      val store = new InMemoryStore
      val frames = FrameSource.videoFileStream(spark, dir.toString,
        maxFilesPerTrigger = 1)
      val q = DetectionStream.runAvailableNow(frames, labels,
        () => StubDetector, store, ckpt.toString)
      q.awaitTermination(120000)
      // batch reference: decode the same files directly and run the
      // identical batch pipeline — stream ≡ batch on real video bytes
      import testImplicits._
      val direct = Seq("a.mp4", "b.mp4").flatMap { name =>
        val bytes = java.nio.file.Files.readAllBytes(dir.resolve(name))
        val mt = new Timestamp(java.nio.file.Files
          .getLastModifiedTime(dir.resolve(name)).toMillis)
        Inter.decodeGopFrames(bytes).zipWithIndex.map { case (f, i) =>
          val planes = f.y ++ f.cb ++ f.cr
          Frame(name, i.toLong, mt, f.height, f.width,
            Codecs.Y4mCodec.yuv420ToRgb(planes, 0, f.width, f.height))
        }
      }
      assert(direct.size === 5)
      val batchOut = DetectionStream.pipeline(
        direct.toDS(), labels, () => StubDetector, 0.7)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(batchOut.nonEmpty)
      assert(InMemoryStore.all.sorted.toSeq === batchOut)
    } finally Seq(dir, ckpt).foreach(p => TmpPaths.deleteRecursively(p.toFile))
  }

  test("e2e: MP4 bytes -> I_PCM pixel decode -> YUV->RGB -> real inference") {
    // the reference's run.sh dataflow (sample video -> decodebin ->
    // inference), reproduced for the uncompressed-H.264 subset with
    // zero native deps: every stage live, no stubs
    val (w, h) = (32, 32)
    val frames = (0 until 2).map(f => lcgPlanes(w, h, 0xD0DECAL + f * 7))
    val nals = frames.zipWithIndex.map { case (fr, f) =>
      Seq(Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
        frameNumBits = 4, idrPicId = f))
    }
    val mp4 = Codecs.Mp4.mux(nals, keyframes = Seq(1, 2),
      timescale = 90000, sampleDelta = 3000, width = w, height = h)
    val dec = Inter.decodeGopFrames(mp4).toSeq
    // planar YUV -> RGB through the Y4M container hop (BT.601,
    // chroma replication — the same conversion the Y4M path gates)
    val frameRows = dec.zipWithIndex.map { case (fr, i) =>
      val head = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\nFRAME\n"
        .getBytes("US-ASCII")
      val y4m = head ++ fr.y ++ fr.cb ++ fr.cr
      val (fw, fh, rgb) = Codecs.Y4mCodec.extractFrameRgb(y4m, 0)
      assert(fw === w && fh === h)
      Frame("pcm", i.toLong,
        new Timestamp(1700000000000L + i * 1000L), fh, fw, rgb)
    }
    val factory = Detectors.forConfig(DetectorConfig(preprocFw = "np",
      modelInput = 32, modelPath = Some(GraftNet.BundledModel)))
    val dets = Detect.detect(frameRows.toDS(), factory)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(dets.size === 2)
    assert(dets.values.forall(_.nonEmpty))
    // the model sees the actual decoded pixels: different frames,
    // different scores
    assert(dets(0L).map(_.score) !== dets(1L).map(_.score))
  }
}
