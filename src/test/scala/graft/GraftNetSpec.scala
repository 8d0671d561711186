package graft

import java.sql.Timestamp
import graft.model.Frame
import graft.operators.{Codecs, Detect, DetectorConfig, Detectors, GraftNet, GraftNetDetector, Multimodal, Preprocess, StubDetector}
import graft.operators.Preprocess.Tensor

/** The real inference runtime (M1/M2) + real codec (S2): committed
  * `.gnet` weights load per partition, BMP bytes decode to real
  * pixels, and the P4–P7 preprocessing chain feeds a real forward
  * pass. The oracle path stays on StubDetector (SQL-restatable);
  * these specs pin the REAL path's behavior.
  */
class GraftNetSpec extends SparkTestBase {

  /** Deterministic non-uniform test image: a gradient + box pattern
    * so pooling/resize have real structure to see. */
  private def rgbPattern(w: Int, h: Int, seed: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      out(i) = ((x * 255 / math.max(1, w - 1)) ^ seed).toByte
      out(i + 1) = (y * 255 / math.max(1, h - 1)).toByte
      out(i + 2) = (if (x > w / 4 && x < 3 * w / 4 && y > h / 4 && y < 3 * h / 4) 200 + seed else 30).toByte
    }
    out
  }

  private def frame(id: Long, w: Int, h: Int, data: Array[Byte]): Frame =
    Frame("vid", id, new Timestamp(1700000000000L + id * 1000L), h, w, data)

  test("BMP codec: encode -> parse -> decode round-trips real bytes (S2)") {
    // width 5: stride 15 pads to 16 — exercises the 4-byte row padding
    val (w, h) = (5, 3)
    val rgb = rgbPattern(w, h, 0)
    val bmp = Codecs.BmpCodec.encodeRgb(w, h, rgb)
    val hdr = Codecs.BmpCodec.parseHeader(bmp)
    assert(hdr.width === w && hdr.height === h && hdr.bpp === 24)
    assert(!hdr.topDown) // writer emits bottom-up rows, per spec default
    val (dw, dh, back) = Codecs.BmpCodec.decodeRgb(bmp)
    assert(dw === w && dh === h)
    assert(back.toSeq === rgb.toSeq) // pixel-exact: BGR swap + flip undo
    // malformed payloads fail loudly, not silently
    intercept[IllegalArgumentException](
      Codecs.BmpCodec.parseHeader("notabmp".getBytes))
  }

  test("decode stage runs the REAL codec on real payloads (AutoCodec)") {
    import testImplicits._
    val rgb = rgbPattern(8, 6, 1)
    val bmp = Codecs.BmpCodec.encodeRgb(8, 6, rgb)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "bmp", bmp),
      Multimodal.MediaRecord(2L, "blob", Array[Byte](1, 2, 3, 4)))
    val out = Multimodal.decode(recs.toDS(), () => Codecs.AutoCodec)
      .collect().map(d => d.media_id -> d).toMap
    // BMP record: dimensions parsed from actual header bytes
    assert(out(1L).width === 8 && out(1L).height === 6)
    assert(out(1L).n_frames === 1 && out(1L).channels === 3)
    // non-BMP record: deterministic stub fallback still works
    assert(out(2L).byte_len === 4)
  }

  test("Y4M codec: real video bytes -> header, frame count, RGB frames") {
    val (w, h) = (8, 6)
    // chroma-uniform 2x2 blocks -> 4:2:0 subsampling loses nothing
    // beyond rounding
    def blockRgb(seed: Int): Array[Byte] = {
      val out = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = (y * w + x) * 3
        val v = (((y / 2) * 50 + (x / 2) * 30 + seed * 40) % 200 + 20)
        out(i) = v.toByte; out(i + 1) = (220 - v).toByte; out(i + 2) = 128.toByte
      }
      out
    }
    val frames = (0 until 3).map(blockRgb)
    val y4m = Codecs.Y4mCodec.encodeRgbFrames(w, h, frames)
    val hdr = Codecs.Y4mCodec.parseHeader(y4m)
    assert(hdr.width === w && hdr.height === h)
    assert(Codecs.Y4mCodec.frameOffsets(y4m).length === 3)
    (0 until 3).foreach { i =>
      val (dw, dh, rgb) = Codecs.Y4mCodec.extractFrameRgb(y4m, i)
      assert(dw === w && dh === h)
      val maxDiff = rgb.zip(frames(i)).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff)) }.max
      assert(maxDiff <= 3, s"frame $i YUV round-trip drifted by $maxDiff")
    }
    intercept[IllegalArgumentException](
      Codecs.Y4mCodec.parseHeader("MPEG".getBytes))
    // non-4:2:0 colorspaces are rejected, not silently mis-sized
    intercept[IllegalArgumentException](Codecs.Y4mCodec.parseHeader(
      "YUV4MPEG2 W8 H8 F30:1 C444\nFRAME\n".getBytes("US-ASCII")))
  }

  test("WAV codec: PCM header fields parse from real bytes") {
    val samples = Array.tabulate[Short](441)(i => (i * 37 % 2000 - 1000).toShort)
    val wav = Codecs.WavCodec.encodePcm16(44100, 1, samples)
    val hdr = Codecs.WavCodec.parseHeader(wav)
    assert(hdr.sampleRate === 44100 && hdr.channels === 1)
    assert(hdr.bitsPerSample === 16 && hdr.nSampleFrames === 441)
    val stereo = Codecs.WavCodec.parseHeader(
      Codecs.WavCodec.encodePcm16(16000, 2, new Array[Short](64)))
    assert(stereo.channels === 2 && stereo.nSampleFrames === 32)
    intercept[IllegalArgumentException](
      Codecs.WavCodec.parseHeader("RIFFxxxxJUNK".getBytes))
    // corrupt negative chunk length must fail loudly, not spin the
    // chunk walk forever (len = -8 would leave the cursor in place)
    val evil = Codecs.WavCodec.encodePcm16(8000, 1, new Array[Short](4))
    evil(16) = 0xf8.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0xff.toByte // fmt len := -8
    intercept[IllegalArgumentException](Codecs.WavCodec.parseHeader(evil))
    // 'fmt ' chunk near the end of a truncated buffer: the declared
    // fields extend past the data — clean require, not AIOOBE
    val full = Codecs.WavCodec.encodePcm16(8000, 1, new Array[Short](4))
    intercept[IllegalArgumentException](
      Codecs.WavCodec.parseHeader(full.take(44 + 2).patch(16,
        Array[Byte](100, 0, 0, 0), 4))) // fmt len 100 > bytes present
    intercept[IllegalArgumentException]( // declared fmt len < 16
      Codecs.WavCodec.parseHeader(full.patch(16, Array[Byte](8, 0, 0, 0), 4)))
  }

  test("codec overflow hardening: huge declared sizes fail cleanly, never AIOOBE") {
    // WAV: a chunk declaring a near-Int.MaxValue length must not wrap
    // the cursor negative — the walk runs off the end and the missing
    // fmt chunk is reported cleanly
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(56)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("JUNK".getBytes("US-ASCII")).putInt(0x7ffffff0)
    val huge = bb.array()
    val e = intercept[IllegalArgumentException](
      Codecs.WavCodec.parseHeader(huge))
    assert(e.getMessage.contains("fmt"))
    // Y4M: dims whose frame-size arithmetic would overflow Int are
    // rejected at the header, not decoded into garbage metadata
    intercept[IllegalArgumentException](Codecs.Y4mCodec.parseHeader(
      "YUV4MPEG2 W65536 H65536 C420\nFRAME\n".getBytes("US-ASCII")))
  }

  test("Y4M: trailing garbage after the last frame is rejected (not under-counted)") {
    val y4m = Codecs.Y4mCodec.encodeRgbFrames(4, 2,
      Seq.fill(2)(new Array[Byte](24)))
    assert(Codecs.Y4mCodec.frameOffsets(y4m).length === 2)
    // corruption models a damaged FRAME marker: the bytes are still
    // there but no longer parse — must fail, not report n_frames=1
    val corrupted = y4m.clone()
    val secondFrame = Codecs.Y4mCodec.frameOffsets(y4m)(1)
    corrupted(secondFrame - 6) = 'X'.toByte // FRAME -> XRAME
    intercept[IllegalArgumentException](Codecs.Y4mCodec.frameOffsets(corrupted))
    intercept[IllegalArgumentException]( // plain appended garbage
      Codecs.Y4mCodec.frameOffsets(y4m ++ Array[Byte](1, 2, 3)))
  }

  test("multimodal decode dispatches all real codecs by magic (S2)") {
    import testImplicits._
    val bmp = Codecs.BmpCodec.encodeRgb(4, 2, new Array[Byte](24))
    val y4m = Codecs.Y4mCodec.encodeRgbFrames(4, 2,
      Seq.fill(5)(new Array[Byte](24)))
    val wav = Codecs.WavCodec.encodePcm16(8000, 1, new Array[Short](100))
    val jpg = Codecs.ImageIoCodecs.encodeRgb("jpg", 6, 4, new Array[Byte](72))
    val png = Codecs.ImageIoCodecs.encodeRgb("png", 5, 3, new Array[Byte](45))
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", bmp),
      Multimodal.MediaRecord(2L, "video", y4m),
      Multimodal.MediaRecord(3L, "audio", wav),
      Multimodal.MediaRecord(4L, "blob", Array[Byte](9, 9)),
      Multimodal.MediaRecord(5L, "image", jpg),
      Multimodal.MediaRecord(6L, "image", png))
    val out = Multimodal.decode(recs.toDS(), () => Codecs.AutoCodec)
      .collect().map(d => d.media_id -> d).toMap
    assert(out(1L).width === 4 && out(1L).n_frames === 1)
    assert(out(2L).width === 4 && out(2L).n_frames === 5)   // real frame count
    assert(out(3L).width === 8000 && out(3L).n_frames === 100)
    assert(out(4L).byte_len === 2)                          // stub fallback
    assert(out(5L).width === 6 && out(5L).height === 4)     // real JPEG parse
    assert(out(6L).width === 5 && out(6L).height === 3)     // real PNG parse
  }

  test("PNG codec: JDK ImageIO encode -> decode is pixel-exact (compressed S2)") {
    val (w, h) = (11, 7) // odd dims: no alignment luck
    val rgb = rgbPattern(w, h, 4)
    val png = Codecs.ImageIoCodecs.encodeRgb("png", w, h, rgb)
    // genuine PNG container magic, then a genuine inflate back out
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte)
    val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
    assert(dw === w && dh === h)
    assert(back.toSeq === rgb.toSeq) // lossless: bit-exact pixels
    // malformed payloads fail loudly
    intercept[IllegalArgumentException](
      Codecs.ImageIoCodecs.decodeRgb("not an image".getBytes))
  }

  test("JPEG codec: real lossy decode — dims exact, pixels within tolerance") {
    val (w, h) = (16, 16)
    // smooth gradient: JPEG quantization error stays small without
    // edge ringing
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = (60 + x * 4 + y * 4).toByte
    val jpg = Codecs.ImageIoCodecs.encodeRgb("jpg", w, h, rgb)
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8) // SOI
    val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(jpg)
    assert(dw === w && dh === h)
    val maxDiff = back.zip(rgb).map { case (a, b) =>
      math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxDiff <= 24, s"JPEG round-trip drifted by $maxDiff")
  }

  test("MJPEG-AVI codec: compressed VIDEO container parse + real frame decode") {
    val (w, h) = (16, 12)
    // smooth per-frame gradients so the JPEG loss stays small
    def smooth(seed: Int): Array[Byte] = {
      val out = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        out((y * w + x) * 3 + c) = (40 + x * 5 + y * 5 + seed * 20).toByte
      out
    }
    val rgbs = (0 until 4).map(smooth)
    val jpegs = rgbs.map(Codecs.ImageIoCodecs.encodeRgb("jpg", w, h, _))
    val avi = Codecs.AviMjpegCodec.encodeJpegFrames(w, h, jpegs)
    // container facts parsed from real RIFF bytes
    assert(Codecs.AviMjpegCodec.frameChunks(avi).length === 4)
    val meta = Codecs.AviMjpegCodec.decode(
      Multimodal.MediaRecord(9L, "video", avi))
    assert(meta.width === w && meta.height === h && meta.n_frames === 4)
    // each frame: genuine JPEG inflate, pixels near the source
    (0 until 4).foreach { i =>
      val (fw, fh, rgb) = Codecs.AviMjpegCodec.extractFrameRgb(avi, i)
      assert(fw === w && fh === h)
      val maxDiff = rgb.zip(rgbs(i)).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff)) }.max
      assert(maxDiff <= 32, s"frame $i drifted by $maxDiff")
    }
    // malformed payloads fail loudly
    intercept[IllegalArgumentException](
      Codecs.AviMjpegCodec.frameChunks("RIFF1234WAVE".getBytes))
    val truncated = avi.take(avi.length - 10)
    intercept[IllegalArgumentException]( // mid-movi cut: loud, never undercounted
      Codecs.AviMjpegCodec.frameChunks(truncated))
    // 'LIST rec ' interleave groupings (standard muxer layout) parse
    // to the same frames
    val inter = Codecs.AviMjpegCodec.encodeJpegFrames(w, h, jpegs,
      interleaved = true)
    val interChunks = Codecs.AviMjpegCodec.frameChunks(inter)
    assert(interChunks.length === 4)
    (0 until 4).foreach { i =>
      val (_, _, a) = Codecs.AviMjpegCodec.extractFrameRgb(inter, interChunks, i)
      val (_, _, b) = Codecs.AviMjpegCodec.extractFrameRgb(avi, i)
      assert(a.toSeq === b.toSeq, s"frame $i differs between layouts")
    }
    // frames of OTHER streams ('01dc') are not stream 0's
    val multi = avi.clone()
    val secondOff = Codecs.AviMjpegCodec.frameChunks(avi)(1)._1
    multi(secondOff - 7) = '1'.toByte // '00dc' -> '01dc'
    assert(Codecs.AviMjpegCodec.frameChunks(multi).length === 3)
  }

  test("compressed video e2e: AVI bytes -> decode stage -> sampled frames -> real inference") {
    import testImplicits._
    val (w, h) = (24, 18)
    val jpegs = (0 until 6).map(i =>
      Codecs.ImageIoCodecs.encodeRgb("jpg", w, h, rgbPattern(w, h, i)))
    val avi = Codecs.AviMjpegCodec.encodeJpegFrames(w, h, jpegs)
    // S2 decode announces real container metadata via magic dispatch
    val meta = Multimodal.decode(
      Seq(Multimodal.MediaRecord(3L, "video", avi)).toDS(),
      () => Codecs.AutoCodec)
    val sampled = Multimodal.sampleFrames(meta, step = 3)
      .collect().map(_.getInt(1))
    assert(sampled.toSeq === Seq(0, 3))
    // sampled frames inflate through the real JPEG decoder and feed
    // the real model: compressed video -> inference, all-JVM (the
    // container is walked ONCE, frames decode off the chunk table)
    val chunks = Codecs.AviMjpegCodec.frameChunks(avi)
    val frameRows = sampled.zipWithIndex.map { case (idx, i) =>
      val (fw, fh, rgb) = Codecs.AviMjpegCodec.extractFrameRgb(avi, chunks, idx)
      frame(i.toLong, fw, fh, rgb)
    }
    val factory = Detectors.forConfig(DetectorConfig(preprocFw = "np",
      modelInput = 32, modelPath = Some(GraftNet.BundledModel)))
    val dets = Detect.detect(frameRows.toSeq.toDS(), factory)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(dets.size === 2)
    assert(dets.values.forall(_.size === 6))
    assert(dets(0L).map(_.score) !== dets(1L).map(_.score))
  }

  test("compressed e2e: JPEG bytes -> real decode -> real inference") {
    import testImplicits._
    val (w, h) = (24, 18)
    val jpgs = (0 until 3).map(i =>
      Codecs.ImageIoCodecs.encodeRgb("jpg", w, h, rgbPattern(w, h, i)))
    // decode stage announces real dims from the JPEG headers
    val meta = Multimodal.decode(
      jpgs.zipWithIndex.map { case (b, i) =>
        Multimodal.MediaRecord(i.toLong, "image", b) }.toDS(),
      () => Codecs.AutoCodec).collect()
    assert(meta.forall(d => d.width === w && d.height === h))
    // decoded pixels feed the REAL model — decodebin -> inference,
    // all-JVM, on compressed input
    val frames = jpgs.zipWithIndex.map { case (b, i) =>
      val (fw, fh, rgb) = Codecs.ImageIoCodecs.decodeRgb(b)
      frame(i.toLong, fw, fh, rgb)
    }
    val factory = Detectors.forConfig(DetectorConfig(preprocFw = "np",
      modelInput = 32, modelPath = Some(GraftNet.BundledModel)))
    val dets = Detect.detect(frames.toDS(), factory)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(dets.size === 3)
    assert(dets.values.forall(_.size === 6))
    assert(dets(0L).map(_.score) !== dets(2L).map(_.score))
  }

  test("video end to end: Y4M bytes -> sampled frames -> real inference") {
    import testImplicits._
    val (w, h) = (16, 12)
    val frames = (0 until 4).map(i => rgbPattern(w, h, i)
      .zipWithIndex.map { case (b, j) => (b + (j % 2) * 0).toByte })
    val y4m = Codecs.Y4mCodec.encodeRgbFrames(w, h, frames)
    // S2 decode announces the real frame count; sample every 2nd frame
    val meta = Multimodal.decode(
      Seq(Multimodal.MediaRecord(7L, "video", y4m)).toDS(),
      () => Codecs.AutoCodec)
    val sampled = Multimodal.sampleFrames(meta, step = 2)
      .collect().map(_.getInt(1)) // frame_idx
    assert(sampled.toSeq === Seq(0, 2))
    // extract the sampled frames' real pixels and score them with the
    // real model — the reference's whole dataflow on genuine video
    // bytes, every stage live
    val frameRows = sampled.zipWithIndex.map { case (idx, i) =>
      val (fw, fh, rgb) = Codecs.Y4mCodec.extractFrameRgb(y4m, idx)
      frame(i.toLong, fw, fh, rgb)
    }
    val factory = Detectors.forConfig(DetectorConfig(preprocFw = "np",
      modelInput = 32, modelPath = Some(GraftNet.BundledModel)))
    val dets = Detect.detect(frameRows.toSeq.toDS(), factory)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(dets.size === 2)
    assert(dets.values.forall(_.size === 6))
    // different video frames -> different scores (the model sees the
    // actual decoded pixels)
    assert(dets(0L).map(_.score) !== dets(1L).map(_.score))
  }

  test("gnet runtime: committed artifact loads; forward is deterministic") {
    val net = GraftNet.load(GraftNet.BundledModel)
    assert(net.inputSize === 192 && net.outputSize === 36)
    val x = Array.tabulate(192)(i => ((i % 17) - 8) / 8.0f)
    val y1 = net.forward(x)
    val y2 = net.forward(x)
    assert(y1.toSeq === y2.toSeq)
    assert(y1.length === 36)
    // ReLU hidden layer actually nonlinear: scaling input does not
    // scale output linearly
    val y3 = net.forward(x.map(_ * 2f))
    assert(y3.toSeq !== y1.map(_ * 2f).toSeq)
    intercept[IllegalArgumentException](net.forward(new Array[Float](5)))
  }

  test("real detector: BMP pixels -> P4-P8 preprocess -> forward -> boxes") {
    import testImplicits._
    val cfg = DetectorConfig(preprocFw = "np", modelInput = 32,
      modelPath = Some(GraftNet.BundledModel))
    val factory = Detectors.forConfig(cfg)
    val frames = (1L to 6L).map { id =>
      val (w, h) = (20 + id.toInt, 14 + id.toInt)
      val (dw, dh, rgb) = Codecs.BmpCodec.decodeRgb(
        Codecs.BmpCodec.encodeRgb(w, h, rgbPattern(w, h, id.toInt)))
      frame(id, dw, dh, rgb)
    }
    val out = Detect.detect(frames.toDS(), factory, batchSize = 2)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(out.size === 6)
    out.values.foreach { dets =>
      assert(dets.size === 6) // 6 heads
      dets.foreach { d =>
        assert(d.ymin >= 0f && d.ymax <= 1f && d.ymin <= d.ymax)
        assert(d.xmin >= 0f && d.xmax <= 1f && d.xmin <= d.xmax)
        assert(d.score >= 0f && d.score <= 1f)
        assert(d.class_id >= 0 && d.class_id <= 24)
      }
    }
    // the model reads the pixels: different frames -> different boxes
    assert(out(1L).map(_.score).toSeq !== out(6L).map(_.score).toSeq)
    // and is deterministic: a second run produces identical output
    val again = Detect.detect(frames.toDS(), factory, batchSize = 3)
      .collect().map(r => r.frame_id -> r.detections).toMap
    assert(again === out)
  }

  test("class ids respect the configured label domain (not a hardcoded 25)") {
    val mk = (domain: Int) => {
      val det = new GraftNetDetector(GraftNet.BundledModel,
        DetectorConfig(preprocFw = "np", modelInput = 32, labelDomain = domain))
      det.detectBatch(Seq(frame(1L, 20, 14, rgbPattern(20, 14, 3)))).head
    }
    val d10 = mk(10); val d25 = mk(25)
    assert(d10.forall(d => d.class_id >= 0 && d.class_id < 10))
    assert(d25.forall(d => d.class_id >= 0 && d.class_id < 25))
    // same logits, different bucketing: boxes/scores identical
    assert(d10.map(d => (d.ymin, d.xmin, d.ymax, d.xmax, d.score)) ===
      d25.map(d => (d.ymin, d.xmin, d.ymax, d.xmax, d.score)))
    intercept[IllegalArgumentException](mk(0))
  }

  test("int8 artifact: really quantized, boxes track fp32 within tolerance (M3)") {
    val fp32 = GraftNet.load(GraftNet.BundledModel)
    val int8 = GraftNet.load(GraftNet.BundledModelInt8)
    assert(int8.inputSize === fp32.inputSize)
    assert(int8.outputSize === fp32.outputSize)
    // the artifact is genuinely int8: each layer's weight tensor
    // takes at most 255 distinct values (symmetric signed levels)
    int8.layers.foreach { case (w, _) =>
      assert(w.flatten.distinct.length <= 255)
    }
    // and not degenerate: still hundreds of distinct levels
    assert(int8.layers.head._1.flatten.distinct.length > 100)
    // accuracy: same frames through both artifacts, heads aligned
    def boxesOf(path: String) = {
      val det = new GraftNetDetector(path,
        DetectorConfig(preprocFw = "np", modelInput = 32))
      (1L to 8L).flatMap { id =>
        det.detectBatch(Seq(frame(id, 24, 18, rgbPattern(24, 18, id.toInt)))).head
      }
    }
    val (a, b) = (boxesOf(GraftNet.BundledModel),
      boxesOf(GraftNet.BundledModelInt8))
    val boxDrift = a.zip(b).flatMap { case (x, y) =>
      Seq(x.ymin - y.ymin, x.xmin - y.xmin, x.ymax - y.ymax,
        x.xmax - y.xmax).map(d => math.abs(d.toDouble)) }.max
    val scoreDrift = a.zip(b).map { case (x, y) =>
      math.abs((x.score - y.score).toDouble) }.max
    assert(boxDrift <= 0.05, s"int8 box drift $boxDrift")
    assert(scoreDrift <= 0.05, s"int8 score drift $scoreDrift")
    // the dtype -> artifact mapping (benchmark.sh parity)
    assert(Detectors.bundledArtifact("FP32") === GraftNet.BundledModel)
    assert(Detectors.bundledArtifact("INT8") === GraftNet.BundledModelInt8)
    intercept[UnsupportedOperationException](Detectors.bundledArtifact("BF16"))
  }

  test("forConfig: .gnet resolves the real runtime, others fail fast") {
    val real = Detectors.forConfig(
      DetectorConfig(modelPath = Some(GraftNet.BundledModel), modelInput = 16))
    assert(real().isInstanceOf[GraftNetDetector])
    intercept[UnsupportedOperationException](
      Detectors.forConfig(DetectorConfig(modelPath = Some("/m/frozen.pb"))))
    // missing artifact fails at load (per-partition init), loudly
    intercept[IllegalArgumentException](
      Detectors.forConfig(
        DetectorConfig(modelPath = Some("/nonexistent/x.gnet")))())
  }

  test("config-driven pipeline runs the REAL model (settings.yaml -> .gnet)") {
    import testImplicits._
    graft.streaming.InMemoryStore.reset()
    val framesDir = java.nio.file.Files.createTempDirectory("graft-real-").toString
    val labelFile = java.nio.file.Files.createTempFile("labels-", ".label")
    try {
      java.nio.file.Files.writeString(labelFile,
        (0 until 25).map(i => s"$i:label_$i").mkString("\n"))
      val frames = (1L to 8L).map { id =>
        frame(id, 16, 12, rgbPattern(16, 12, id.toInt))
      }
      frames.toDS().write.mode("overwrite").parquet(framesDir)
      val yaml =
        s"""device: CPU
           |preproc_fw: np
           |face_threshold: 0.1
           |model_path: ${graft.operators.GraftNet.BundledModel}
           |model_input: 32
           |video_path: $framesDir
           |label_file: $labelFile
           |""".stripMargin
      val cfg = graft.streaming.PipelineConfig.fromMap(
        graft.streaming.PipelineConfig.fromYaml(yaml))
      assert(cfg.modelPath.contains(graft.operators.GraftNet.BundledModel))
      assert(cfg.modelInput === 32)
      val store = new graft.streaming.InMemoryStore
      val q = graft.streaming.VideoPipeline.run(spark, cfg, store)
      q.awaitTermination(60000)
      // real weights scored real pixels and records reached the sink
      assert(graft.streaming.InMemoryStore.size > 0)
      // parity with the batch path under the same real factory
      val expected = graft.streaming.DetectionStream.pipeline(
          frames.toDS(),
          graft.sources.Labels.fromIdNameFile(spark, labelFile.toString),
          Detectors.forConfig(DetectorConfig(preprocFw = "np", modelInput = 32,
            modelPath = Some(graft.operators.GraftNet.BundledModel))),
          0.1)
        .collect().map(_.getString(0)).toSet
      assert(graft.streaming.InMemoryStore.all.toSet === expected)
    } finally Seq(new java.io.File(framesDir), labelFile.toFile)
      .foreach(TmpPaths.deleteRecursively)
  }

  test("grid pooling: cell means over a known tensor") {
    val px = Array.tabulate(48)(i => (i / 3).toByte) // pixel p has value p in all channels
    val identity = new Preprocess.Affine(Array.fill(3)(0.0), Array.fill(3)(1.0))
    val pooled = GraftNetDetector.resizePool(4, 4, px, 4, 4, 2, identity) // identity size
    assert(pooled.length === 12)
    // top-left 2x2 cell holds pixels 0,1,4,5 -> mean 2.5
    assert(pooled(0) === 2.5f)
    // bottom-right cell holds pixels 10,11,14,15 -> mean 12.5
    assert(pooled(9) === 12.5f)
  }

  /** The feature path the detector had before it pooled the frame's
    * bytes: the bytes become a zero-filled HWC float tensor, each
    * value is normalized by the preproc_fw kernel, and the tensor is
    * resized to the model input and average-pooled into a g×g×3 grid,
    * the cell sums in double. It is the reference `features` is held
    * to. */
  private object ParentPath {
    def decodeBuffer(f: Frame): Tensor = {
      val n = f.height * f.width * 3
      val out = new Array[Float](n)
      val m = math.min(n, if (f.data == null) 0 else f.data.length)
      for (i <- 0 until m) out(i) = (f.data(i) & 0xff).toFloat
      Tensor(f.height, f.width, 3, out)
    }

    def normalizeMinMax(t: Tensor): Tensor = {
      var mn = Float.MaxValue; var mx = Float.MinValue
      t.data.foreach { v => if (v < mn) mn = v; if (v > mx) mx = v }
      val range = if (mx > mn) mx - mn else 1.0f
      t.copy(data = t.data.map(v => (v - mn) / range))
    }

    def normalizeImagenet(t: Tensor): Tensor = t.copy(data = t.data.indices.map { i =>
      val c = i % t.channels
      (t.data(i) / 255.0f - Preprocess.ImagenetMean(c)) / Preprocess.ImagenetStd(c)
    }.toArray)

    def standardize(t: Tensor): Tensor = {
      val n = t.data.length
      var sum = 0.0; var sumSq = 0.0
      t.data.foreach { v => sum += v; sumSq += v.toDouble * v }
      val mean = sum / n
      val variance = math.max(0.0, sumSq / n - mean * mean)
      val adjStd = math.max(math.sqrt(variance), 1.0 / math.sqrt(n.toDouble))
      t.copy(data = t.data.map(v => ((v - mean) / adjStd).toFloat))
    }

    def normalizer(fw: String): Tensor => Tensor = fw match {
      case "cv2" => normalizeMinMax
      case "np" => normalizeImagenet
      case "tf" => standardize
    }

    def resizeThenPool(t: Tensor, outH: Int, outW: Int, g: Int): Array[Float] = {
      val r = Preprocess.resizeBilinear(t, outH, outW)
      val sums = new Array[Double](g * g * 3)
      val counts = new Array[Int](g * g)
      for (y <- 0 until r.height; x <- 0 until r.width) {
        val cell = math.min(g - 1, y * g / r.height) * g +
          math.min(g - 1, x * g / r.width)
        counts(cell) += 1
        for (c <- 0 until 3) sums(cell * 3 + c) += r.data((y * r.width + x) * 3 + c)
      }
      Array.tabulate(g * g * 3) { i =>
        val n = counts(i / 3)
        if (n == 0) 0f else (sums(i) / n).toFloat
      }
    }

    def features(f: Frame, fw: String, outH: Int, outW: Int, g: Int): Array[Float] =
      resizeThenPool(normalizer(fw)(decodeBuffer(f)), outH, outW, g)
  }

  test("resize-pool matches the exact cell means of the bilinear resize") {
    // (source w, source h, output h, output w, grid)
    val geometries = Seq(
      (320, 240, 1200, 1200, 8), // the benchmark's upscale
      (24, 24, 24, 24, 8),       // identity
      (24, 18, 24, 24, 8),       // one axis at identity
      (64, 48, 20, 20, 8),       // downscale: source rows skipped
      (40, 30, 5, 5, 8),         // output edge < grid: empty cells
      (1, 1, 32, 32, 8),         // 1x1 source
      (37, 23, 51, 51, 8),       // odd sizes
      (23, 37, 13, 29, 3),       // odd, non-square output
      (5, 7, 3, 11, 4),          // mixed down/up per axis
      (9, 9, 2, 2, 8),           // 2x2 output
      (300, 2, 7, 7, 8),         // thin source
      (2, 300, 9, 9, 8))         // tall source
    for ((w, h, oh, ow, g) <- geometries; fw <- Seq("cv2", "np", "tf")) {
      val buffers = Seq(
        "full" -> rgbPattern(w, h, w + h),
        "short" -> rgbPattern(w, h, 7).take(w * h * 3 / 2),
        "null" -> (null: Array[Byte]))
      for ((kind, data) <- buffers) {
        // the cell means of the normalized frame's resize, from the
        // bytes' cell means through the normalizer's affine map
        val f = frame(1L, w, h, data)
        val got = GraftNetDetector.features(f, Preprocess.normalization(fw), oh, ow, g)
        val ref = ParentPath.features(f, fw, oh, ow, g)
        assert(got.length === ref.length)
        for (i <- ref.indices)
          assert(math.abs(got(i) - ref(i)) <= 1e-6 * math.max(1.0, math.abs(ref(i))),
            s"${w}x$h -> ${oh}x$ow grid $g, $fw, $kind buffer, value $i: " +
              s"${got(i)} vs ${ref(i)}")
      }
    }
  }

  /** Order-dependent hash of every bit of a detector's output. */
  private def detectionDigest(dets: Seq[Seq[graft.model.RawDetection]]): Long =
    dets.flatten.foldLeft(17L) { (h, d) =>
      (Seq(d.ymin, d.xmin, d.ymax, d.xmax, d.score)
        .map(v => java.lang.Float.floatToRawIntBits(v).toLong) :+ d.class_id.toLong)
        .foldLeft(h)((a, v) => a * 1000003L + v)
    }

  test("detectBatch outputs are unchanged for the FP32 and INT8 artifacts") {
    // digests of the outputs with features pooled from the frame's
    // bytes and normalized as cell means
    val pinned = Map(
      GraftNet.BundledModel -> 2923150675611048370L,
      GraftNet.BundledModelInt8 -> -5041403546028640963L)
    val frames = (1 to 3).map(i => frame(i, 80 + i, 60, rgbPattern(80 + i, 60, i))) :+
      frame(4L, 31, 17, rgbPattern(31, 17, 4).take(100)) :+
      frame(5L, 8, 8, null)
    val labels = DetectorConfig().labelDomain
    def cls(logit: Float) =
      math.min(labels - 1, (GraftNetDetector.sigmoid(logit) * labels).toInt)
    def kept(logit: Float) = GraftNetDetector.sigmoid(logit).toFloat > 0.5f
    for ((model, digest) <- pinned) {
      val net = GraftNet.load(model)
      val grid = math.sqrt(net.inputSize / 3.0).toInt
      val dets = for (fw <- Seq("cv2", "np", "tf"); edge <- Seq(1200, 33, 4)) yield {
        // against the parent path's features: logits within 1e-4, and
        // every head keeps its class bucket and its side of the 0.5
        // score cut
        for (f <- frames) {
          val now = net.forward(GraftNetDetector.features(f,
            Preprocess.normalization(fw), edge, edge, grid))
          val old = net.forward(ParentPath.features(f, fw, edge, edge, grid))
          val where = s"$model, $fw, edge $edge, frame ${f.frame_id}"
          for (i <- now.indices)
            assert(math.abs(now(i) - old(i)) <= 1e-4, s"$where, logit $i")
          for (head <- 0 until now.length / 6) {
            assert(cls(now(head * 6 + 5)) === cls(old(head * 6 + 5)), s"$where, head $head")
            assert(kept(now(head * 6 + 4)) === kept(old(head * 6 + 4)), s"$where, head $head")
          }
        }
        new GraftNetDetector(model,
          DetectorConfig(preprocFw = fw, modelInput = edge)).detectBatch(frames)
      }
      assert(detectionDigest(dets.flatten) === digest, model)
    }
  }

  test("a frame with a non-positive height or width is refused by name") {
    for ((h, w) <- Seq((-1, 8), (8, -1), (0, 8), (8, 0), (0, 0))) {
      val e = intercept[IllegalArgumentException](Detect.detectAligned(StubDetector,
        Seq(Frame("clip7", 42L, new Timestamp(0L), h, w, null))))
      assert(e.getMessage.contains("clip7/42") &&
        e.getMessage.contains(s"${h}x$w"), e.getMessage)
    }
    // the detect operator fails the task on it, naming the frame, as
    // the reference halts on its first bad frame; one partition, so
    // vid/2 is the first bad frame the task meets. The stub, which
    // reads no pixels, refuses it too.
    import spark.implicits._
    val frames = Seq(frame(1L, 8, 8, rgbPattern(8, 8, 1)),
      Frame("vid", 2L, new Timestamp(0L), -1, 8, null),
      Frame("vid", 3L, new Timestamp(0L), 0, 8, null))
    for (path <- Seq(Some(GraftNet.BundledModel), None)) {
      val factory = Detectors.forConfig(DetectorConfig(modelPath = path, modelInput = 16))
      val e = intercept[Exception](
        Detect.detect(frames.toDS().coalesce(1), factory, batchSize = 3).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(messages.contains("vid/2") && messages.contains("-1x8"), s"$path: $messages")
    }
  }

  test("a non-positive model_input or unknown preproc_fw is refused by name") {
    for (path <- Seq(Some(GraftNet.BundledModel), None)) {
      for (edge <- Seq(0, -2)) {
        val e = intercept[IllegalArgumentException](
          Detectors.forConfig(DetectorConfig(modelPath = path, modelInput = edge)))
        assert(e.getMessage.contains("model_input"), e.getMessage)
      }
      val e = intercept[IllegalArgumentException](
        Detectors.forConfig(DetectorConfig(modelPath = path, preprocFw = "torch")))
      assert(e.getMessage.contains("preproc_fw") && e.getMessage.contains("torch"),
        e.getMessage)
    }
    // the pipeline entry point refuses before it opens any source
    val cfg = graft.streaming.PipelineConfig(videoPath = "/nonexistent/frames",
      labelFile = "/nonexistent/labels")
    for ((bad, key) <- Seq(cfg.copy(modelInput = -2) -> "model_input",
        cfg.copy(preprocFw = "torch") -> "preproc_fw")) {
      val e = intercept[IllegalArgumentException](
        graft.streaming.VideoPipeline.run(spark, bad, new graft.streaming.InMemoryStore))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    // the kernels themselves refuse what would pool to all zeros
    val t = Tensor(2, 2, 3, Array.fill(12)(1f))
    intercept[IllegalArgumentException](Preprocess.resizeBilinear(t, 0, 0))
    intercept[IllegalArgumentException](GraftNetDetector.features(
      frame(1L, 2, 2, null), Preprocess.normalization("np"), -2, -2, 8))
  }
}
