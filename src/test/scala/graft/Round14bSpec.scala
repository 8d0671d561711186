package graft

import graft.operators.{Codecs, Inter}
import Codecs.Mp4

/** Round-14 session-2 additions: the P-slice inter rung (m41) —
  * cases the y-uniform gate fixtures cannot reach: vertical motion,
  * mixed per-macroblock MVs through the §8.4.1.3 median prediction,
  * 2-D chroma bilinear, and the named refusals. */
class Round14bSpec extends SparkTestBase {

  /** A deterministic non-uniform 32×16 I frame (I_PCM carries
    * arbitrary planes losslessly — the cleanest reference picture
    * for MC checks). */
  private def refFrame(seed: Int): Mp4.PcmFrame = {
    def plane(n: Int, k: Int) =
      Array.tabulate(n)(i => (((i * 31 + seed * 17 + k * 7) % 251) + 2).toByte)
    Mp4.PcmFrame(32, 16, plane(512, 0), plane(128, 1), plane(128, 2))
  }

  private def gop(mbs: Seq[Seq[Inter.PMb]], seed: Int = 3): Seq[Mp4.PcmFrame] = {
    val f0 = refFrame(seed)
    val iNal = Mp4.buildIdrPcmSlice(f0, frameNum = 0, frameNumBits = 4)
    val pNals = mbs.zipWithIndex.map { case (m, i) =>
      Inter.buildPSlice(m, 2, 1, frameNum = i + 1, frameNumBits = 4)
    }
    val mp4 = Mp4.mux(Seq(Seq(iNal)) ++ pNals.map(Seq(_)),
      keyframes = Seq(1), timescale = 90000, sampleDelta = 3000,
      width = 32, height = 16)
    Inter.decodeGopFrames(mp4).toSeq
  }

  test("P_Skip: an all-skip P frame is a byte-exact copy of its " +
    "reference (the §8.4.1.1 zero-MV derivation), chained") {
    val fs = gop(Seq(Seq(Inter.PSkip, Inter.PSkip),
      Seq(Inter.PSkip, Inter.PSkip)))
    assert(fs.size === 3)
    assert(fs(1).y.toSeq === fs(0).y.toSeq &&
      fs(2).y.toSeq === fs(0).y.toSeq)
    assert(fs(1).cb.toSeq === fs(0).cb.toSeq &&
      fs(1).cr.toSeq === fs(0).cr.toSeq)
  }

  test("P_L0_16x16 full-pel MC with VERTICAL + horizontal motion: " +
    "the decoded frame equals the clamped 2-D gather of the " +
    "reference, luma exact; chroma equals the §8.4.2.2.2 bilinear") {
    val (dx, dy) = (8, -12) // full-pel luma (2, -3); chroma (1, -1.5)
    val fs = gop(Seq(Seq(Inter.PMove(dx, dy), Inter.PMove(dx, dy))))
    val f0 = fs(0); val f1 = fs(1)
    def cl(v: Int, hi: Int) = math.max(0, math.min(hi, v))
    for (y <- 0 until 16; x <- 0 until 32) {
      val exp = f0.y(cl(y + dy / 4, 15) * 32 + cl(x + dx / 4, 31)) & 0xff
      assert((f1.y(y * 32 + x) & 0xff) === exp, s"luma ($x,$y)")
    }
    // chroma: base (1, -2), frac (0, 4) → vertical half-pel bilinear
    val bx = dx >> 3; val by = dy >> 3
    val xF = dx & 7; val yF = dy & 7
    for (y <- 0 until 8; x <- 0 until 16) {
      val a = f0.cb(cl(y + by, 7) * 16 + cl(x + bx, 15)) & 0xff
      val b = f0.cb(cl(y + by, 7) * 16 + cl(x + bx + 1, 15)) & 0xff
      val c = f0.cb(cl(y + by + 1, 7) * 16 + cl(x + bx, 15)) & 0xff
      val d = f0.cb(cl(y + by + 1, 7) * 16 + cl(x + bx + 1, 15)) & 0xff
      val exp = ((8 - xF) * (8 - yF) * a + xF * (8 - yF) * b +
        (8 - xF) * yF * c + xF * yF * d + 32) >> 6
      assert((f1.cb(y * 16 + x) & 0xff) === exp, s"chroma ($x,$y)")
    }
  }

  test("§8.4.1.3 prediction with MIXED per-MB MVs: MB1's mvd is " +
    "coded against mvA and both MBs land on their own MVs") {
    val fs = gop(Seq(Seq(Inter.PMove(8, 0), Inter.PMove(-8, 4))))
    val f0 = fs(0); val f1 = fs(1)
    def cl(v: Int, hi: Int) = math.max(0, math.min(hi, v))
    for (y <- 0 until 16; x <- 0 until 32) {
      val (dx, dy) = if (x < 16) (2, 0) else (-2, 1)
      val exp = f0.y(cl(y + dy, 15) * 32 + cl(x + dx, 31)) & 0xff
      assert((f1.y(y * 32 + x) & 0xff) === exp, s"($x,$y)")
    }
  }

  test("skip-after-motion: a P_Skip NEXT TO a moved macroblock " +
    "derives the median MV, not zero — spec §8.4.1.1's else branch " +
    "via the decoded neighbour state") {
    // frame 1: MB0 moves (8,0), MB1 skips. A = MB0 (nonzero MV,
    // ref 0), B unavailable → the A-or-B-unavailable clause fires →
    // MV = 0 → MB1 is a copy. The builder derives the same, so the
    // round trip pins the rule.
    val fs = gop(Seq(Seq(Inter.PMove(8, 0), Inter.PSkip)))
    val f0 = fs(0); val f1 = fs(1)
    for (y <- 0 until 16; x <- 16 until 32)
      assert((f1.y(y * 32 + x) & 0xff) === (f0.y(y * 32 + x) & 0xff))
    for (y <- 0 until 16; x <- 0 until 16) {
      val exp = f0.y(y * 32 + math.min(31, x + 2)) & 0xff
      assert((f1.y(y * 32 + x) & 0xff) === exp)
    }
  }

  test("refusals, by name: residual-coded inter MBs, B-slice header " +
    "and P-before-IDR at the parser") {
    // a residual-coded P MB (cbp codeNum 1) refuses by name
    val wr = new Mp4.BitWriter
    wr.ue(0L); wr.ue(5L); wr.ue(0L); wr.u(1L, 4)
    wr.u(0L, 1); wr.u(0L, 1); wr.u(0L, 1); wr.se(0L); wr.ue(1L)
    wr.ue(0L)            // mb_skip_run
    wr.ue(0L)            // mb_type P_L0_16x16
    wr.se(0L); wr.se(0L) // mvd
    wr.ue(1L)            // coded_block_pattern codeNum 1 != 0
    wr.trailingBits()
    val resNal = (0x41.toByte +: Mp4.rbspEscape(wr.bytes)).toArray
    val spsW = Mp4.parseSps(Mp4.buildSps(32, 16))
    val e1 = intercept[IllegalArgumentException] {
      Inter.parsePSlice(resNal, spsW, Mp4.defaultPps, refFrame(1))
    }
    assert(e1.getMessage.contains("Table 9-4 inter"))
    // a B-slice header (slice_type 6) refuses in parsePSlice
    val w = new Mp4.BitWriter
    w.ue(0L); w.ue(6L); w.ue(0L); w.u(1L, 4)
    w.trailingBits()
    val bNal = (0x41.toByte +: Mp4.rbspEscape(w.bytes)).toArray
    val sps = Mp4.parseSps(Mp4.buildSps(32, 16))
    val e2 = intercept[IllegalArgumentException] {
      Inter.parsePSlice(bNal, sps, Mp4.defaultPps, refFrame(1))
    }
    assert(e2.getMessage.contains("B slices"))
    // a GOP that opens with a P frame refuses (no reference yet)
    val pOnly = Mp4.mux(Seq(Seq(Inter.buildPSlice(
      Seq(Inter.PSkip, Inter.PSkip), 2, 1, 1, 4))),
      keyframes = Seq(1), timescale = 90000, sampleDelta = 3000,
      width = 32, height = 16)
    val e3 = intercept[IllegalArgumentException] {
      Inter.decodeGopFrames(pOnly).next()
    }
    assert(e3.getMessage.contains("IDR"))
  }

  test("quarter-pel luma (m42): all 16 (xFrac,yFrac) positions match " +
    "a vertical-first restatement of §8.4.2.2.1 (the spec's two " +
    "derivations of the centre position must agree), incl. clamping") {
    val f0 = refFrame(7)
    def cl(v: Int, hi: Int) = math.max(0, math.min(hi, v))
    def L(x: Int, y: Int) = f0.y(cl(y, 15) * 32 + cl(x, 31)) & 0xff
    def c255(v: Int) = math.max(0, math.min(255, v))
    // vertical-first: vsum intermediates, then the horizontal 6-tap
    def vsum(x: Int, y: Int) =
      L(x, y - 2) - 5 * L(x, y - 1) + 20 * L(x, y) + 20 * L(x, y + 1) -
        5 * L(x, y + 2) + L(x, y + 3)
    def hH(x: Int, y: Int) = c255((L(x - 2, y) - 5 * L(x - 1, y) +
      20 * L(x, y) + 20 * L(x + 1, y) - 5 * L(x + 2, y) +
      L(x + 3, y) + 16) >> 5)
    def hV(x: Int, y: Int) = c255((vsum(x, y) + 16) >> 5)
    def jj(x: Int, y: Int) = c255((vsum(x - 2, y) - 5 * vsum(x - 1, y) +
      20 * vsum(x, y) + 20 * vsum(x + 1, y) - 5 * vsum(x + 2, y) +
      vsum(x + 3, y) + 512) >> 10)
    def av(a: Int, b: Int) = (a + b + 1) >> 1
    def expect(x: Int, y: Int, mvx: Int, mvy: Int): Int = {
      val xx = x + (mvx >> 2); val yy = y + (mvy >> 2)
      ((mvx & 3, mvy & 3): @unchecked) match {
        case (0, 0) => L(xx, yy)
        case (2, 0) => hH(xx, yy)
        case (0, 2) => hV(xx, yy)
        case (2, 2) => jj(xx, yy)
        case (1, 0) => av(L(xx, yy), hH(xx, yy))
        case (3, 0) => av(hH(xx, yy), L(xx + 1, yy))
        case (0, 1) => av(L(xx, yy), hV(xx, yy))
        case (0, 3) => av(hV(xx, yy), L(xx, yy + 1))
        case (2, 1) => av(hH(xx, yy), jj(xx, yy))
        case (2, 3) => av(jj(xx, yy), hH(xx, yy + 1))
        case (1, 2) => av(hV(xx, yy), jj(xx, yy))
        case (3, 2) => av(jj(xx, yy), hV(xx + 1, yy))
        case (1, 1) => av(hH(xx, yy), hV(xx, yy))
        case (3, 1) => av(hH(xx, yy), hV(xx + 1, yy))
        case (1, 3) => av(hH(xx, yy + 1), hV(xx, yy))
        case (3, 3) => av(hH(xx, yy + 1), hV(xx + 1, yy))
      }
    }
    for (xF <- 0 to 3; yF <- 0 to 3) {
      val mv = (-8 + xF, 4 + yF)
      val fs = gop(Seq(Seq(Inter.PMove(mv._1, mv._2),
        Inter.PMove(mv._1, mv._2))), seed = 7)
      val f1 = fs(1)
      for (y <- 0 until 16; x <- 0 until 32)
        assert((f1.y(y * 32 + x) & 0xff) === expect(x, y, mv._1, mv._2),
          s"pos ($x,$y) frac ($xF,$yF)")
    }
    // hand anchor: a step edge 100→200 with zero wings gives the
    // 6-tap overshoot (0−0+2000+4000−0+0+16)>>5 = 188, not the
    // bilinear 150 — pins the taps themselves
    val row = Array(0, 0, 100, 200, 0, 0)
    val s = row(0) - 5 * row(1) + 20 * row(2) + 20 * row(3) -
      5 * row(4) + row(5)
    assert(((s + 16) >> 5) === 188)
  }

  test("m44: multi-MB CABAC ≡ CAVLC on pixels — a two-macroblock " +
    "row with chroma-DC residuals decodes identically through both " +
    "entropy coders (cross-MB mb_type/cbf/chroma context chains vs " +
    "the CAVLC nC grid)") {
    import graft.operators.Cabac
    val rnd = new scala.util.Random(0x44)
    val noAc = Array.fill(16)(null: Array[Int])
    for (trial <- 0 until 15) {
      val c0 = rnd.between(-5, 6)
      val c1 = rnd.between(-8, 9)
      val cb0 = if (trial % 2 == 0) rnd.between(-6, 7) else 0
      val cr0 = if (trial % 2 == 0) rnd.between(-6, 7) else 0
      val cb1 = rnd.between(-6, 7)
      val cr1 = rnd.between(-6, 7)
      val dc0 = new Array[Int](16); dc0(0) = c0
      val dc1 = new Array[Int](16); dc1(0) = c1
      def chroma(cbc: Int, crc: Int): Mp4.ChromaRes =
        if (cbc == 0 && crc == 0) null
        else {
          val a = new Array[Int](4); a(0) = cbc
          val b = new Array[Int](4); b(0) = crc
          Mp4.ChromaRes(a, null, b, null)
        }
      val vNal = Mp4.buildMixedIntraSlice(Seq(
        Mp4.I16Mb(dc0, noAc, 2, chroma(cb0, cr0)),
        Mp4.I16Mb(dc1, noAc, 2, chroma(cb1, cr1))),
        2, 1, frameNum = 0, frameNumBits = 4)
      val vMp4 = Mp4.mux(Seq(Seq(vNal)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
      val a1 = Inter.decodeGopFrames(vMp4).next()
      val cNal = Cabac.buildI16x16Row(Seq(
        Cabac.CabacI16(dc0, noAc, cb0, cr0),
        Cabac.CabacI16(dc1, noAc, cb1, cr1)),
        frameNum = 0, frameNumBits = 4)
      val cMp4 = Mp4.mux(Seq(Seq(cNal)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 32, height = 16,
        ppsOverride = Cabac.buildPps())
      val a2 = Inter.decodeGopFrames(cMp4).next()
      assert(a1.y.toSeq === a2.y.toSeq, s"trial $trial luma")
      assert(a1.cb.toSeq === a2.cb.toSeq, s"trial $trial cb")
      assert(a1.cr.toSeq === a2.cr.toSeq, s"trial $trial cr")
    }
  }

  test("videoFileStream rides the full decode envelope: an I+P GOP " +
    "file streams into the detection pipeline and equals the batch " +
    "decode of the same bytes") {
    import graft.operators.StubDetector
    import graft.model.Frame
    import graft.sources.FrameSource
    import graft.streaming.{DetectionStream, InMemoryStore}
    val dir = java.nio.file.Files.createTempDirectory("graft-gop-in-")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gop-ck-")
    try {
      val f0 = refFrame(21)
      val nals = Seq(
        Mp4.buildIdrPcmSlice(f0, frameNum = 0, frameNumBits = 4),
        Inter.buildPSlice(Seq(Inter.PMove(5, -6), Inter.PMove(5, -6)),
          2, 1, frameNum = 1, frameNumBits = 4),
        Inter.buildPSlice(Seq(Inter.PSkip, Inter.PSkip), 2, 1,
          frameNum = 2, frameNumBits = 4))
      val mp4 = Mp4.mux(nals.map(Seq(_)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
      java.nio.file.Files.write(dir.resolve("gop.mp4"), mp4)
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
      import testImplicits._
      val mt = new java.sql.Timestamp(java.nio.file.Files
        .getLastModifiedTime(dir.resolve("gop.mp4")).toMillis)
      val direct = Inter.decodeGopFrames(mp4).zipWithIndex.map {
        case (f, i) =>
          val planes = f.y ++ f.cb ++ f.cr
          Frame("gop.mp4", i.toLong, mt, f.height, f.width,
            graft.operators.Codecs.Y4mCodec
              .yuv420ToRgb(planes, 0, f.width, f.height))
      }.toSeq
      assert(direct.size === 3)
      val batchOut = DetectionStream.pipeline(
        direct.toDS(), labels, () => StubDetector, 0.7)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(batchOut.nonEmpty)
      assert(InMemoryStore.all.sorted.toSeq === batchOut)
    } finally Seq(dir, ckpt).foreach(p => TmpPaths.deleteRecursively(p.toFile))
  }

  test("the GOP decoder is lazy and order-true: intra frames " +
    "re-anchor the reference mid-stream") {
    // I, P(move), I (different plane), P(skip): frame 3 must copy
    // frame 2, not frame 1
    val f0 = refFrame(3); val f2 = refFrame(9)
    val nals = Seq(
      Mp4.buildIdrPcmSlice(f0, frameNum = 0, frameNumBits = 4),
      Inter.buildPSlice(Seq(Inter.PMove(4, 0), Inter.PMove(4, 0)),
        2, 1, frameNum = 1, frameNumBits = 4),
      Mp4.buildIdrPcmSlice(f2, frameNum = 0, frameNumBits = 4,
        idrPicId = 1),
      Inter.buildPSlice(Seq(Inter.PSkip, Inter.PSkip), 2, 1,
        frameNum = 1, frameNumBits = 4))
    val mp4 = Mp4.mux(nals.map(Seq(_)), keyframes = Seq(1, 3),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val out = Inter.decodeGopFrames(mp4).toSeq
    assert(out.size === 4)
    assert(out(2).y.toSeq === f2.y.toSeq)
    assert(out(3).y.toSeq === out(2).y.toSeq)
    assert(out(1).y.toSeq !== out(0).y.toSeq)
  }
}
