package perfbench

import graft.operators.{Codecs, Inter}
import Codecs.Mp4

/** Seeded H.264 MP4 clips built with the engine's own encoders: one
  * I_PCM IDR picture, then CAVLC P slices whose macroblocks pan with a
  * per-frame quarter-pel motion (plus scattered skips), so decoding
  * exercises motion compensation on every P picture. The same
  * (seed, index, geometry) always gives the same bytes. */
object Clips {
  /** 6-bit frame_num: a GOP of up to 64 pictures without wrap. */
  private val Log2MaxFrameNumMinus4 = 2
  private val FrameNumBits = 4 + Log2MaxFrameNumMinus4

  def clip(seed: Long, index: Int, width: Int, height: Int, frames: Int): Array[Byte] = {
    require(frames >= 1 && frames <= (1 << FrameNumBits), s"frames $frames")
    val rng = new java.util.Random(seed * 1000003L + index * 7919L + width)
    val mbW = width / 16; val mbH = height / 16
    val idr = Mp4.buildIdrPcmSlice(picture(rng, width, height), frameNum = 0,
      frameNumBits = FrameNumBits)
    val ps = (1 until frames).map { i =>
      val mvx = rng.nextInt(17) - 8; val mvy = rng.nextInt(17) - 8
      val mbs = Seq.fill(mbW * mbH)(
        if (rng.nextInt(6) == 0) Inter.PSkip
        else Inter.PMove(mvx + rng.nextInt(3) - 1, mvy + rng.nextInt(3) - 1))
      Inter.buildPSlice(mbs, mbW, mbH, frameNum = i, frameNumBits = FrameNumBits)
    }
    Mp4.mux((idr +: ps).map(Seq(_)), keyframes = Seq(1), timescale = 90000,
      sampleDelta = 3000, width = width, height = height,
      spsLog2MaxFrameNumMinus4 = Log2MaxFrameNumMinus4)
  }

  /** A gradient background with a few flat rectangles and light noise. */
  private def picture(rng: java.util.Random, w: Int, h: Int): Mp4.PcmFrame = {
    val y = new Array[Byte](w * h)
    val gx = rng.nextInt(5) - 2; val gy = rng.nextInt(5) - 2
    val base = 60 + rng.nextInt(80)
    val rects = Seq.fill(3 + rng.nextInt(4)) {
      val rw = 16 + rng.nextInt(w / 3); val rh = 16 + rng.nextInt(h / 3)
      (rng.nextInt(w - rw), rng.nextInt(h - rh), rw, rh, 20 + rng.nextInt(216))
    }
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        var v = base + (gx * c) / 8 + (gy * r) / 8 + rng.nextInt(9) - 4
        rects.foreach { case (rx, ry, rw, rh, lv) =>
          if (c >= rx && c < rx + rw && r >= ry && r < ry + rh) v = lv
        }
        y(r * w + c) = math.max(0, math.min(255, v)).toByte
        c += 1
      }
      r += 1
    }
    val cw = w / 2; val ch = h / 2
    val cbBase = 96 + rng.nextInt(64); val crBase = 96 + rng.nextInt(64)
    val cb = Array.tabulate(cw * ch)(i => (cbBase + (i % cw) / 16).toByte)
    val cr = Array.tabulate(cw * ch)(i => (crBase + (i / cw) / 16).toByte)
    Mp4.PcmFrame(w, h, y, cb, cr)
  }
}
