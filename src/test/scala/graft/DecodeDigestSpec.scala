package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Codecs, Inter}
import graft.operators.Codecs.Mp4

/** The decode leg's output pinned bit for bit: every plane of a
  * bench-shaped H.264 clip (an I_PCM IDR picture, then CAVLC P slices
  * of quarter-pel moves, skips and a few residual-coded macroblocks),
  * and the plane-direct YUV→RGB kernel against the packed double
  * formula it replaced on every (Y, Cb, Cr) byte triple. */
class DecodeDigestSpec extends AnyFunSuite {

  private val (w, h, frames) = (96, 64, 12)
  private val frameNumBits = 6

  /** Seeded like the benchmark's clips: each P picture pans by one
    * quarter-pel MV with per-MB jitter; frames 5–7 pan by up to ±24
    * samples, so edge MBs read windows outside the picture. */
  private def clip(): Array[Byte] = {
    val rng = new java.util.Random(96064L)
    val mbW = w / 16; val mbH = h / 16
    val idr = Mp4.buildIdrPcmSlice(Mp4.PcmFrame(w, h,
      Array.tabulate(w * h)(i => ((i % w) * 2 + (i / w) * 3 +
        rng.nextInt(24)).toByte),
      Array.tabulate(w * h / 4)(i => (96 + (i % (w / 2)) + rng.nextInt(8)).toByte),
      Array.tabulate(w * h / 4)(i => (160 - (i / (w / 2)) + rng.nextInt(8)).toByte)),
      frameNum = 0, frameNumBits = frameNumBits)
    val ps = (1 until frames).map { f =>
      val scale = if (f >= 5 && f <= 7) 12 else 1
      val mvx = (rng.nextInt(17) - 8) * scale
      val mvy = (rng.nextInt(17) - 8) * scale
      val mbs = Seq.fill(mbW * mbH) {
        val jx = mvx + rng.nextInt(3) - 1; val jy = mvy + rng.nextInt(3) - 1
        rng.nextInt(8) match {
          case 0 => Inter.PSkip
          case 1 =>
            // one coded 4×4 block: a non-zero DC-position level and
            // one small AC level
            val cf = Array.fill[Array[Int]](16)(null)
            val dc = (1 + rng.nextInt(4)) * (if (rng.nextBoolean()) 1 else -1)
            cf(rng.nextInt(16)) = Array(dc, rng.nextInt(3) - 1) ++ new Array[Int](14)
            Inter.PMoveRes(jx, jy, cf)
          case _ => Inter.PMove(jx, jy)
        }
      }
      Inter.buildPSlice(mbs, mbW, mbH, frameNum = f,
        frameNumBits = frameNumBits)
    }
    Mp4.mux((idr +: ps).map(Seq(_)), keyframes = Seq(1), timescale = 90000,
      sampleDelta = 3000, width = w, height = h,
      spsLog2MaxFrameNumMinus4 = frameNumBits - 4)
  }

  test("a bench-shaped 96×64 clip decodes to the pinned plane digest") {
    // FNV-1a over every Y, Cb and Cr byte of every picture in decode
    // order; taken from the per-pixel MC kernels
    var digest = 0xcbf29ce484222325L
    var n = 0
    Inter.decodeGopFrames(clip()).foreach { f =>
      assert(f.width === w && f.height === h)
      Seq(f.y, f.cb, f.cr).foreach(_.foreach { b =>
        digest = (digest ^ (b & 0xff)) * 0x100000001b3L
      })
      n += 1
    }
    assert(n === frames)
    assert(digest === -4564186443971192266L)
  }

  /** The packed double formula the table-driven kernel replaced. */
  private def clamp(v: Double): Byte =
    math.max(0, math.min(255, math.round(v))).toByte
  private def packedRgb(d: Array[Byte], base: Int, w: Int,
      ht: Int): Array[Byte] = {
    val uBase = base + w * ht
    val vBase = uBase + w * ht / 4
    val out = new Array[Byte](w * ht * 3)
    var y = 0
    while (y < ht) {
      var x = 0
      while (x < w) {
        val yy = (d(base + y * w + x) & 0xff).toDouble
        val ci = (y / 2) * (w / 2) + (x / 2)
        val cb = (d(uBase + ci) & 0xff) - 128.0
        val cr = (d(vBase + ci) & 0xff) - 128.0
        val t = (y * w + x) * 3
        out(t) = clamp(yy + 1.402 * cr)
        out(t + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
        out(t + 2) = clamp(yy + 1.772 * cb)
        x += 1
      }
      y += 1
    }
    out
  }

  test("plane-direct YUV→RGB equals the packed double formula on " +
      "every (Y, Cb, Cr) byte triple") {
    // 64 pictures of 512×512: chroma sample (bx, by) is (Cb, Cr) =
    // (bx, by), and its 2×2 luma block carries Y = 4f .. 4f + 3, so
    // the 64 pictures hold each of the 2^24 triples exactly once
    val s = 512; val cs = s / 2
    val cb = Array.tabulate(cs * cs)(i => (i % cs).toByte)
    val cr = Array.tabulate(cs * cs)(i => (i / cs).toByte)
    val seen = new java.util.BitSet(1 << 24)
    val pad = 5 // the packed form at a non-zero base
    (0 until 64).foreach { f =>
      val y = Array.tabulate(s * s) { i =>
        (4 * f + (i / s % 2) * 2 + i % 2).toByte
      }
      var i = 0
      while (i < s * s) {
        val ci = (i / s / 2) * cs + (i % s) / 2
        seen.set(((y(i) & 0xff) << 16) | ((cb(ci) & 0xff) << 8) | (cr(ci) & 0xff))
        i += 1
      }
      val packed = new Array[Byte](pad) ++ y ++ cb ++ cr
      val want = packedRgb(packed, pad, s, s)
      val direct = Codecs.Y4mCodec.yuv420ToRgb(y, 0, cb, 0, cr, 0, s, s)
      assert(java.util.Arrays.equals(direct, want), s"picture $f (plane-direct)")
      assert(java.util.Arrays.equals(
        Codecs.Y4mCodec.yuv420ToRgb(packed, pad, s, s), want),
        s"picture $f (packed)")
    }
    assert(seen.cardinality() === (1 << 24))
  }
}
