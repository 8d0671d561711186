package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Inter

/** The windowed motion-compensation kernels (`Inter.Mc`) against the
  * per-pixel kernels they replaced, copied verbatim below as the
  * oracle: every luma quarter-sample fraction and every chroma
  * eighth-sample fraction, on each macroblock of a 96×64 picture
  * (its four corners, its edges and its interior), with MVs from
  * −256 to +256 quarter-pels, so some reference windows lie wholly
  * outside the picture. */
class McParitySpec extends AnyFunSuite {

  // ---- oracle: the per-pixel kernels, verbatim ------------------------

  @inline private def clampI(v: Int, hi: Int): Int =
    if (v < 0) 0 else if (v > hi) hi else v
  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  private def mcLuma(ref: Array[Byte], w: Int, h: Int, mx: Int,
      my: Int, mvx: Int, mvy: Int, out: Array[Int]): Unit = {
    val dx = mvx >> 2; val dy = mvy >> 2 // floor of the integer part
    val xF = mvx & 3; val yF = mvy & 3
    @inline def L(xx: Int, yy: Int): Int =
      ref(clampI(yy, h - 1) * w + clampI(xx, w - 1)) & 0xff
    @inline def hsum(xx: Int, yy: Int): Int =
      L(xx - 2, yy) - 5 * L(xx - 1, yy) + 20 * L(xx, yy) +
        20 * L(xx + 1, yy) - 5 * L(xx + 2, yy) + L(xx + 3, yy)
    @inline def vsum(xx: Int, yy: Int): Int =
      L(xx, yy - 2) - 5 * L(xx, yy - 1) + 20 * L(xx, yy) +
        20 * L(xx, yy + 1) - 5 * L(xx, yy + 2) + L(xx, yy + 3)
    @inline def halfH(xx: Int, yy: Int): Int =
      clip255((hsum(xx, yy) + 16) >> 5)
    @inline def halfV(xx: Int, yy: Int): Int =
      clip255((vsum(xx, yy) + 16) >> 5)
    @inline def centerJ(xx: Int, yy: Int): Int = {
      val j1 = hsum(xx, yy - 2) - 5 * hsum(xx, yy - 1) +
        20 * hsum(xx, yy) + 20 * hsum(xx, yy + 1) -
        5 * hsum(xx, yy + 2) + hsum(xx, yy + 3)
      clip255((j1 + 512) >> 10)
    }
    @inline def avg(a: Int, b: Int): Int = (a + b + 1) >> 1
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val xx = mx + x + dx; val yy = my + y + dy
        val v = (xF, yF) match {
          case (0, 0) => L(xx, yy)
          case (2, 0) => halfH(xx, yy)
          case (0, 2) => halfV(xx, yy)
          case (2, 2) => centerJ(xx, yy)
          case (1, 0) => avg(L(xx, yy), halfH(xx, yy))
          case (3, 0) => avg(halfH(xx, yy), L(xx + 1, yy))
          case (0, 1) => avg(L(xx, yy), halfV(xx, yy))
          case (0, 3) => avg(halfV(xx, yy), L(xx, yy + 1))
          case (2, 1) => avg(halfH(xx, yy), centerJ(xx, yy))
          case (2, 3) => avg(centerJ(xx, yy), halfH(xx, yy + 1))
          case (1, 2) => avg(halfV(xx, yy), centerJ(xx, yy))
          case (3, 2) => avg(centerJ(xx, yy), halfV(xx + 1, yy))
          case (1, 1) => avg(halfH(xx, yy), halfV(xx, yy))
          case (3, 1) => avg(halfH(xx, yy), halfV(xx + 1, yy))
          case (1, 3) => avg(halfH(xx, yy + 1), halfV(xx, yy))
          case (3, 3) => avg(halfH(xx, yy + 1), halfV(xx + 1, yy))
          case _ => throw new IllegalStateException("unreachable")
        }
        out((my + y) * w + mx + x) = v
        x += 1
      }
      y += 1
    }
  }

  private def mcChroma(ref: Array[Byte], cw: Int, ch: Int, cx: Int,
      cy: Int, mvx: Int, mvy: Int, out: Array[Int]): Unit = {
    val bx = mvx >> 3; val by = mvy >> 3 // floor shifts (Java >>)
    val xF = mvx & 7; val yF = mvy & 7
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val x0 = clampI(cx + x + bx, cw - 1)
        val x1 = clampI(cx + x + bx + 1, cw - 1)
        val y0 = clampI(cy + y + by, ch - 1)
        val y1 = clampI(cy + y + by + 1, ch - 1)
        val a = ref(y0 * cw + x0) & 0xff
        val b = ref(y0 * cw + x1) & 0xff
        val c = ref(y1 * cw + x0) & 0xff
        val d = ref(y1 * cw + x1) & 0xff
        out((cy + y) * cw + cx + x) =
          ((8 - xF) * (8 - yF) * a + xF * (8 - yF) * b +
            (8 - xF) * yF * c + xF * yF * d + 32) >> 6
        x += 1
      }
      y += 1
    }
  }

  // ---- fixtures ---------------------------------------------------------

  private val (w, h) = (96, 64)
  private val (cw, ch) = (w / 2, h / 2)
  private val mbs = for (mby <- 0 until h / 16; mbx <- 0 until w / 16)
    yield (mbx, mby)
  private val rng = new java.util.Random(20261019L)
  // full-range noise, so the 6-tap clips at both ends somewhere
  private val lumaRef = Array.fill(w * h)(rng.nextInt(256).toByte)
  private val chromaRef = Array.fill(cw * ch)(rng.nextInt(256).toByte)

  private val (lumaWant, lumaGot) = (new Array[Int](w * h), new Array[Int](w * h))
  private val (chromaWant, chromaGot) =
    (new Array[Int](cw * ch), new Array[Int](cw * ch))

  /** The first sample of the n×n block at (x0, y0) where the two
    * outputs differ, as a message. */
  private def firstDiff(want: Array[Int], got: Array[Int], stride: Int,
      x0: Int, y0: Int, n: Int, what: String): Option[String] = {
    var k = 0
    while (k < n * n) {
      val p = (y0 + k / n) * stride + x0 + k % n
      if (want(p) != got(p))
        return Some(s"$what sample (${x0 + k % n},${y0 + k / n}): " +
          s"${got(p)} != ${want(p)}")
      k += 1
    }
    None
  }

  private def lumaDiff(mc: Inter.Mc, mbx: Int, mby: Int, mvx: Int,
      mvy: Int): Option[String] = {
    mcLuma(lumaRef, w, h, mbx * 16, mby * 16, mvx, mvy, lumaWant)
    mc.luma(lumaRef, w, h, mbx * 16, mby * 16, mvx, mvy, lumaGot)
    firstDiff(lumaWant, lumaGot, w, mbx * 16, mby * 16, 16,
      s"luma mv ($mvx,$mvy)")
  }

  private def chromaDiff(mc: Inter.Mc, mbx: Int, mby: Int, mvx: Int,
      mvy: Int): Option[String] = {
    mcChroma(chromaRef, cw, ch, mbx * 8, mby * 8, mvx, mvy, chromaWant)
    mc.chroma(chromaRef, cw, ch, mbx * 8, mby * 8, mvx, mvy, chromaGot)
    firstDiff(chromaWant, chromaGot, cw, mbx * 8, mby * 8, 8,
      s"chroma mv ($mvx,$mvy)")
  }

  private def sweep(cases: Iterator[Option[String]]): Unit = {
    var n = 0; var bad = 0; var first: Option[String] = None
    cases.foreach { d =>
      n += 1
      if (d.isDefined) { bad += 1; if (first.isEmpty) first = d }
    }
    assert(n > 0)
    assert(bad === 0, s"$bad of $n blocks differ; first: ${first.getOrElse("")}")
  }

  test("luma: all 16 quarter-sample fractions on every MB, " +
      "integer offsets −64..+64") {
    // a shift of ±64 samples puts a 16×16 block's window wholly
    // outside the 96×64 picture from every corner MB
    val ints = Seq(-64, -40, -17, -6, -3, -2, -1, 0, 1, 2, 3, 6, 17, 40, 63)
    val mc = new Inter.Mc
    sweep(for {
      (mbx, mby) <- mbs.iterator
      xF <- (0 until 4).iterator; yF <- 0 until 4
      ix <- ints; iy <- ints
    } yield lumaDiff(mc, mbx, mby, ix * 4 + xF, iy * 4 + yF))
  }

  test("chroma: all 64 eighth-sample fractions on every MB, " +
      "integer offsets −32..+32") {
    val ints = Seq(-32, -20, -9, -2, -1, 0, 1, 2, 9, 20, 31)
    val mc = new Inter.Mc
    sweep(for {
      (mbx, mby) <- mbs.iterator
      xF <- (0 until 8).iterator; yF <- 0 until 8
      ix <- ints; iy <- ints
    } yield chromaDiff(mc, mbx, mby, ix * 8 + xF, iy * 8 + yF))
  }

  test("random MVs in −256..+256 quarter-pels, both ends included") {
    val r = new java.util.Random(7L)
    def mv(): Int = r.nextInt(513) - 256
    val mc = new Inter.Mc
    val ends = for {
      (mbx, mby) <- mbs.iterator
      mvx <- Seq(-256, 256); mvy <- Seq(-256, 256)
    } yield (mbx, mby, mvx, mvy)
    val random = Iterator.fill(4000) {
      val (mbx, mby) = mbs(r.nextInt(mbs.size)); (mbx, mby, mv(), mv())
    }
    sweep((ends ++ random).flatMap { case (mbx, mby, mvx, mvy) =>
      Iterator(lumaDiff(mc, mbx, mby, mvx, mvy),
        chromaDiff(mc, mbx, mby, mvx, mvy))
    })
  }
}
