package graft.queries

import graft.operators.{Codecs, Inter}
import Codecs.Mp4.{ChromaRes, I16Mb, zigzag4x4}

/** The synthetic clips the media queries (m2–m44) build per document,
  * and the one decode digest of the H.264 rungs. Each clip is pure
  * arithmetic on `doc_id`, so every query's oracle SQL restates it in
  * closed form; a query builds its clip, runs its own decode and
  * checks, and reduces the decoded samples.
  *
  *  - `gifClip`: an animated GIF of `nf` frames, (6 + id % 9) ×
  *    (6 + id % 5) pixels, pixel i of frame f holding palette index
  *    (7·id + 31·f + 13·i) mod 256 under the one palette below.
  *  - `pngImage`: one RGB PNG still, (8 + id % 13) × (8 + id % 7)
  *    pixels, byte i of the interleaved RGB raster = (7·id + 13·i)
  *    mod 256.
  *  - `pcmRamp`: `n` mono 16-bit samples, sample i =
  *    (31·id + 97·i) mod 65536 − 32768.
  *  - `i16Coeffs`: the I_16x16 luma coefficients of m35's and m40's
  *    16×16 IDR frames (below).
  *  - `pGopDigest`: the inter clip of m41–m43 — a two-macroblock IDR
  *    and P frames whose macroblocks the rung chooses — muxed and
  *    decoded through `gopDigest` (below).
  *  - `gopDigest`: decodes an H.264 MP4 and folds its planes (below).
  */
private[queries] object SyntheticMedia {

  /** The GIF palette: index v → (v, 37·v mod 256, 91·v mod 256). */
  val palR: Array[Byte] = Array.tabulate(256)(v => v.toByte)
  val palG: Array[Byte] = Array.tabulate(256)(v => ((v * 37) % 256).toByte)
  val palB: Array[Byte] = Array.tabulate(256)(v => ((v * 91) % 256).toByte)

  /** (width, height, GIF bytes) of doc `id`'s `nf`-frame clip. */
  def gifClip(id: Long, nf: Int): (Int, Int, Array[Byte]) = {
    val w = (6 + id % 9).toInt; val h = (6 + id % 5).toInt
    val frames = (0 until nf).map { f =>
      Array.tabulate(w * h)(i => ((id * 7 + f * 31 + i * 13) % 256).toByte)
    }
    (w, h, Codecs.ImageIoCodecs.GifCodec.encodeIndexedFrames(
      w, h, palR, palG, palB, frames))
  }

  /** (width, height, PNG bytes) of doc `id`'s still. */
  def pngImage(id: Long): (Int, Int, Array[Byte]) = {
    val w = (8 + id % 13).toInt; val h = (8 + id % 7).toInt
    val rgb = Array.tabulate(w * h * 3)(i => ((id * 7 + i * 13) % 256).toByte)
    (w, h, Codecs.ImageIoCodecs.encodeRgb("png", w, h, rgb))
  }

  /** Doc `id`'s `n`-sample PCM ramp. */
  def pcmRamp(id: Long, n: Int): Array[Short] =
    Array.tabulate(n)(i => (((id * 31 + i.toLong * 97) % 65536) - 32768).toShort)

  /** ±1 by parity: the coefficient-sign rule of the H.264 rungs. */
  def sgn(x: Long): Int = if (x % 2 == 0) 1 else -1

  /** Frame `f` of doc `id`'s m35/m40 clip: the (16 DC levels,
    * 16 AC blocks of 15 levels, null = all-zero) of one I_16x16
    * macroblock. The DC is a lone level ±(1 + (id + 3f) mod 7) at
    * zig-zag position (13·id + 11·f) mod 16. The AC class is
    * kind = (31·id + 7·f) mod 3: 0 has none; 1 has one strided block
    * (block (7·id + f) mod 16, stride 1 + (id + f) mod 3,
    * 1 + (3·id + f) mod 4 levels); 2 has four dense blocks 0, 1, 4, 5
    * (stride 1 + (id + f + b) mod 2, 3 + (id + f + 2b) mod 7 levels,
    * at most 7 at stride 2). Level k of block b is
    * ±(1 + (id + f + 3b + 5k) mod 9), signed by the parity of
    * id + f + b + k. */
  def i16Coeffs(id: Long, f: Int): (Array[Int], Array[Array[Int]]) = {
    val kind = ((id * 31 + f * 7) % 3).toInt
    val z = ((id * 13 + f * 11) % 16).toInt
    val dc = new Array[Int](16)
    dc(zigzag4x4(z)) = sgn(id + f) * (1 + ((id + f * 3) % 7)).toInt
    def lvl(b: Int, k: Int): Int =
      sgn(id + f + b + k) * (1 + ((id + f + b * 3 + k * 5) % 9)).toInt
    val ac = Array.fill(16)(null: Array[Int])
    if (kind == 1) {
      val ba = ((id * 7 + f) % 16).toInt
      val s = 1 + ((id + f) % 3).toInt
      val p = 1 + ((id * 3 + f) % 4).toInt
      val a = new Array[Int](15)
      for (k <- 1 to p) a(k * s - 1) = lvl(0, k)
      ac(ba) = a
    } else if (kind == 2) {
      for (b <- Seq(0, 1, 4, 5)) {
        val s = 1 + ((id + f + b) % 2).toInt
        val p0 = 3 + ((id + f + 2 * b) % 7).toInt
        val p = if (s == 2) math.min(p0, 7) else p0
        val a = new Array[Int](15)
        for (k <- 1 to p) a(k * s - 1) = lvl(b, k)
        ac(b) = a
      }
    }
    (dc, ac)
  }

  private val lumaMags = Array(1, 2, 4, 5, 6, 7, 8, 12, 16, 18, 20)
  private val chromaMags = Array(1, 2, 3, 4, 5, 6, 8, 10)

  /** Doc `id`'s inter clip (m41–m43), decoded by `gopDigest` with
    * chroma hashed: n = 2 + id mod 3 frames of 32×16. Frame 0 is an
    * IDR of two I_16x16 macroblocks with lone DC levels
    * c0 = ±(1 + id mod 5) and c1 = ±lumaMags(7·id mod 11), MB1 also
    * carrying chroma DC levels cbc = ±chromaMags(2·id mod 8) and
    * crc = ±chromaMags(3·id mod 8) (signs by the parity of id, 3·id,
    * id and id + 1). P frame f is all-skip when (id + f) mod 4 = 0,
    * else its two macroblocks are `moved(f)`. Returns
    * (n, y_sum, cb_sum, cr_sum, pix_fp). */
  def pGopDigest(id: Long)(
      moved: Int => Seq[Inter.PMb]): (Int, Long, Long, Long, Long) = {
    val n = (2 + id % 3).toInt
    val noAc = Array.fill(16)(null: Array[Int])
    def lone(len: Int, v: Int): Array[Int] = {
      val a = new Array[Int](len); a(0) = v; a
    }
    val iNal = Codecs.Mp4.buildMixedIntraSlice(Seq(
      I16Mb(lone(16, sgn(id) * (1 + (id % 5)).toInt), noAc),
      I16Mb(lone(16, sgn(id * 3) * lumaMags((id * 7 % 11).toInt)), noAc, 2,
        ChromaRes(lone(4, sgn(id) * chromaMags((id * 2 % 8).toInt)), null,
          lone(4, sgn(id + 1) * chromaMags((id * 3 % 8).toInt)), null))),
      2, 1, frameNum = 0, frameNumBits = 4)
    val pNals = (1 until n).map { f =>
      val mbs =
        if ((id + f) % 4 == 0) Seq(Inter.PSkip, Inter.PSkip) else moved(f)
      Inter.buildPSlice(mbs, 2, 1, frameNum = f, frameNumBits = 4)
    }
    val mp4 = Codecs.Mp4.mux(
      Seq(Seq(iNal)) ++ pNals.map(Seq(_)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val (ys, cbs, crs, fp) = gopDigest(mp4, n, 32, 16, fpChroma = true)
    (n, ys, cbs, crs, fp)
  }

  /** Decode `mp4` with the engine's one H.264 decoder and return
    * (y_sum, cb_sum, cr_sum, pix_fp) over every decoded frame.
    * `pix_fp` is the rolling hash fp = (fp·31 + v) mod 1e9+7 over the
    * unsigned samples in decode order: each frame's luma raster, then
    * — only when `fpChroma` — its Cb and its Cr raster. Requires
    * every frame to be `w`×`h` and exactly `n` frames. The decoder's
    * iterator is lazy, and the fold stays in that one pass so only
    * one decoded frame is ever in flight. */
  def gopDigest(mp4: Array[Byte], n: Int, w: Int, h: Int,
      fpChroma: Boolean): (Long, Long, Long, Long) = {
    var ys = 0L; var cbs = 0L; var crs = 0L; var fp = 0L
    var nDec = 0
    def fold(p: Array[Byte], hashed: Boolean): Long = {
      var s = 0L; var i = 0
      while (i < p.length) {
        val v = p(i) & 0xffL
        s += v
        if (hashed) fp = (fp * 31 + v) % 1000000007L
        i += 1
      }
      s
    }
    Inter.decodeGopFrames(mp4).foreach { fr =>
      nDec += 1
      require(fr.width == w && fr.height == h,
        s"decoded dims ${fr.width}x${fr.height} != ${w}x$h")
      ys += fold(fr.y, hashed = true)
      cbs += fold(fr.cb, fpChroma)
      crs += fold(fr.cr, fpChroma)
    }
    require(nDec == n, s"decoded $nDec of $n frames")
    (ys, cbs, crs, fp)
  }
}
