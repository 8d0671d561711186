package graft.queries

import graft.operators.{Codecs, Inter}

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
