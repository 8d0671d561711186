package graft.operators

import Codecs.Mp4
import Codecs.Mp4.{BitReader, BitWriter, PcmFrame, PpsInfo, SpsInfo}

/** ITU-T H.264 INTER prediction — the first P-slice rung (m41).
  * Virtually all real video bits are inter-coded (reference anchor:
  * `/root/reference/run.sh:53` decodebin), and "inter frames" was
  * the largest remaining envelope refusal after round 14's CABAC.
  *
  * What ships:
  *  - P slice header (§7.3.3 for nal_unit_type 1: no IDR fields,
  *    num_ref_idx override + list-modification flags, non-IDR
  *    dec_ref_pic_marking, deblock control) and P slice data
  *    (§7.3.4: mb_skip_run interleaving);
  *  - macroblock types P_Skip and P_L0_16x16 (mvd_l0 coding,
  *    Table 9-4 INTER coded_block_pattern for cbp 0);
  *  - the full §8.4.1.3 luma MV prediction: median of neighbours
  *    A/B/C (D substituting an unavailable C), the
  *    exactly-one-matching-refIdx shortcut, the B+C-unavailable →
  *    mvA rule, intra/unavailable neighbours as (0,0)/refIdx −1;
  *  - the §8.4.1.1 P_Skip MV derivation (zero MV when A or B is
  *    unavailable or either is a zero-MV refIdx-0 neighbour);
  *  - motion compensation at FULL QUARTER-SAMPLE accuracy: the
  *    §8.4.2.2.1 6-tap (1,−5,20,20,−5,1) half-sample filter with
  *    the centre position from unrounded intermediates, the Table
  *    8-12 quarter-sample averages, the §8.4.2.2 picture-boundary
  *    clamp (m42 — m41 shipped full-pel only), and the EXACT
  *    §8.4.2.2.2 chroma eighth-sample bilinear
  *    ((8−xF)(8−yF)A + xF(8−yF)B + (8−xF)yF·C + xF·yF·D + 32) ≫ 6;
  *  - a one-reference decoded-picture buffer: IDR intra frame
  *    (decoded by the round-13/14 intra machinery) followed by P
  *    frames each referencing the previous output — the sliding
  *    window that max_num_ref_frames = 1 implies.
  *
  * Refusals (loud, named): residual-coded inter macroblocks
  * (cbp ≠ 0), partitions other than 16×16, multiple reference
  * indices, deblocked P slices (inter bS derivation), B slices. */
object Inter {

  /** One inter macroblock for the builder: a skip, a residual-free
    * P_L0_16x16 with the given quarter-pel MV, or (m43) a
    * RESIDUAL-CODED P_L0_16x16 — `coeffs` is 16 raster-indexed
    * LumaLevel4x4 blocks of 16 scan coefficients (null = all-zero;
    * CodedBlockPatternLuma is 15, chroma 0). */
  sealed trait PMb
  case object PSkip extends PMb
  final case class PMove(mvxQpel: Int, mvyQpel: Int) extends PMb
  final case class PMoveRes(mvxQpel: Int, mvyQpel: Int,
      coeffs: Array[Array[Int]]) extends PMb

  // ---- §8.4.1.3 MV prediction ----------------------------------------

  /** Neighbour record: (available, refIdx, mvx, mvy). Intra or
    * out-of-picture neighbours carry refIdx −1 and zero MV. */
  private final case class Nb(avail: Boolean, ref: Int, mvx: Int,
      mvy: Int)
  private val NbNone = Nb(avail = false, -1, 0, 0)

  private def median3(a: Int, b: Int, c: Int): Int =
    math.max(math.min(a, b), math.min(c, math.max(a, b)))

  /** Median MV predictor for a 16×16 partition at MB (mbx, mby),
    * given this frame's per-MB (refIdx, mv) state decoded so far. */
  private def mvPred(mbx: Int, mby: Int, mbW: Int,
      st: Array[Nb]): (Int, Int) = {
    def at(x: Int, y: Int): Nb =
      if (x < 0 || y < 0 || x >= mbW) NbNone
      else {
        val n = st(y * mbW + x)
        if (n == null) NbNone else n
      }
    val a = at(mbx - 1, mby)
    val b = at(mbx, mby - 1)
    val cRaw = at(mbx + 1, mby - 1)
    // §8.4.1.3.2: an unavailable C is substituted by D (above-left)
    val c = if (cRaw.avail) cRaw else at(mbx - 1, mby - 1)
    // B, C unavailable (and D): the predictor is mvA outright
    if (!b.avail && !c.avail && a.avail) return (a.mvx, a.mvy)
    // exactly one neighbour with the current refIdx (always 0 here)
    val matches = Seq(a, b, c).filter(n => n.avail && n.ref == 0)
    if (matches.size == 1) return (matches.head.mvx, matches.head.mvy)
    (median3(a.mvx, b.mvx, c.mvx), median3(a.mvy, b.mvy, c.mvy))
  }

  /** §8.4.1.1 P_Skip MV: zero when A or B is unavailable or either
    * is a zero-MV refIdx-0 neighbour; the median predictor
    * otherwise. */
  private def skipMv(mbx: Int, mby: Int, mbW: Int,
      st: Array[Nb]): (Int, Int) = {
    def at(x: Int, y: Int): Nb =
      if (x < 0 || y < 0 || x >= mbW) NbNone
      else { val n = st(y * mbW + x); if (n == null) NbNone else n }
    val a = at(mbx - 1, mby)
    val b = at(mbx, mby - 1)
    val zeroish = (n: Nb) => n.ref == 0 && n.mvx == 0 && n.mvy == 0
    if (!a.avail || !b.avail || zeroish(a) || zeroish(b)) (0, 0)
    else mvPred(mbx, mby, mbW, st)
  }

  // ---- motion compensation --------------------------------------------

  @inline private def clampI(v: Int, hi: Int): Int =
    if (v < 0) 0 else if (v > hi) hi else v
  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Copy the n×n reference block whose top-left sample is (x0, y0)
    * into `dst` (row stride n), each coordinate clamped to the
    * picture per §8.4.2.2 — the one clamp a block's MC needs. */
  private def gather(ref: Array[Byte], w: Int, h: Int, x0: Int, y0: Int,
      n: Int, dst: Array[Int]): Unit = {
    // most windows lie inside the picture's columns: copy those
    // rows without the per-sample column clamp
    val inside = x0 >= 0 && x0 + n <= w
    var r = 0
    while (r < n) {
      val row = clampI(y0 + r, h - 1) * w
      var c = 0
      if (inside) while (c < n) { dst(r * n + c) = ref(row + x0 + c) & 0xff; c += 1 }
      else while (c < n) {
        dst(r * n + c) = ref(row + clampI(x0 + c, w - 1)) & 0xff; c += 1
      }
      r += 1
    }
  }

  /** The motion-compensation kernels plus their scratch windows: one
    * instance per P slice, reused by every macroblock of it. */
  private[graft] final class Mc {
    private val win = new Array[Int](21 * 21) // luma window, stride 21
    private val hs = new Array[Int](21 * 16)  // unrounded row 6-tap sums
    private val cwin = new Array[Int](9 * 9)  // chroma window, stride 9

    /** QUARTER-sample luma MC for one MB (§8.4.2.2.1, the m42 rung):
      * half-sample positions through the 6-tap (1,−5,20,20,−5,1)
      * filter — the centre position j from UNROUNDED horizontal
      * intermediates, (j1+512)≫10 — and quarter positions as the
      * rounded averages of Table 8-12 (a/c/d/n against integer
      * samples, e/g/p/r against the two flanking halves, f/i/k/q
      * against j). The 21×21 window the 6-tap reaches is gathered
      * once, clamped to the picture per §8.4.2.2; the row sums are
      * filtered only when the fraction needs b or j. `mvx`/`mvy` are
      * quarter-pel. */
    def luma(ref: Array[Byte], w: Int, h: Int, mx: Int, my: Int,
        mvx: Int, mvy: Int, out: Array[Int]): Unit = {
      val xF = mvx & 3; val yF = mvy & 3
      // window (0, 0) is the sample two left of and two above the
      // MB's integer-displaced top-left, so pixel (x, y)'s integer
      // sample G sits at window (x + 2, y + 2)
      gather(ref, w, h, mx + (mvx >> 2) - 2, my + (mvy >> 2) - 2, 21, win)
      if (xF != 0) {
        var r = 0
        while (r < 21) {
          var x = 0
          while (x < 16) {
            val p = r * 21 + x
            hs(r * 16 + x) = win(p) - 5 * win(p + 1) + 20 * win(p + 2) +
              20 * win(p + 3) - 5 * win(p + 4) + win(p + 5)
            x += 1
          }
          r += 1
        }
      }
      @inline def g(x: Int, y: Int): Int = win((y + 2) * 21 + x + 2)
      // b: horizontal half at window row r
      @inline def b(x: Int, r: Int): Int = clip255((hs(r * 16 + x) + 16) >> 5)
      // h: vertical half at window column x + 2
      @inline def hv(x: Int, y: Int): Int = {
        val p = y * 21 + x + 2
        clip255((win(p) - 5 * win(p + 21) + 20 * win(p + 42) +
          20 * win(p + 63) - 5 * win(p + 84) + win(p + 105) + 16) >> 5)
      }
      @inline def j(x: Int, y: Int): Int = {
        val p = y * 16 + x
        clip255((hs(p) - 5 * hs(p + 16) + 20 * hs(p + 32) +
          20 * hs(p + 48) - 5 * hs(p + 64) + hs(p + 80) + 512) >> 10)
      }
      @inline def avg(a: Int, c: Int): Int = (a + c + 1) >> 1
      // 4·yFrac + xFrac runs through Table 8-12's sample names in
      // order: G a b c, d e f g, h i j k, n p q r
      val frac = yF * 4 + xF
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val v = frac match {
            case 0 => g(x, y)
            case 1 => avg(g(x, y), b(x, y + 2))
            case 2 => b(x, y + 2)
            case 3 => avg(b(x, y + 2), g(x + 1, y))
            case 4 => avg(g(x, y), hv(x, y))
            case 5 => avg(b(x, y + 2), hv(x, y))
            case 6 => avg(b(x, y + 2), j(x, y))
            case 7 => avg(b(x, y + 2), hv(x + 1, y))
            case 8 => hv(x, y)
            case 9 => avg(hv(x, y), j(x, y))
            case 10 => j(x, y)
            case 11 => avg(j(x, y), hv(x + 1, y))
            case 12 => avg(hv(x, y), g(x, y + 1))
            case 13 => avg(b(x, y + 3), hv(x, y))
            case 14 => avg(j(x, y), b(x, y + 3))
            case 15 => avg(b(x, y + 3), hv(x + 1, y))
          }
          out((my + y) * w + mx + x) = v
          x += 1
        }
        y += 1
      }
    }

    /** §8.4.2.2.2 chroma eighth-sample bilinear MC for one MB's 8×8
      * chroma block over its clamped 9×9 window. `mvx`/`mvy` are the
      * LUMA quarter-pel MV. */
    def chroma(ref: Array[Byte], cw: Int, ch: Int, cx: Int, cy: Int,
        mvx: Int, mvy: Int, out: Array[Int]): Unit = {
      val xF = mvx & 7; val yF = mvy & 7
      gather(ref, cw, ch, cx + (mvx >> 3), cy + (mvy >> 3), 9, cwin)
      val wa = (8 - xF) * (8 - yF); val wb = xF * (8 - yF)
      val wc = (8 - xF) * yF; val wd = xF * yF
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val p = y * 9 + x
          out((cy + y) * cw + cx + x) = (wa * cwin(p) + wb * cwin(p + 1) +
            wc * cwin(p + 9) + wd * cwin(p + 10) + 32) >> 6
          x += 1
        }
        y += 1
      }
    }
  }

  // ---- builder ---------------------------------------------------------

  /** Build a CAVLC P slice NAL (nal_unit_type 1, nal_ref_idc 2) of
    * P_Skip / residual-free P_L0_16x16 macroblocks. The encoder runs
    * the same §8.4.1.3 prediction the decoder runs, so `PMove` MVs
    * are absolute and mvd is derived. */
  def buildPSlice(mbs: Seq[PMb], mbW: Int, mbH: Int, frameNum: Int,
      frameNumBits: Int, deblockIdc: Int = 1): Array[Byte] = {
    require(mbs.size == mbW * mbH, "one PMb per macroblock")
    val w = new BitWriter
    w.ue(0L)                 // first_mb_in_slice
    w.ue(5L)                 // slice_type: P (all slices in picture)
    w.ue(0L)                 // pic_parameter_set_id
    w.u(frameNum.toLong, frameNumBits)
    w.u(0L, 1)               // num_ref_idx_active_override_flag
    w.u(0L, 1)               // ref_pic_list_modification_flag_l0
    w.u(0L, 1)               // adaptive_ref_pic_marking_mode_flag
    w.se(0L)                 // slice_qp_delta
    require(deblockIdc >= 0 && deblockIdc <= 2, "idc 0..2")
    w.ue(deblockIdc.toLong)
    if (deblockIdc != 1) { w.se(0L); w.se(0L) }
    val st = new Array[Nb](mbW * mbH)
    // §9.2.1 nC grid (TotalCoeff per 4×4) across the slice's coded
    // residual blocks; skipped / residual-free MBs contribute 0
    val grid = Array.ofDim[Int](mbH * 4, mbW * 4)
    var skipRun = 0
    def writeMove(i: Int, mvx: Int, mvy: Int,
        coeffs: Array[Array[Int]]): Unit = {
      val mbx = i % mbW; val mby = i / mbW
      w.ue(skipRun.toLong); skipRun = 0
      val (px, py) = mvPred(mbx, mby, mbW, st)
      w.ue(0L)                // mb_type: P_L0_16x16
      w.se((mvx - px).toLong) // mvd_l0 x (ref_idx absent: 1 ref)
      w.se((mvy - py).toLong) // mvd_l0 y
      if (coeffs == null)
        w.ue(0L)  // coded_block_pattern: inter codeNum 0 ↦ cbp 0
      else {
        // Table 9-4 INTER column: cbp 15 (full luma, chroma 0) ↦
        // codeNum 11 — the carried inter rows are {0 ↦ 0, 11 ↦ 15}
        w.ue(11L)
        w.se(0L)  // mb_qp_delta
        for (z <- 0 until 16) {
          val (bx, by) = Codecs.Mp4.zToBlockXY(z)
          val gx = mbx * 4 + bx; val gy = mby * 4 + by
          val cf = Option(coeffs(by * 4 + bx)).getOrElse(new Array[Int](16))
          grid(gy)(gx) = Codecs.Mp4.Cavlc.writeBlock(w, cf, 16,
            Codecs.Mp4.nCFrom(grid, gx, gy))
        }
      }
      st(i) = Nb(avail = true, 0, mvx, mvy)
    }
    mbs.zipWithIndex.foreach { case (mb, i) =>
      mb match {
        case PSkip =>
          val (mx, my) = skipMv(i % mbW, i / mbW, mbW, st)
          st(i) = Nb(avail = true, 0, mx, my)
          skipRun += 1
        case PMove(mvx, mvy) => writeMove(i, mvx, mvy, null)
        case PMoveRes(mvx, mvy, cf) =>
          require(cf.length == 16 &&
            cf.forall(a => a == null || a.length == 16),
            "16 residual blocks of 16 scan coefficients")
          require(cf.exists(a => a != null && a.exists(_ != 0)),
            "PMoveRes with all-zero residual: use PMove (cbp 0)")
          writeMove(i, mvx, mvy, cf)
      }
    }
    if (skipRun > 0) w.ue(skipRun.toLong) // trailing skips
    w.trailingBits()
    (0x41.toByte +: Mp4.rbspEscape(w.bytes)).toArray // ref_idc 2, type 1
  }

  // ---- parser ----------------------------------------------------------

  /** Decode a P slice against its reference picture — the inverse of
    * [[buildPSlice]] plus the full prediction/MC semantics. Anything
    * outside the envelope refuses by name. */
  def parsePSlice(nal: Array[Byte], sps: SpsInfo, pps: PpsInfo,
      ref: PcmFrame): PcmFrame = {
    require(nal.nonEmpty && (nal(0) & 0x1f) == 1,
      s"not a non-IDR slice NAL (type ${nal(0) & 0x1f})")
    require(!pps.entropy_coding_mode,
      "CABAC P slices are the next rung — this parser is CAVLC")
    val (w, h) = (sps.mb_width * 16, sps.mb_height * 16)
    require(ref.width == w && ref.height == h, "reference size mismatch")
    val r = new BitReader(Mp4.rbspUnescape(nal.drop(1)))
    require(r.ue() == 0L, "first_mb_in_slice != 0")
    val stype = r.ue()
    require(stype == 0L || stype == 5L,
      s"not a P slice (slice_type $stype) — B slices are out of " +
        "the envelope")
    require(r.ue() == 0L, "pic_parameter_set_id != 0")
    r.u(sps.log2_max_frame_num)  // frame_num
    require(r.u(1) == 0L, "num_ref_idx override is outside the envelope")
    require(r.u(1) == 0L, "ref_pic_list_modification is outside the " +
      "envelope (single short-term reference)")
    require(r.u(1) == 0L, "adaptive ref-pic marking is outside the " +
      "envelope (sliding window)")
    val qp = pps.pic_init_qp + r.se().toInt
    var deblockIdc = 1
    if (pps.deblocking_filter_control_present) {
      deblockIdc = r.ue().toInt
      require(deblockIdc >= 0 && deblockIdc <= 2, "idc 0..2")
      if (deblockIdc != 1) { r.se(); r.se() }
    }
    require(deblockIdc == 1,
      "deblocked P slices are the next rung (inter bS derivation)")
    val mbW = sps.mb_width; val mbH = sps.mb_height
    val cw = w / 2; val chh = h / 2
    val y = new Array[Int](w * h)
    val cb = new Array[Int](cw * chh)
    val cr = new Array[Int](cw * chh)
    val st = new Array[Nb](mbW * mbH)
    val grid = Array.ofDim[Int](mbH * 4, mbW * 4)
    val mc = new Mc
    var i = 0
    def reconstruct(idx: Int, mvx: Int, mvy: Int): Unit = {
      val mbx = idx % mbW; val mby = idx / mbW
      mc.luma(ref.y, w, h, mbx * 16, mby * 16, mvx, mvy, y)
      mc.chroma(ref.cb, cw, chh, mbx * 8, mby * 8, mvx, mvy, cb)
      mc.chroma(ref.cr, cw, chh, mbx * 8, mby * 8, mvx, mvy, cr)
    }
    while (i < mbW * mbH) {
      var run = r.ue().toInt
      require(i + run <= mbW * mbH, s"mb_skip_run $run overruns slice")
      while (run > 0) {
        val (mx, my) = skipMv(i % mbW, i / mbW, mbW, st)
        st(i) = Nb(avail = true, 0, mx, my)
        reconstruct(i, mx, my)
        i += 1; run -= 1
      }
      if (i < mbW * mbH) {
        val t = r.ue()
        require(t == 0L,
          s"macroblock $i mb_type $t — only P_L0_16x16 inter " +
            "macroblocks are inside the envelope (sub-partitions " +
            "and intra-in-P are the next rungs)")
        val mbx = i % mbW; val mby = i / mbW
        val (px, py) = mvPred(mbx, mby, mbW, st)
        val mvx = px + r.se().toInt
        val mvy = py + r.se().toInt
        st(i) = Nb(avail = true, 0, mvx, mvy)
        reconstruct(i, mvx, mvy)
        // coded_block_pattern, Table 9-4 INTER column — carried
        // rows: codeNum 0 ↦ cbp 0, codeNum 11 ↦ cbp 15 (full luma,
        // chroma 0); everything else refuses loudly
        val cbpCode = r.ue()
        if (cbpCode == 11L) {
          val mbQp = qp + r.se().toInt // mb_qp_delta
          for (z <- 0 until 16) {
            val (bx, by) = Codecs.Mp4.zToBlockXY(z)
            val gx = mbx * 4 + bx; val gy = mby * 4 + by
            val (cf, total) = Codecs.Mp4.Cavlc.readBlock(r, 16,
              Codecs.Mp4.nCFrom(grid, gx, gy))
            grid(gy)(gx) = total
            if (cf.exists(_ != 0)) {
              val d = new Array[Int](16)
              var p = 0
              while (p < 16) {
                if (cf(p) != 0) {
                  val rp = Codecs.Mp4.zigzag4x4(p)
                  d(rp) = Codecs.Mp4.dequantAc(cf(p), rp, mbQp)
                }
                p += 1
              }
              val res = Codecs.Mp4.invTransform4x4(d)
              val px0 = mbx * 16 + bx * 4; val py0 = mby * 16 + by * 4
              var k = 0
              while (k < 16) {
                val yy = py0 + k / 4; val xx = px0 + k % 4
                y(yy * w + xx) = clip255(y(yy * w + xx) + res(k))
                k += 1
              }
            }
          }
        } else require(cbpCode == 0L,
          s"coded_block_pattern codeNum $cbpCode outside the carried " +
            "Table 9-4 inter rows (cbp 0 and 15) — partial patterns " +
            "and chroma residuals are the next rung")
        i += 1
      }
    }
    PcmFrame(w, h, Mp4.toBytes(y), Mp4.toBytes(cb), Mp4.toBytes(cr))
  }

  /** Decode a muxed GOP lazily — the engine's one MP4 → pixels
    * entry point: IDR intra frames through `Mp4.parseIntraSlice`
    * (CAVLC) or `Cabac.parseI16x16Slice` (CABAC) per the stream's
    * PPS, P frames motion-compensated against the PREVIOUS decoded
    * picture (the one-reference sliding window max_num_ref_frames
    * = 1 implies). Output in decode order, one picture in flight. */
  def decodeGopFrames(data: Array[Byte]): Iterator[PcmFrame] = {
    val sps = Mp4.spsInfo(data)
    val pps = Mp4.ppsInfo(data)
    var ref: PcmFrame = null
    Mp4.nalPayloadIterator(data).map { nal =>
      val out = (nal(0) & 0x1f) match {
        case 5 =>
          if (pps.entropy_coding_mode) Cabac.parseI16x16Slice(nal, sps, pps)
          else Mp4.parseIntraSlice(nal, sps, pps)
        case 1 =>
          require(!pps.entropy_coding_mode,
            "CABAC P slices are the documented next rung")
          require(ref != null, "P frame before any IDR reference")
          parsePSlice(nal, sps, pps, ref)
        case t => throw new IllegalArgumentException(
          s"NAL type $t inside a GOP — not a coded slice")
      }
      ref = out
      out
    }
  }
}
