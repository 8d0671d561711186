package graft.operators

import Codecs.Mp4
import Codecs.Mp4.{BitReader, BitWriter, PcmFrame, PpsInfo, SpsInfo}

/** ITU-T H.264 CABAC — context-adaptive binary arithmetic coding
  * (§9.3), the default entropy coder of every main/high-profile
  * encoder and the biggest envelope refusal a real file used to hit
  * (reference anchor: `/root/reference/run.sh:53` decodebin).
  *
  * What ships (the m40 rung):
  *  - the full arithmetic DECODING engine (§9.3.3.2: DecodeDecision
  *    with the 64×4 rangeTabLPS, DecodeBypass, DecodeTerminate,
  *    renormalization) and its ENCODING counterpart (§9.3.4:
  *    EncodeDecision/Bypass/Terminate, PutBit with outstanding-bit
  *    carry resolution, the first-bit discard, EncodeFlush whose
  *    trailing `1` is the rbsp stop bit);
  *  - I-slice context initialization (§9.3.1.1: preCtxState =
  *    Clip3(1,126,((m·QP)≫4)+n) → (pStateIdx, valMPS));
  *  - macroblock decode for the I_16x16 fixture classes: mb_type
  *    binarization (prefix bin, I_PCM terminate bin, cbp/pred-mode
  *    suffix bins), intra_chroma_pred_mode, mb_qp_delta, the
  *    residual block grammar (coded_block_flag with intra neighbour
  *    defaults, significant/last coefficient maps, TU+UEG0
  *    coeff_abs_level_minus1 with the Eq1/Gt1 context schedule,
  *    bypass signs), end_of_slice_flag per macroblock.
  *
  * Verification stance, stated plainly: the ENGINE tables
  * (rangeTabLPS, transIdxLPS) are structurally validated at class
  * init — rangeTabLPS rows follow the spec's α≈0.9492 state
  * recession within rounding and its documented endpoints, the
  * transition tables are monotone with the spec's absorbing states —
  * and the engine is exercised by randomized encode→decode bin-exact
  * round trips over evolving context state (any discrepancy in the
  * renorm/carry logic breaks those immediately). The CONTEXT INIT
  * pairs and ctx-assignment schedule are transcribed from the
  * published spec's I column / reference-decoder mapping; encoder
  * and decoder share them, so the hash gate is self-consistent, but
  * a byte-for-byte cross-check against a third-party CABAC stream
  * needs a conformant encoder this container does not have — that
  * cross-check is the documented seam (DEPLOYMENT.md), exactly the
  * CAVLC Table 9-5 discipline. I_4x4, chroma residuals and inter
  * frames under CABAC refuse loudly as the next rungs. */
object Cabac {

  // ---- §9.3.3.2 state tables ---------------------------------------

  /** Table 9-44 rangeTabLPS: 64 probability states × 4 quantized
    * range indices. */
  private[graft] val rangeTabLPS: Array[Array[Int]] = Array(
    Array(128, 176, 208, 240), Array(128, 167, 197, 227),
    Array(128, 158, 187, 216), Array(123, 150, 178, 205),
    Array(116, 142, 169, 195), Array(111, 135, 160, 185),
    Array(105, 128, 152, 175), Array(100, 122, 144, 166),
    Array(95, 116, 137, 158), Array(90, 110, 130, 150),
    Array(85, 104, 123, 142), Array(81, 99, 117, 135),
    Array(77, 94, 111, 128), Array(73, 89, 105, 122),
    Array(69, 85, 100, 116), Array(66, 80, 95, 110),
    Array(62, 76, 90, 104), Array(59, 72, 86, 99),
    Array(56, 69, 81, 94), Array(53, 65, 77, 89),
    Array(51, 62, 73, 85), Array(48, 59, 69, 80),
    Array(46, 56, 66, 76), Array(43, 53, 63, 72),
    Array(41, 50, 59, 69), Array(39, 48, 56, 65),
    Array(37, 45, 54, 62), Array(35, 43, 51, 59),
    Array(33, 41, 48, 56), Array(32, 39, 46, 53),
    Array(30, 37, 43, 50), Array(28, 35, 41, 48),
    Array(27, 33, 39, 45), Array(26, 31, 37, 43),
    Array(24, 30, 35, 41), Array(23, 28, 33, 39),
    Array(22, 27, 32, 37), Array(21, 26, 30, 35),
    Array(20, 24, 29, 33), Array(19, 23, 27, 31),
    Array(18, 22, 26, 30), Array(17, 21, 25, 28),
    Array(16, 20, 23, 27), Array(15, 19, 22, 25),
    Array(14, 18, 21, 24), Array(14, 17, 20, 23),
    Array(13, 16, 19, 22), Array(12, 15, 18, 21),
    Array(12, 14, 17, 20), Array(11, 14, 16, 19),
    Array(11, 13, 15, 18), Array(10, 12, 15, 17),
    Array(10, 12, 14, 16), Array(9, 11, 13, 15),
    Array(9, 11, 12, 14), Array(8, 10, 12, 14),
    Array(8, 9, 11, 13), Array(7, 9, 11, 12),
    Array(7, 9, 10, 12), Array(7, 8, 10, 11),
    Array(6, 8, 9, 11), Array(6, 7, 9, 10),
    Array(6, 7, 8, 9), Array(2, 2, 2, 2))

  /** Table 9-45 transIdxLPS (transIdxMPS is σ+1 with 62, 63
    * absorbing). */
  private[graft] val transIdxLPS: Array[Int] = Array(
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 23, 24, 24,
    25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33, 33,
    33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 38, 63)

  locally {
    require(rangeTabLPS.length == 64 && rangeTabLPS.forall(_.length == 4))
    require(rangeTabLPS(0).toSeq == Seq(128, 176, 208, 240) &&
      rangeTabLPS(63).toSeq == Seq(2, 2, 2, 2), "Table 9-44 endpoints")
    // the spec's generative model: pσ = 0.5·0.9492^σ, value ≈
    // pσ·(64·q + 288), column 0 clamped at 128 for the lowest
    // states (the LPS interval may not exceed half the range);
    // row 63 is the fixed terminate row checked by endpoint above
    for (s <- 0 until 63; q <- 0 until 4) {
      val want = 0.5 * math.pow(0.9492, s) * (64 * q + 288)
      val v = rangeTabLPS(s)(q)
      require(math.abs(v - want) <= 2.0 || (q == 0 && v == 128 && s <= 2),
        s"rangeTabLPS($s)($q)=$v vs generative $want")
      if (s > 0)
        require(v <= rangeTabLPS(s - 1)(q), s"monotone in σ at ($s,$q)")
    }
    for (s <- 0 until 64; q <- 1 until 4)
      require(rangeTabLPS(s)(q) >= rangeTabLPS(s)(q - 1),
        "monotone in range quantile")
    require(transIdxLPS.length == 64 && transIdxLPS(63) == 63)
    for (s <- 1 until 64)
      require(transIdxLPS(s) >= transIdxLPS(s - 1) &&
        transIdxLPS(s) <= s, "transIdxLPS shape")
  }

  // ---- §9.3.1.1 context initialization (I-slice column) -------------

  /** (m, n) init pairs for the context ranges the intra decode uses,
    * indexed by ctxIdx. Transcribed from the published I-slice
    * column; see the object scaladoc for the verification stance. */
  private val initMN: Map[Int, (Int, Int)] = {
    def seg(start: Int, pairs: (Int, Int)*): Seq[(Int, (Int, Int))] =
      pairs.zipWithIndex.map { case (p, i) => (start + i, p) }
    (seg(3, // mb_type, I slice (ctx 3..10)
      (20, -15), (2, 54), (3, 74), (-28, 127), (-23, 104), (-6, 53),
      (-1, 54), (7, 51)) ++
    seg(60, // mb_qp_delta
      (0, 41), (0, 63), (0, 63), (0, 63)) ++
    seg(64, // intra_chroma_pred_mode
      (-9, 83), (4, 86), (0, 97), (-7, 72)) ++
    seg(68, // prev_intra4x4_pred_mode_flag, rem_intra4x4_pred_mode
      (13, 41), (3, 62)) ++
    seg(85, // coded_block_flag, cat 0..4 × 4 (ctx 85..104)
      (-7, 92), (-5, 89), (-7, 96), (-13, 108),
      (-3, 46), (-1, 65), (-1, 57), (-9, 93),
      (-3, 74), (-9, 92), (-8, 87), (-23, 126),
      (5, 54), (6, 60), (6, 59), (6, 69),
      (-1, 48), (0, 68), (-4, 69), (-8, 88)) ++
    seg(105, // significant_coeff_flag, frame (ctx 105..165)
      (-2, 85), (-6, 78), (-1, 75), (-7, 77), (2, 54), (5, 50),
      (-3, 68), (1, 50), (6, 42), (-4, 81), (1, 63), (-4, 70),
      (0, 67), (2, 57), (-2, 76), (11, 35), (4, 64), (1, 61),
      (11, 35), (18, 25), (12, 24), (13, 29), (13, 36), (-10, 93),
      (-7, 73), (-2, 73), (13, 46), (9, 49), (-7, 100), (9, 53),
      (2, 53), (5, 53), (-2, 61), (0, 56), (0, 56), (-13, 63),
      (-5, 60), (-1, 62), (4, 57), (-6, 69), (4, 57), (14, 39),
      (4, 51), (13, 68), (3, 64), (1, 61), (9, 63), (7, 50),
      (16, 39), (5, 44), (4, 52), (11, 48), (-5, 60), (-1, 59),
      (0, 59), (22, 33), (5, 44), (14, 43), (-1, 78), (0, 60),
      (9, 69)) ++
    seg(166, // last_significant_coeff_flag, frame (ctx 166..226)
      (11, 28), (2, 40), (3, 44), (0, 49), (0, 46), (2, 44),
      (2, 51), (0, 47), (4, 39), (2, 62), (6, 46), (0, 54),
      (3, 54), (2, 58), (4, 63), (6, 51), (6, 57), (7, 53),
      (6, 52), (6, 55), (11, 45), (14, 36), (8, 53), (-1, 82),
      (7, 55), (-3, 78), (15, 46), (22, 31), (-1, 84), (25, 7),
      (30, -7), (28, 3), (28, 4), (32, 0), (34, -1), (30, 6),
      (30, 6), (32, 9), (31, 19), (26, 27), (26, 30), (37, 20),
      (28, 34), (17, 70), (1, 67), (5, 59), (9, 67), (16, 30),
      (18, 32), (18, 35), (22, 29), (24, 31), (23, 38), (18, 43),
      (20, 41), (11, 63), (9, 59), (9, 64), (-1, 94), (-2, 89),
      (-9, 108)) ++
    seg(227, // coeff_abs_level_minus1 (ctx 227..275)
      (-6, 76), (-2, 44), (0, 45), (0, 52), (-3, 64), (-2, 59),
      (-4, 70), (-4, 75), (-8, 82), (-17, 102), (-9, 77), (3, 24),
      (0, 42), (0, 48), (0, 55), (-6, 59), (-7, 71), (-12, 83),
      (-11, 87), (-30, 119), (1, 58), (-3, 29), (-1, 36), (1, 38),
      (2, 43), (-6, 55), (0, 58), (0, 64), (-3, 74), (-10, 90),
      (0, 70), (-4, 29), (5, 31), (7, 42), (1, 59), (-2, 58),
      (-3, 72), (-3, 81), (-11, 97), (0, 58), (8, 5), (10, 14),
      (14, 18), (13, 27), (2, 40), (0, 58), (-3, 70), (-6, 79),
      (-8, 85))).toMap
  }

  locally {
    // coverage + segment shape: every ctx the decode path touches
    require(Seq(3 to 10, 60 to 63, 64 to 67, 68 to 69, 85 to 104,
      105 to 165, 166 to 226, 227 to 275)
      .forall(_.forall(initMN.contains)), "context init coverage")
    initMN.values.foreach { case (m, n) =>
      require(m >= -128 && m <= 127 && n >= -128 && n <= 127,
        "init pair out of the signed-byte lattice the spec uses")
    }
  }

  /** One adaptive context: probability state + MPS value. */
  private final class Ctx(var pStateIdx: Int, var valMPS: Int)

  private def initContexts(qp: Int): Array[Ctx] = {
    val arr = new Array[Ctx](276)
    initMN.foreach { case (idx, (m, n)) =>
      val pre = math.max(1, math.min(126,
        ((m * math.max(0, math.min(51, qp))) >> 4) + n))
      arr(idx) =
        if (pre <= 63) new Ctx(63 - pre, 0) else new Ctx(pre - 64, 1)
    }
    arr
  }

  // ---- §9.3.3.2 decoding engine --------------------------------------

  private final class Decoder(r: BitReader) {
    private var codIRange = 510
    private var codIOffset = r.u(9).toInt

    def decision(c: Ctx): Int = {
      val q = (codIRange >> 6) & 3
      val lps = rangeTabLPS(c.pStateIdx)(q)
      codIRange -= lps
      val bin =
        if (codIOffset >= codIRange) {
          val b = 1 - c.valMPS
          codIOffset -= codIRange
          codIRange = lps
          if (c.pStateIdx == 0) c.valMPS = 1 - c.valMPS
          c.pStateIdx = transIdxLPS(c.pStateIdx)
          b
        } else {
          val b = c.valMPS
          c.pStateIdx =
            if (c.pStateIdx < 62) c.pStateIdx + 1 else c.pStateIdx
          b
        }
      while (codIRange < 256) {
        codIRange <<= 1
        codIOffset = (codIOffset << 1) | r.u(1).toInt
      }
      bin
    }

    def bypass(): Int = {
      codIOffset = (codIOffset << 1) | r.u(1).toInt
      if (codIOffset >= codIRange) { codIOffset -= codIRange; 1 }
      else 0
    }

    def terminate(): Int = {
      codIRange -= 2
      if (codIOffset >= codIRange) 1
      else {
        while (codIRange < 256) {
          codIRange <<= 1
          codIOffset = (codIOffset << 1) | r.u(1).toInt
        }
        0
      }
    }
  }

  // ---- §9.3.4 encoding engine ----------------------------------------

  private final class Encoder(w: BitWriter) {
    private var codILow = 0
    private var codIRange = 510
    private var firstBit = true
    private var outstanding = 0

    private def putBit(b: Int): Unit = {
      if (firstBit) firstBit = false // the spec's discarded leading bit
      else w.u(b.toLong, 1)
      while (outstanding > 0) { w.u((1 - b).toLong, 1); outstanding -= 1 }
    }

    private def renorm(): Unit = {
      while (codIRange < 256) {
        if (codILow >= 512) { putBit(1); codILow -= 512 }
        else if (codILow < 256) putBit(0)
        else { outstanding += 1; codILow -= 256 }
        codIRange <<= 1
        codILow <<= 1
      }
    }

    def decision(c: Ctx, bin: Int): Unit = {
      val q = (codIRange >> 6) & 3
      val lps = rangeTabLPS(c.pStateIdx)(q)
      codIRange -= lps
      if (bin != c.valMPS) {
        codILow += codIRange
        codIRange = lps
        if (c.pStateIdx == 0) c.valMPS = 1 - c.valMPS
        c.pStateIdx = transIdxLPS(c.pStateIdx)
      } else
        c.pStateIdx =
          if (c.pStateIdx < 62) c.pStateIdx + 1 else c.pStateIdx
      renorm()
    }

    def bypass(bin: Int): Unit = {
      codILow <<= 1
      if (bin == 1) codILow += codIRange
      if (codILow >= 1024) { putBit(1); codILow -= 1024 }
      else if (codILow < 512) putBit(0)
      else { outstanding += 1; codILow -= 512 }
    }

    def terminate(bin: Int): Unit = {
      codIRange -= 2
      if (bin == 1) { codILow += codIRange; flush() }
      else renorm()
    }

    /** §9.3.4.4: the final WriteBits' trailing 1 is the rbsp stop
      * bit; the caller byte-aligns with zeros after. */
    private def flush(): Unit = {
      codIRange = 2
      renorm()
      putBit((codILow >> 9) & 1)
      w.u((((codILow >> 7) & 3) | 1).toLong, 2)
    }
  }

  // ---- shared grammar helpers ---------------------------------------

  /** significant/last ctx offsets by ctxBlockCat (frame-coded),
    * and coeff_abs_level_minus1 offsets. */
  private val sigOff = Array(0, 15, 29, 44, 47)
  private val absOff = Array(0, 10, 20, 30, 39)

  /** Encode one residual block's levels (scan order, length =
    * maxNumCoeff) for ctxBlockCat `cat`, including coded_block_flag
    * with `cbfInc`. Returns the coded_block_flag. */
  private def encodeBlock(e: Encoder, ctx: Array[Ctx],
      levels: Array[Int], cat: Int, cbfInc: Int): Int = {
    val maxNC = levels.length
    val sigIdx = (0 until maxNC).filter(levels(_) != 0)
    val cbf = if (sigIdx.nonEmpty) 1 else 0
    e.decision(ctx(85 + cat * 4 + cbfInc), cbf)
    if (cbf == 0) return 0
    val last = sigIdx.last
    var i = 0
    while (i < maxNC - 1 && i <= last) {
      val sig = if (levels(i) != 0) 1 else 0
      e.decision(ctx(105 + sigOff(cat) + i), sig)
      if (sig == 1)
        e.decision(ctx(166 + sigOff(cat) + i), if (i == last) 1 else 0)
      i += 1
    }
    // when the scan reaches maxNC-1 without a last flag, that final
    // position is significant implicitly — nothing is coded for it
    var eq1 = 0; var gt1 = 0
    sigIdx.reverse.foreach { p =>
      val lvl = levels(p)
      val mag = math.abs(lvl) - 1 // coeff_abs_level_minus1
      val inc0 = if (gt1 != 0) 0 else math.min(4, 1 + eq1)
      val incN = 5 + math.min(4, gt1)
      val prefix = math.min(mag, 14)
      var b = 0
      while (b < prefix) {
        e.decision(ctx(227 + absOff(cat) + (if (b == 0) inc0 else incN)), 1)
        b += 1
      }
      if (mag < 14)
        e.decision(ctx(227 + absOff(cat) + (if (prefix == 0) inc0 else incN)), 0)
      else {
        // UEG0 suffix in bypass: Exp-Golomb order 0 of (mag - 14)
        var v = mag - 14
        var k = 0
        while (v >= (1 << k)) { e.bypass(1); v -= 1 << k; k += 1 }
        e.bypass(0)
        while (k > 0) { k -= 1; e.bypass((v >> k) & 1) }
      }
      e.bypass(if (lvl < 0) 1 else 0)
      if (mag == 0) eq1 += 1 else gt1 += 1
    }
    1
  }

  /** Decode one residual block (inverse of [[encodeBlock]]); returns
    * (levels in scan order, coded_block_flag). */
  private def decodeBlock(d: Decoder, ctx: Array[Ctx],
      maxNC: Int, cat: Int, cbfInc: Int): (Array[Int], Int) = {
    val levels = new Array[Int](maxNC)
    if (d.decision(ctx(85 + cat * 4 + cbfInc)) == 0) return (levels, 0)
    val sig = new Array[Boolean](maxNC)
    var i = 0
    var lastSeen = false
    while (i < maxNC - 1 && !lastSeen) {
      if (d.decision(ctx(105 + sigOff(cat) + i)) == 1) {
        sig(i) = true
        if (d.decision(ctx(166 + sigOff(cat) + i)) == 1) lastSeen = true
      }
      i += 1
    }
    if (!lastSeen) sig(maxNC - 1) = true // implicit final significance
    var eq1 = 0; var gt1 = 0
    (0 until maxNC).reverse.filter(sig).foreach { p =>
      val inc0 = if (gt1 != 0) 0 else math.min(4, 1 + eq1)
      val incN = 5 + math.min(4, gt1)
      var mag = 0
      var stop = false
      while (!stop && mag < 14) {
        val bin = d.decision(
          ctx(227 + absOff(cat) + (if (mag == 0) inc0 else incN)))
        if (bin == 0) stop = true else mag += 1
      }
      if (!stop) { // prefix saturated: UEG0 bypass suffix
        var k = 0
        while (d.bypass() == 1) {
          mag += 1 << k; k += 1
          require(k <= 30, "UEG0 suffix runaway")
        }
        var v = 0
        while (k > 0) { k -= 1; v = (v << 1) | d.bypass() }
        mag += v
      }
      val neg = d.bypass() == 1
      levels(p) = if (neg) -(mag + 1) else mag + 1
      if (mag == 0) eq1 += 1 else gt1 += 1
    }
    (levels, 1)
  }

  // ---- the m40/m44 slices: I_16x16 macroblock rows --------------------

  /** One CABAC I_16x16 macroblock fixture: raster-order 4×4 DC
    * block, 16 raster-indexed AC blocks of 15 scan coefficients
    * (null = zero), and optional lone chroma DC coefficients per
    * component (0 = no chroma residual → that component contributes
    * cbpChroma 0). */
  final case class CabacI16(dc: Array[Int], ac: Array[Array[Int]],
      cbDc: Int = 0, crDc: Int = 0)

  /** Build a CABAC-coded IDR slice of ONE I_16x16 macroblock — the
    * m40 shape, kept verbatim as the single-MB view of
    * [[buildI16x16Row]] (identical bits by construction). */
  def buildI16x16Slice(dc: Array[Int], ac: Array[Array[Int]],
      frameNum: Int, frameNumBits: Int, idrPicId: Int = 0,
      deblockIdc: Int = 1): Array[Byte] =
    buildI16x16Row(Seq(CabacI16(dc, ac)), frameNum, frameNumBits,
      idrPicId, deblockIdc)

  /** Build a CABAC-coded IDR slice of a ROW of I_16x16 macroblocks
    * (m44): DC-pred mb_type with cbp derived per MB — chroma DC
    * residuals ride CodedBlockPatternChroma 1 through the mb_type
    * suffix bins — QP 26, CABAC slice data after the Exp-Golomb
    * header. Cross-MB context increments are the real ones: the
    * mb_type prefix bin's condTermFlagA (the left MB is I_16x16 ⇒
    * 1), the cat-0 coded_block_flag chaining on the left MB's DC
    * cbf, the cat-1 grid spanning macroblocks, and the per-component
    * cat-3 chroma-DC cbf chain (unavailable intra neighbours
    * default to 1). One end_of_slice terminate bin per MB. */
  def buildI16x16Row(mbs: Seq[CabacI16], frameNum: Int,
      frameNumBits: Int, idrPicId: Int = 0,
      deblockIdc: Int = 1): Array[Byte] = {
    require(mbs.nonEmpty, "at least one macroblock")
    mbs.foreach { m =>
      require(m.dc.length == 16, "DC block is 4x4")
      require(m.ac.length == 16 &&
        m.ac.forall(a => a == null || a.length == 15),
        "16 AC blocks of 15 scan coefficients (null = all zero)")
    }
    val mbW = mbs.size
    val w = new BitWriter
    w.ue(0L); w.ue(7L); w.ue(0L)
    w.u(frameNum.toLong, frameNumBits)
    w.ue(idrPicId.toLong)
    w.u(0L, 1); w.u(0L, 1)
    w.se(0L) // slice_qp_delta
    require(deblockIdc >= 0 && deblockIdc <= 2, "idc 0..2")
    w.ue(deblockIdc.toLong)
    if (deblockIdc != 1) { w.se(0L); w.se(0L) }
    w.alignOnes() // cabac_alignment_one_bit run
    val ctx = initContexts(26)
    val e = new Encoder(w)
    val dcCbf = new Array[Boolean](mbW)
    val cbCbf = new Array[Boolean](mbW)
    val crCbf = new Array[Boolean](mbW)
    val acGrid = Array.fill(4, 4 * mbW)(false)
    mbs.zipWithIndex.foreach { case (m, i) =>
      val anyAc = m.ac.exists(a => a != null && a.exists(_ != 0))
      val cbpLuma15 = if (anyAc) 1 else 0
      val cbpChroma = if (m.cbDc != 0 || m.crDc != 0) 1 else 0
      // mb_type bins per Table 9-36/9-39 (ctxIdxOffset 3): prefix 1
      // at inc condA+condB (left I_16x16 neighbour ⇒ 1; above row
      // absent), terminate 0 (not I_PCM), cbp-luma bin (inc 3 →
      // ctx 6), chroma prefix (inc 4 → ctx 7) + second chroma bin
      // (inc 5 → ctx 8) when nonzero, pred-mode bins (ctx 9, 10)
      e.decision(ctx(3 + (if (i > 0) 1 else 0)), 1)
      e.terminate(0)
      e.decision(ctx(6), cbpLuma15)
      e.decision(ctx(7), cbpChroma)
      if (cbpChroma != 0) e.decision(ctx(8), 0) // never AC (cbp 2)
      e.decision(ctx(9), 0) // predMode >> 1 (DC)
      e.decision(ctx(10), 0) // predMode & 1
      // intra_chroma_pred_mode = DC everywhere ⇒ neighbour modes are
      // 0 ⇒ ctxIdxInc 0 regardless of availability
      e.decision(ctx(64), 0)
      // mb_qp_delta = 0: single 0 bin (previous delta 0 → inc 0)
      e.decision(ctx(60), 0)
      // Intra16x16DCLevel (cat 0): condA from the left MB's DC cbf,
      // condB from the absent row above (intra default 1)
      val dcScan = Array.tabulate(16)(k => m.dc(Mp4.zigzag4x4(k)))
      val condA0 = if (i == 0) 1 else if (dcCbf(i - 1)) 1 else 0
      dcCbf(i) = encodeBlock(e, ctx, dcScan, 0, condA0 + 2) == 1
      // Intra16x16ACLevel (cat 1), Z order, grid across MBs
      if (anyAc) {
        for (z <- 0 until 16) {
          val (bx, by) = (zToX(z), zToY(z))
          val gx = i * 4 + bx
          val levels =
            Option(m.ac(by * 4 + bx)).getOrElse(new Array[Int](15))
          val condA = if (gx == 0) 1 else if (acGrid(by)(gx - 1)) 1 else 0
          val condB = if (by == 0) 1 else if (acGrid(by - 1)(gx)) 1 else 0
          acGrid(by)(gx) =
            encodeBlock(e, ctx, levels, 1, condA + 2 * condB) == 1
        }
      } // cbp-0 MBs leave their grid entries 0 (cbf inferred 0)
      // ChromaDCLevel (cat 3), Cb then Cr, when cbpChroma == 1
      if (cbpChroma != 0) {
        val cbL = new Array[Int](4); cbL(0) = m.cbDc
        val crL = new Array[Int](4); crL(0) = m.crDc
        val cA = if (i == 0) 1 else if (cbCbf(i - 1)) 1 else 0
        cbCbf(i) = encodeBlock(e, ctx, cbL, 3, cA + 2) == 1
        val cA2 = if (i == 0) 1 else if (crCbf(i - 1)) 1 else 0
        crCbf(i) = encodeBlock(e, ctx, crL, 3, cA2 + 2) == 1
      }
      e.terminate(if (i == mbW - 1) 1 else 0) // end_of_slice_flag
    }
    w.alignZero()  // flush's trailing 1 was the rbsp stop bit
    (0x65.toByte +: Mp4.rbspEscape(w.bytes)).toArray
  }

  private def zToX(z: Int): Int = ((z >> 2) & 1) * 2 + (z & 1)
  private def zToY(z: Int): Int = ((z >> 3) & 1) * 2 + ((z >> 1) & 1)

  /** Decode a CABAC IDR I_16x16 slice back to pixels — the inverse
    * of [[buildI16x16Row]]: a row of macroblocks, DC prediction from
    * reconstructed left edges (luma and per-quadrant chroma),
    * chroma-DC residuals through the 2×2 Hadamard dequant, deblocked
    * per the slice header. mb_type outside the I_16x16 envelope,
    * chroma AC, non-DC prediction and multi-ROW pictures refuse
    * loudly. */
  def parseI16x16Slice(nal: Array[Byte], sps: SpsInfo,
      pps: PpsInfo): PcmFrame = {
    require(nal.nonEmpty && (nal(0) & 0x1f) == 5,
      "not an IDR slice NAL (nal_unit_type != 5)")
    require(sps.mb_height == 1,
      "the CABAC rung decodes one-macroblock-ROW pictures (the " +
        "m40/m44 fixture shapes) — vertical MB neighbours under " +
        "CABAC are the documented next rung")
    val mbW = sps.mb_width
    val w = mbW * 16
    val cw = mbW * 8
    val r = new BitReader(Mp4.rbspUnescape(nal.drop(1)))
    require(r.ue() == 0L, "first_mb_in_slice != 0")
    val st = r.ue()
    require(st == 7L || st == 2L, s"not an I slice (slice_type $st)")
    require(r.ue() == 0L, "pic_parameter_set_id != 0")
    r.u(sps.log2_max_frame_num)
    r.ue()
    r.u(1); r.u(1)
    val qp = pps.pic_init_qp + r.se().toInt
    var deblockIdc = 1
    var offA = 0; var offB = 0
    if (pps.deblocking_filter_control_present) {
      deblockIdc = r.ue().toInt
      require(deblockIdc >= 0 && deblockIdc <= 2, "idc 0..2")
      if (deblockIdc != 1) { offA = 2 * r.se().toInt; offB = 2 * r.se().toInt }
    }
    r.alignOnes()
    val ctx = initContexts(qp)
    val d = new Decoder(r)
    val y = new Array[Int](w * 16)
    val cb = Array.fill(cw * 8)(128)
    val cr = Array.fill(cw * 8)(128)
    val dcCbf = new Array[Boolean](mbW)
    val cbCbf = new Array[Boolean](mbW)
    val crCbf = new Array[Boolean](mbW)
    val acGrid = Array.fill(4, 4 * mbW)(false)
    var i = 0
    var ended = false
    while (i < mbW) {
      require(!ended, "end_of_slice_flag before the last macroblock")
      // mb_type
      require(d.decision(ctx(3 + (if (i > 0) 1 else 0))) == 1,
        "mb_type I_4x4 under CABAC is outside the envelope — the " +
          "documented next rung")
      require(d.terminate() == 0,
        "mb_type I_PCM under CABAC is outside the envelope — the " +
          "documented next rung")
      val cbpLuma15 = d.decision(ctx(6))
      val cbpChroma1 = d.decision(ctx(7))
      if (cbpChroma1 == 1)
        require(d.decision(ctx(8)) == 0,
          "chroma AC residuals under CABAC are outside the envelope " +
            "— the documented next rung")
      val predHi = d.decision(ctx(9))
      val predLo = d.decision(ctx(10))
      require(predHi == 0 && predLo == 0,
        "non-DC I_16x16 prediction under CABAC is outside the envelope")
      require(d.decision(ctx(64)) == 0, "intra_chroma_pred_mode != DC")
      require(d.decision(ctx(60)) == 0, "mb_qp_delta != 0 is outside " +
        "the fixture envelope")
      val condA0 = if (i == 0) 1 else if (dcCbf(i - 1)) 1 else 0
      val (dcScan, dcf) = decodeBlock(d, ctx, 16, 0, condA0 + 2)
      dcCbf(i) = dcf == 1
      val acByRaster = Array.fill(16)(null: Array[Int])
      if (cbpLuma15 == 1) {
        for (z <- 0 until 16) {
          val (bx, by) = (zToX(z), zToY(z))
          val gx = i * 4 + bx
          val condA = if (gx == 0) 1 else if (acGrid(by)(gx - 1)) 1 else 0
          val condB = if (by == 0) 1 else if (acGrid(by - 1)(gx)) 1 else 0
          val (lv, cbf) = decodeBlock(d, ctx, 15, 1, condA + 2 * condB)
          acGrid(by)(gx) = cbf == 1
          acByRaster(by * 4 + bx) = lv
        }
      }
      var cbBlk: Array[Int] = null
      var crBlk: Array[Int] = null
      if (cbpChroma1 == 1) {
        val cA = if (i == 0) 1 else if (cbCbf(i - 1)) 1 else 0
        val (cbl, cbf1) = decodeBlock(d, ctx, 4, 3, cA + 2)
        cbCbf(i) = cbf1 == 1; cbBlk = cbl
        val cA2 = if (i == 0) 1 else if (crCbf(i - 1)) 1 else 0
        val (crl, cbf2) = decodeBlock(d, ctx, 4, 3, cA2 + 2)
        crCbf(i) = cbf2 == 1; crBlk = crl
      }
      ended = d.terminate() == 1 // end_of_slice_flag
      // ---- reconstruction (identical arithmetic to CAVLC) ----------
      val mx = i * 16
      val dcRaster = new Array[Int](16)
      for (k <- 0 until 16) dcRaster(Mp4.zigzag4x4(k)) = dcScan(k)
      val dcq = Mp4.invHadamard4x4(dcRaster).map(Mp4.dequantDc(_, qp))
      val leftE = new Array[Int](16)
      if (i > 0) for (k <- 0 until 16) leftE(k) = y(k * w + mx - 1)
      val pred = Mp4.predict16x16(2, new Array[Int](16), leftE, 0,
        topAvail = false, leftAvail = i > 0)
      var b = 0
      while (b < 16) {
        val bx = (b % 4) * 4; val by = (b / 4) * 4
        val acs = acByRaster(b)
        if (acs == null || !acs.exists(_ != 0)) {
          val v = (dcq(b) + 32) >> 6
          var k = 0
          while (k < 16) {
            val yy = by + k / 4; val xx = bx + k % 4
            y(yy * w + mx + xx) =
              math.max(0, math.min(255, pred(yy * 16 + xx) + v))
            k += 1
          }
        } else {
          val dd = new Array[Int](16)
          dd(0) = dcq(b)
          var p = 0
          while (p < 15) {
            if (acs(p) != 0) {
              val rp = Mp4.zigzag4x4(p + 1)
              dd(rp) = Mp4.dequantAc(acs(p), rp, qp)
            }
            p += 1
          }
          val res = Mp4.invTransform4x4(dd)
          var k = 0
          while (k < 16) {
            val yy = by + k / 4; val xx = bx + k % 4
            y(yy * w + mx + xx) =
              math.max(0, math.min(255, pred(yy * 16 + xx) + res(k)))
            k += 1
          }
        }
        b += 1
      }
      // chroma: per-quadrant DC prediction from the reconstructed
      // left edge (the row above never exists), plus the uniform
      // (dcd+32)>>6 residual of the 2×2-Hadamard-dequantized DC
      def chromaMb(p: Array[Int], blk: Array[Int]): Unit = {
        val cx = i * 8
        val dcd = if (blk == null) null
          else Mp4.chromaDcDequant(blk, qp)
        def sLeft(off: Int): Int =
          (0 until 4).map(k => p((off + k) * cw + cx - 1)).sum
        for (byi <- 0 to 1; bxi <- 0 to 1) {
          val base =
            if (i == 0) 128
            else (sLeft(if (byi == 0) 0 else 4) + 2) >> 2
          val off =
            if (dcd == null) 0 else (dcd(byi * 2 + bxi) + 32) >> 6
          val v = math.max(0, math.min(255, base + off))
          for (yy <- 0 until 4; xx <- 0 until 4)
            p((byi * 4 + yy) * cw + cx + bxi * 4 + xx) = v
        }
      }
      chromaMb(cb, cbBlk)
      chromaMb(cr, crBlk)
      i += 1
    }
    require(ended, "end_of_slice_flag missing after the last macroblock")
    if (deblockIdc != 1)
      Deblock.filterIntra(y, cb, cr, w, 16, mbW, 1, Array.fill(mbW)(qp),
        pps.chroma_qp_index_offset, offA, offB)
    PcmFrame(w, 16, Mp4.toBytes(y), Mp4.toBytes(cb), Mp4.toBytes(cr))
  }

  /** A minimal CABAC PPS (the CAVLC one with
    * entropy_coding_mode_flag = 1 and deblocking control present). */
  def buildPps(): Array[Byte] = {
    val w = new BitWriter
    w.ue(0L); w.ue(0L)
    w.u(1L, 1)          // entropy_coding_mode_flag: CABAC
    w.u(0L, 1); w.ue(0L)
    w.ue(0L); w.ue(0L)
    w.u(0L, 1); w.u(0L, 2)
    w.se(0L); w.se(0L); w.se(0L)
    w.u(1L, 1)          // deblocking_filter_control_present_flag
    w.u(0L, 1); w.u(0L, 1)
    w.trailingBits()
    (0x68.toByte +: Mp4.rbspEscape(w.bytes)).toArray
  }

  // ---- engine-level randomized round-trip (used by the spec) ---------

  /** Encode `bins` with the given per-bin mode ('d' decision at a
    * ctx index into a fresh 4-context pool, 'b' bypass), terminate,
    * and decode back — the engine's self-check surface. Returns the
    * decoded bins. */
  private[graft] def engineRoundTrip(
      bins: Seq[(Char, Int, Int)]): Seq[Int] = {
    val w = new BitWriter
    val ectx = Array.tabulate(4)(i => new Ctx(i * 17 % 63, i % 2))
    val e = new Encoder(w)
    bins.foreach {
      case ('d', c, b) => e.decision(ectx(c), b)
      case ('b', _, b) => e.bypass(b)
      case (m, _, _) => throw new IllegalArgumentException(s"mode $m")
    }
    e.terminate(1)
    w.alignZero()
    val r = new BitReader(w.bytes)
    val dctx = Array.tabulate(4)(i => new Ctx(i * 17 % 63, i % 2))
    val d = new Decoder(r)
    val out = bins.map {
      case ('d', c, _) => d.decision(dctx(c))
      case _ => d.bypass()
    }
    require(d.terminate() == 1, "terminate bin lost")
    out
  }
}
