package graft

import graft.operators.Inter
import graft.operators.Codecs.Mp4
import graft.operators.Codecs.Mp4.{I16Mb, I4Mb}

/** Round-13 part 2: the remaining intra prediction modes — I_4x4
  * modes 3..8 (the diagonals) and I_16x16 vertical/horizontal/plane
  * — property-pinned on the extracted predictors and
  * integration-pinned through full slice decodes.
  */
class Round13bSpec extends SparkTestBase {

  private val zig = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val rnd = new scala.util.Random(1337)
  private def rTop8() = Array.fill(8)(rnd.nextInt(256))
  private def rLeft4() = Array.fill(4)(rnd.nextInt(256))

  test("predict4x4 properties: every mode preserves constants; " +
    "top-only modes ignore left; left-only modes ignore top; " +
    "vertical/horizontal copy their edge; VR/HD are transposes") {
    for (v <- Seq(0, 1, 77, 128, 254, 255); mode <- 0 to 8) {
      val got = Mp4.predict4x4(mode, Array.fill(8)(v), Array.fill(4)(v),
        v, topAvail = true, leftAvail = true)
      assert(got.toSeq === Seq.fill(16)(v), s"mode $mode const $v")
    }
    for (_ <- 0 until 50) {
      val top = rTop8(); val left = rLeft4(); val tl = rnd.nextInt(256)
      // vertical copies the top row; horizontal copies the left col
      assert(Mp4.predict4x4(0, top, left, tl, true, true).toSeq ===
        (0 until 16).map(i => top(i % 4)))
      assert(Mp4.predict4x4(1, top, left, tl, true, true).toSeq ===
        (0 until 16).map(i => left(i / 4)))
      // modes 0/3/7 depend only on `top`
      for (m <- Seq(0, 3, 7))
        assert(Mp4.predict4x4(m, top, left, tl, true, true).toSeq ===
          Mp4.predict4x4(m, top, rLeft4(), rnd.nextInt(256),
            true, true).toSeq, s"mode $m read left/tl")
      // modes 1/8 depend only on `left`
      for (m <- Seq(1, 8))
        assert(Mp4.predict4x4(m, top, left, tl, true, true).toSeq ===
          Mp4.predict4x4(m, rTop8(), left, rnd.nextInt(256),
            true, true).toSeq, s"mode $m read top/tl")
      // HU's lower-right triangle saturates to left(3) (zHU > 5)
      val hu = Mp4.predict4x4(8, top, left, tl, true, true)
      for (y <- 0 until 4; x <- 0 until 4 if x + 2 * y > 5)
        assert(hu(y * 4 + x) === left(3))
      // VR and HD are transposes of each other (the §8.3.1.2
      // formulas swap x↔y and top↔left)
      val vr = Mp4.predict4x4(5, top, left.take(4), tl, true, true)
      val hd = Mp4.predict4x4(6,
        left ++ Array.fill(4)(0), top.take(4), tl, true, true)
      for (y <- 0 until 4; x <- 0 until 4)
        assert(vr(y * 4 + x) === hd(x * 4 + y), s"VR/HD ($x,$y)")
      // DDR is symmetric under the same transpose
      val ddr = Mp4.predict4x4(4, top, left.take(4), tl, true, true)
      val ddrT = Mp4.predict4x4(4,
        left ++ Array.fill(4)(0), top.take(4), tl, true, true)
      for (y <- 0 until 4; x <- 0 until 4)
        assert(ddr(y * 4 + x) === ddrT(x * 4 + y), s"DDR ($x,$y)")
    }
    // DDL on a linear top ramp continues the ramp off-corner
    for (a <- Seq(10, 60); b <- Seq(1, 2, 3)) {
      val top = Array.tabulate(8)(x => a + b * x)
      val got = Mp4.predict4x4(3, top, rLeft4(), rnd.nextInt(256),
        true, true)
      for (y <- 0 until 4; x <- 0 until 4 if !(x == 3 && y == 3))
        assert(got(y * 4 + x) === a + b * (x + y + 1), s"DDL ($x,$y)")
    }
  }

  test("predict16x16 properties: constants preserved; vertical/" +
    "horizontal copy edges; plane reproduces a tilted plane within 1") {
    for (v <- Seq(0, 128, 255); mode <- 0 to 3) {
      val got = Mp4.predict16x16(mode, Array.fill(16)(v),
        Array.fill(16)(v), v, true, true)
      assert(got.toSeq === Seq.fill(256)(v), s"mode $mode const $v")
    }
    val top = Array.fill(16)(rnd.nextInt(256))
    val left = Array.fill(16)(rnd.nextInt(256))
    assert(Mp4.predict16x16(0, top, left, 5, true, true).toSeq ===
      (0 until 256).map(i => top(i % 16)))
    assert(Mp4.predict16x16(1, top, left, 5, true, true).toSeq ===
      (0 until 256).map(i => left(i / 16)))
    // plane: edges sampled from P(x,y) = base + s(x+1) + t(y+1)
    // (so p[-1,-1] = base) reproduce P within rounding
    for (s <- Seq(-3, 1, 4); t <- Seq(-2, 2)) {
      val base = 120
      val pt = Array.tabulate(16)(x => base + s * (x + 1))
      val pl = Array.tabulate(16)(y => base + t * (y + 1))
      val got = Mp4.predict16x16(3, pt, pl, base, true, true)
      for (y <- 0 until 16; x <- 0 until 16) {
        val want = base + s * (x + 1) + t * (y + 1)
        assert(math.abs(got(y * 16 + x) - want) <= 1,
          s"plane s=$s t=$t ($x,$y): ${got(y * 16 + x)} vs $want")
      }
    }
  }

  test("full slice with ALL intra modes decodes to the reference: " +
    "random I_4x4 modes 0..8 and I_16x16 modes 0..3 over 2x2 MBs, " +
    "top-right substitution included") {
    val sps = Mp4.parseSps(Mp4.buildSps(32, 32))
    for (trial <- 0 until 8) {
      val mbs: Seq[Mp4.IntraMb] = (0 until 4).map { mb =>
        val mbx = mb % 2; val mby = mb / 2
        if ((mb + trial) % 3 == 0) {
          val mode = rnd.nextInt(4) match {
            case 0 if mby > 0 => 0
            case 1 if mbx > 0 => 1
            case 3 if mbx > 0 && mby > 0 => 3
            case _ => 2
          }
          I16Mb(Array.fill(16)(rnd.nextInt(15) - 7),
            Array.tabulate(16) { _ =>
              if (rnd.nextBoolean()) null
              else {
                val a = new Array[Int](15)
                rnd.shuffle((0 until 15).toList).take(rnd.nextInt(6))
                  .foreach(p => a(p) =
                    (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
                a
              }
            }, mode)
        } else {
          val modes = Array.tabulate(16) { b =>
            val bx = b % 4; val by = b / 4
            val gx = mbx * 4 + bx; val gy = mby * 4 + by
            val m = rnd.nextInt(9)
            if (Set(0, 3, 7)(m) && gy == 0) 2
            else if (Set(1, 8)(m) && gx == 0) 2
            else if (Set(4, 5, 6)(m) && (gx == 0 || gy == 0)) 2
            else m
          }
          val coeffs = Array.tabulate(16) { _ =>
            if (rnd.nextInt(3) == 0) null
            else {
              val a = new Array[Int](16)
              rnd.shuffle((0 until 16).toList).take(rnd.nextInt(7))
                .foreach(p => a(p) =
                  (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
              a
            }
          }
          I4Mb(modes, coeffs)
        }
      }
      val nal = Mp4.buildMixedIntraSlice(mbs, 2, 2, 0, 4)
      val f = Mp4.parseIntraSlice(nal, sps)
      assert(f.y.map(_ & 0xff).toSeq === refDecode(mbs, 2, 2).toSeq,
        s"trial $trial")
    }
  }

  // ---- m38: chroma residuals ----------------------------------------

  test("chroma-DC CAVLC (nC = -1, maxNumCoeff 4) round-trips every " +
    "(TrailingOnes, TotalCoeff) combination and random levels") {
    for (_ <- 0 until 200) {
      val total = rnd.nextInt(5)
      val pos = rnd.shuffle((0 until 4).toList).take(total).sorted
      val coeffs = new Array[Int](4)
      pos.foreach { p =>
        val mag = if (rnd.nextBoolean()) 1 else 1 + rnd.nextInt(40)
        coeffs(p) = if (rnd.nextBoolean()) mag else -mag
      }
      val w = new Mp4.BitWriter
      val t = Mp4.Cavlc.writeBlock(w, coeffs, 4, -1)
      assert(t === coeffs.count(_ != 0))
      w.alignZero()
      val (back, tb) = Mp4.Cavlc.readBlock(new Mp4.BitReader(w.bytes), 4, -1)
      assert(tb === t && back.toSeq === coeffs.toSeq)
    }
  }

  test("chromaDcDequant: 2x2 Hadamard sign patterns and the chroma " +
    "QP table") {
    // lone coefficient at raster rc spreads with [[1,1],[1,-1]] signs
    val h2 = Array(Array(1, 1), Array(1, -1))
    for (rc <- 0 until 4; l <- Seq(-5, -1, 1, 3)) {
      val c = new Array[Int](4); c(rc) = l
      val got = Mp4.chromaDcDequant(c, 26) // qPc = 26: v 13, per 4
      for (b <- 0 until 4)
        assert(got(b) ===
          h2(b / 2)(rc / 2) * h2(b % 2)(rc % 2) * l * 104, s"rc=$rc b=$b")
    }
    // Table 8-15 spot values
    assert(Mp4.chromaQp(26) === 26 && Mp4.chromaQp(29) === 29)
    assert(Mp4.chromaQp(30) === 29 && Mp4.chromaQp(33) === 32)
    assert(Mp4.chromaQp(39) === 35 && Mp4.chromaQp(51) === 39)
  }

  test("chroma residuals decode: single-MB frames (flat-128 chroma " +
    "pred) match the linear reconstruction for cbp 1 and 2, both " +
    "MB kinds; luma is untouched; container hop is lazy-exact") {
    import graft.operators.Codecs.Mp4.ChromaRes
    val sps16 = Mp4.parseSps(Mp4.buildSps(16, 16))
    val h2 = Array(Array(1, 1), Array(1, -1))
    def vtab(rp: Int) = {
      val u = rp / 4; val v = rp % 4
      if (u % 2 == 0 && v % 2 == 0) 13
      else if (u % 2 == 1 && v % 2 == 1) 20 else 16
    }
    val B = Array(Array(2, 2, 2, 1), Array(2, 1, -2, -2),
      Array(2, -1, -2, 2), Array(2, -2, 2, -1))
    def clip(v: Int) = math.max(0, math.min(255, v))
    def refPlane(dcC: Array[Int], ac: Array[Array[Int]]): Array[Int] = {
      val out = Array.fill(64)(0)
      val dcd = if (dcC == null) Array.fill(4)(0)
        else {
          val f = Array(
            dcC(0) + dcC(1) + dcC(2) + dcC(3), dcC(0) - dcC(1) + dcC(2) - dcC(3),
            dcC(0) + dcC(1) - dcC(2) - dcC(3), dcC(0) - dcC(1) - dcC(2) + dcC(3))
          f.map(x => x * 104) // qPc 26: ((x*13)<<4)>>1
        }
      for (b <- 0 until 4) {
        val d = new Array[Int](16); d(0) = dcd(b)
        val a = if (ac == null) null else ac(b)
        if (a != null) for (p <- 0 until 15 if a(p) != 0) {
          val rp = zig(p + 1); d(rp) = a(p) * vtab(rp) << 4
        }
        for (i <- 0 until 4; j <- 0 until 4) {
          val x = (for (u <- 0 until 4; v <- 0 until 4)
            yield B(i)(u) * B(j)(v) * d(u * 4 + v)).sum
          out((b / 2 * 4 + i) * 8 + (b % 2) * 4 + j) =
            clip(128 + ((x + 128) >> 8))
        }
      }
      out
    }
    def rndDc() = Array.fill(4)(rnd.nextInt(9) - 4)
    def rndAc4() = Array.tabulate(4) { _ =>
      if (rnd.nextBoolean()) null
      else {
        val a = new Array[Int](15)
        rnd.shuffle((0 until 15).toList).take(rnd.nextInt(5))
          .foreach(p => a(p) =
            (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(7)))
        a
      }
    }
    for (trial <- 0 until 12) {
      val cbDc = rndDc(); val crDc = rndDc()
      val withAc = trial % 2 == 0
      val cbAc = if (withAc) rndAc4() else null
      val crAc = if (withAc) rndAc4() else null
      val chroma = ChromaRes(cbDc, cbAc, crDc, crAc)
      val lumaDc = Array.fill(16)(rnd.nextInt(9) - 4)
      val mbKind: Mp4.IntraMb =
        if (trial % 3 == 0) {
          val modes = Array.fill(16)(2)
          val cf = Array.fill(16)(null: Array[Int])
          cf(15) = { val a = new Array[Int](16); a(0) = 3; a(5) = -2; a }
          Mp4.I4Mb(modes, cf, chroma)
        } else Mp4.I16Mb(lumaDc, Array.fill(16)(null), 2, chroma)
      val nal = Mp4.buildMixedIntraSlice(Seq(mbKind), 1, 1, 0, 4)
      val f = Mp4.parseIntraSlice(nal, sps16)
      val wantCb = refPlane(
        if (chroma.cbp >= 1) cbDc else null, if (chroma.cbp == 2) cbAc else null)
      val wantCr = refPlane(
        if (chroma.cbp >= 1) crDc else null, if (chroma.cbp == 2) crAc else null)
      assert(f.cb.map(_ & 0xff).toSeq === wantCb.toSeq, s"cb trial $trial")
      assert(f.cr.map(_ & 0xff).toSeq === wantCr.toSeq, s"cr trial $trial")
      // luma untouched by chroma: decode the same MB without chroma
      val nal0 = Mp4.buildMixedIntraSlice(Seq(mbKind match {
        case Mp4.I16Mb(d, a, m, _) => Mp4.I16Mb(d, a, m)
        case Mp4.I4Mb(m, c, _) => Mp4.I4Mb(m, c)
      }), 1, 1, 0, 4)
      assert(f.y.toSeq === Mp4.parseIntraSlice(nal0, sps16).y.toSeq)
    }
    // chroma-DC-only with ZERO luma (cbp 16, codeNum 16) round-trips
    val cdOnly = ChromaRes(Array(2, -1, 0, 1), null, Array(-3, 0, 1, 0), null)
    val nal16 = Mp4.buildMixedIntraSlice(Seq(
      Mp4.I4Mb(Array.fill(16)(2), Array.fill(16)(null), cdOnly)), 1, 1, 0, 4)
    val f16 = Mp4.parseIntraSlice(nal16, sps16)
    assert(f16.y.map(_ & 0xff).forall(_ == 128))
    assert(f16.cb.map(_ & 0xff).toSeq ===
      refPlane(cdOnly.cbDc, null).toSeq)
    // container hop: chroma frames survive the lazy walk
    val nals = (0 until 2).map(i => Seq(Mp4.buildMixedIntraSlice(Seq(
      Mp4.I16Mb(Array.fill(16)(0), Array.fill(16)(null), 2,
        ChromaRes(Array(i + 1, 0, 0, -1), null,
          Array(0, 2, 0, 0), null))), 1, 1, 0, 4, idrPicId = i)))
    val mp4 = Mp4.mux(nals, keyframes = Seq(1, 2), timescale = 90000,
      sampleDelta = 3000, width = 16, height = 16)
    val got = Inter.decodeGopFrames(mp4).toSeq
    assert(got.size === 2)
    got.zip(nals).foreach { case (a, n) =>
      val b = Mp4.parseIntraSlice(n.head, sps16)
      assert(a.cb.toSeq === b.cb.toSeq && a.cr.toSeq === b.cr.toSeq)
    }
  }

  test("I_PCM inside a MIXED slice: raw planes pass through, coded " +
    "neighbours predict from PCM edges, and PCM neighbours feed " +
    "nC = 16 (the FLC coeff_token column)") {
    import graft.operators.Codecs.Mp4.PcmMb
    val sps = Mp4.parseSps(Mp4.buildSps(32, 32))
    for (trial <- 0 until 4) {
      val pcm = PcmMb(
        Array.tabulate(256)(i => ((i * 7 + trial * 13) % 256).toByte),
        Array.tabulate(64)(i => ((i * 3 + trial) % 256).toByte),
        Array.tabulate(64)(i => ((i * 5 + trial * 2) % 256).toByte))
      // MB1 right of the PCM block: horizontal I16 with dense AC —
      // its DC-block nC reads the PCM neighbour's TotalCoeff 16
      val denseAc = Array.tabulate(16) { _ =>
        val a = new Array[Int](15)
        rnd.shuffle((0 until 15).toList).take(4 + rnd.nextInt(8))
          .foreach(p => a(p) =
            (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
        a
      }
      val mb1 = I16Mb(Array.fill(16)(rnd.nextInt(9) - 4), denseAc, 1)
      // MB2 below the PCM block: I_4x4 with DDR/VR/HD modes reading
      // PCM's bottom edge
      val modes2 = Array.tabulate(16) { b =>
        if (b % 4 == 0) 2 else Seq(4, 5, 6)((b + trial) % 3)
      }
      val coeffs2 = Array.tabulate(16) { _ =>
        val a = new Array[Int](16)
        a(rnd.nextInt(16)) = 1 + rnd.nextInt(5)
        a
      }
      val mb2 = I4Mb(modes2, coeffs2)
      val mb3 = I16Mb(Array.fill(16)(rnd.nextInt(9) - 4),
        Array.fill(16)(null), 3) // plane over MB1/MB2 edges
      val mbs = Seq[Mp4.IntraMb](pcm, mb1, mb2, mb3)
      val nal = Mp4.buildMixedIntraSlice(mbs, 2, 2, 0, 4)
      val f = Mp4.parseIntraSlice(nal, sps)
      assert(f.y.map(_ & 0xff).toSeq === refDecode(mbs, 2, 2).toSeq,
        s"trial $trial")
      // the PCM chroma came through raw
      for (i <- 0 until 64)
        assert((f.cb((i / 8) * 16 + i % 8) & 0xff) === (pcm.cb(i) & 0xff))
    }
  }

  /** Independent integration reference: its own pixel bookkeeping,
    * neighbour gathering, Z-order walk and top-right
    * decoded-before/substitution logic (the prediction FORMULAS are
    * property-pinned above, so the shared predictors are used
    * here — this reference exists to catch integration drift:
    * ordering, availability, sample gathering, dequant wiring). */
  private def refDecode(mbs: Seq[Mp4.IntraMb], mbW: Int,
      mbH: Int): Array[Int] = {
    val zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
    def clip(v: Int) = math.max(0, math.min(255, v))
    def vtab(rp: Int) = {
      val u = rp / 4; val v = rp % 4
      if (u % 2 == 0 && v % 2 == 0) 13
      else if (u % 2 == 1 && v % 2 == 1) 20 else 16
    }
    val H = Array(Array(1, 1, 1, 1), Array(1, 1, -1, -1),
      Array(1, -1, -1, 1), Array(1, -1, 1, -1))
    val B = Array(Array(2, 2, 2, 1), Array(2, 1, -2, -2),
      Array(2, -1, -2, 2), Array(2, -2, 2, -1))
    def lin(d: Array[Int]): Array[Int] =
      Array.tabulate(16) { ij =>
        val i = ij / 4; val j = ij % 4
        val x = (for (u <- 0 until 4; v <- 0 until 4)
          yield B(i)(u) * B(j)(v) * d(u * 4 + v)).sum
        (x + 128) >> 8
      }
    val W = mbW * 16
    val out = Array.fill(W * mbH * 16)(0)
    val modeG = Array.fill(mbH * 4, mbW * 4)(2)
    def zOf(bx: Int, by: Int) =
      8 * (by / 2) + 4 * (bx / 2) + 2 * (by % 2) + (bx % 2)
    mbs.zipWithIndex.foreach {
      case (Mp4.PcmMb(py, _, _), mb) =>
        val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
        for (i <- 0 until 256)
          out((my + i / 16) * W + mx + i % 16) = py(i) & 0xff
      case (I16Mb(dcC, ac, mode, _), mb) =>
        val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
        val had = Array.tabulate(16) { rp =>
          (for (u <- 0 until 4; v <- 0 until 4)
            yield H(rp / 4)(u) * H(rp % 4)(v) * dcC(u * 4 + v)).sum
        }
        val dc = had.map(x => x * 13 << 2)
        val topE = Array.tabulate(16)(x =>
          if (my > 0) out((my - 1) * W + mx + x) else 0)
        val leftE = Array.tabulate(16)(yy =>
          if (mx > 0) out((my + yy) * W + mx - 1) else 0)
        val tl = if (mx > 0 && my > 0) out((my - 1) * W + mx - 1) else 0
        val pred = Mp4.predict16x16(mode, topE, leftE, tl,
          my > 0, mx > 0)
        for (b <- 0 until 16) {
          val d = new Array[Int](16); d(0) = dc(b)
          val acs = ac(b)
          if (acs != null) for (p <- 0 until 15 if acs(p) != 0) {
            val rp = zigzag(p + 1); d(rp) = acs(p) * vtab(rp) << 4
          }
          val res = lin(d)
          for (i <- 0 until 4; j <- 0 until 4) {
            val yy = my + (b / 4) * 4 + i; val xx = mx + (b % 4) * 4 + j
            out(yy * W + xx) =
              clip(pred((yy - my) * 16 + (xx - mx)) + res(i * 4 + j))
          }
        }
      case (I4Mb(modes, coeffs, _), mb) =>
        val mbx = mb % mbW; val mby = mb / mbW
        val mx = mbx * 16; val my = mby * 16
        for (z <- 0 until 16) {
          val bx = 2 * ((z >> 2) & 1) + (z & 1)
          val by = 2 * ((z >> 3) & 1) + ((z >> 1) & 1)
          val gx = mbx * 4 + bx; val gy = mby * 4 + by
          val px0 = mx + bx * 4; val py0 = my + by * 4
          val mode = modes(by * 4 + bx)
          modeG(gy)(gx) = mode
          val d = new Array[Int](16)
          val cf = coeffs(by * 4 + bx)
          if (cf != null) for (p <- 0 until 16 if cf(p) != 0) {
            val rp = zigzag(p); d(rp) = cf(p) * vtab(rp) << 4
          }
          val res = lin(d)
          val top = new Array[Int](8)
          if (py0 > 0) {
            for (x <- 0 until 4) top(x) = out((py0 - 1) * W + px0 + x)
            val trGx = gx + 1
            val dec = trGx < mbW * 4 && {
              val trMb = ((gy - 1) / 4) * mbW + trGx / 4
              trMb < mb || (trMb == mb && zOf(trGx % 4, (gy - 1) % 4) < z)
            }
            for (x <- 4 until 8)
              top(x) = if (dec) out((py0 - 1) * W + px0 + x) else top(3)
          }
          val left = Array.tabulate(4)(i =>
            if (px0 > 0) out((py0 + i) * W + px0 - 1) else 0)
          val tl = if (px0 > 0 && py0 > 0) out((py0 - 1) * W + px0 - 1) else 0
          val pred = Mp4.predict4x4(mode, top, left, tl, py0 > 0, px0 > 0)
          for (i <- 0 until 4; j <- 0 until 4)
            out((py0 + i) * W + px0 + j) =
              clip(pred(i * 4 + j) + res(i * 4 + j))
        }
    }
    out
  }
}
