package graft

import org.apache.spark.sql.functions._
import graft.operators.{Codecs, Deblock, Inter}
import graft.streaming.IndexedLex
import Codecs.Mp4

/** Round-14 additions: conformance-true H.264 fixtures (the PPS now
  * carries deblocking_filter_control_present_flag = 1 and every
  * slice header states disable_deblocking_filter_idc, so a stream
  * that skips the §8.7 filter says so in-band) and the §8.7 in-loop
  * deblocking filter itself (the m39 rung), anchored against
  * hand-derived spec arithmetic at QP 26.
  */
class Round14Spec extends SparkTestBase {

  // ---- Step A: the PPS/header bits are real and parse back ---------

  test("PPS: the legacy control-absent bytes and the conformant " +
    "control-present bytes both build and parse") {
    // round-13's hardcoded PPS — deblocking control ABSENT, so §7.4.3
    // defaults the filter ON (the conformance gap)
    assert(Mp4.buildPps(deblockControl = false).toSeq ===
      Seq(0x68, 0xce, 0x38, 0x80).map(_.toByte))
    // the conformant round-14 PPS: one flag bit flips
    assert(Mp4.buildPps(deblockControl = true).toSeq ===
      Seq(0x68, 0xce, 0x3c, 0x80).map(_.toByte))
    val legacy = Mp4.parsePps(Mp4.buildPps(deblockControl = false))
    assert(!legacy.deblocking_filter_control_present)
    assert(!legacy.entropy_coding_mode && legacy.pic_init_qp === 26)
    val now = Mp4.parsePps(Mp4.buildPps(deblockControl = true))
    assert(now.deblocking_filter_control_present)
    assert(now.pic_init_qp === 26 && now.chroma_qp_index_offset === 0)
  }

  test("muxed fixtures embed the control-present PPS and slice " +
    "headers carry disable_deblocking_filter_idc") {
    val dc = new Array[Int](16); dc(0) = 2
    val nal = Mp4.buildI16x16Slice(
      Seq((dc, Array.fill(16)(null: Array[Int]))), 1, 1,
      frameNum = 0, frameNumBits = 4)
    val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
    val pps = Mp4.ppsInfo(mp4)
    assert(pps.deblocking_filter_control_present)
    // default idc = 1 (filter off): decode equals the legacy pixels —
    // the Step-A invariance that kept every m33-m38 hash green
    val fr = Inter.decodeGopFrames(mp4).next()
    assert(fr.y.forall(b => (b & 0xff) === 128 + (52 * 2 + 32 >> 6)))
  }

  // ---- m39: §8.7 anchors, hand-derived from the spec at QP 26 ------

  /** Two I_16x16 MBs with lone scan-0 DC coefficients c0/c1 →
    * uniform v0 then v0+δ; decode with the filter on and return the
    * luma plane (32×16). */
  private def twoMbRows(c0: Int, c1: Int): (Array[Int], Int, Int) = {
    val dc0 = new Array[Int](16); dc0(0) = c0
    val dc1 = new Array[Int](16); dc1(0) = c1
    val noAc = Array.fill(16)(null: Array[Int])
    val nal = Mp4.buildI16x16Slice(Seq((dc0, noAc), (dc1, noAc)),
      2, 1, frameNum = 0, frameNumBits = 4, deblockIdc = 0)
    val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val fr = Inter.decodeGopFrames(mp4).next()
    val rows = fr.y.map(_ & 0xff)
    // y-uniform by construction: every row identical
    for (r <- 1 until 16)
      assert(rows.slice(r * 32, r * 32 + 32).toSeq ===
        rows.take(32).toSeq, s"row $r differs")
    val v0 = 128 + ((52 * c0 + 32) >> 6)
    (rows.take(32), v0, v0 + ((52 * c1 + 32) >> 6))
  }

  test("bS=4 STRONG branch (|δ| < (α>>2)+2): δ=2 filters to the " +
    "hand-derived 3-tap/2-tap averages") {
    val (row, v0, v1) = twoMbRows(0, 2)
    assert((v0, v1) === (128, 130))
    // p2'=(2p3+3p2+p1+p0+q0+4)>>3=128  p1'=(p2+p1+p0+q0+2)>>2=129
    // p0'=(p2+2p1+2p0+2q0+q1+4)>>3=129 q0'=129 q1'=130 q2'=130
    assert(row.toSeq === Seq.fill(14)(128) ++ Seq(129, 129, 129) ++
      Seq.fill(15)(130))
  }

  test("bS=4 strong branch ripple: δ=4's q1' feeds the next internal " +
    "edge's ap test and its p1 adjustment fires (col 18: 132→131)") {
    val (row, v0, v1) = twoMbRows(0, 5)
    assert((v0, v1) === (128, 132))
    assert(row.toSeq === Seq.fill(13)(128) ++
      Seq(129, 129, 130, 131, 131, 131) ++ Seq.fill(13)(132))
  }

  test("bS=4 WEAK branch (5 ≤ |δ| < α): δ=6 filters p0/q0 only") {
    val (row, v0, v1) = twoMbRows(0, 7)
    assert((v0, v1) === (128, 134))
    assert(row.toSeq === Seq.fill(15)(128) ++ Seq(130, 133) ++
      Seq.fill(15)(134))
  }

  test("filterSamplesFlag off (|δ| ≥ α = 15): δ=16 leaves every " +
    "sample untouched") {
    val (row, v0, v1) = twoMbRows(0, 20)
    assert((v0, v1) === (128, 144))
    assert(row.toSeq === Seq.fill(16)(128) ++ Seq.fill(16)(144))
  }

  test("negative step: δ=-2 strong branch, floor-shift arithmetic") {
    val (row, v0, v1) = twoMbRows(0, -2)
    assert((v0, v1) === (128, 126))
    // p2'=128 p1'=128 p0'=(1022>>3)=127 q0'=127 q1'=127 q2'=126
    assert(row.toSeq === Seq.fill(15)(128) ++
      Seq(127, 127, 127, 126) ++ Seq.fill(13)(126))
  }

  test("flat picture is a fixed point: idc=0 decodes identical to " +
    "idc=1") {
    val (row, _, _) = twoMbRows(0, 0)
    assert(row.toSeq === Seq.fill(32)(128))
  }

  test("chroma bS=4 two-tap filter at the MB edge: lone chroma DC " +
    "c=4 gives the hand-derived 130/135 pair; luma stays flat") {
    val noAc = Array.fill(16)(null: Array[Int])
    val cbDc = new Array[Int](4); cbDc(0) = 4
    val crDc = new Array[Int](4); crDc(0) = -4
    val nal = Mp4.buildMixedIntraSlice(Seq(
      Mp4.I16Mb(new Array[Int](16), noAc),
      Mp4.I16Mb(new Array[Int](16), noAc, 2,
        Mp4.ChromaRes(cbDc, null, crDc, null))),
      2, 1, frameNum = 0, frameNumBits = 4, deblockIdc = 0)
    val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val fr = Inter.decodeGopFrames(mp4).next()
    assert(fr.y.forall(b => (b & 0xff) === 128), "luma flat no-op")
    val cbRow = fr.cb.take(16).map(_ & 0xff)
    for (r <- 1 until 8)
      assert(fr.cb.slice(r * 16, r * 16 + 16).map(_ & 0xff).toSeq ===
        cbRow.toSeq)
    // offc = (104·4+32)>>6 = 7: p0'=(2·128+128+135+2)>>2=130,
    // q0'=(2·135+135+128+2)>>2=535>>2=133
    assert(cbRow.toSeq === Seq.fill(7)(128) ++ Seq(130, 133) ++
      Seq.fill(7)(135))
    // Cr: offc = (104·(−4)+32)>>6 = −6 → v=122:
    // p0'=(256+128+122+2)>>2=127, q0'=(244+122+128+2)>>2=124
    val crRow = fr.cr.take(16).map(_ & 0xff)
    assert(crRow.toSeq === Seq.fill(7)(128) ++ Seq(127, 124) ++
      Seq.fill(7)(122))
  }

  test("bS=3 internal edge, full tC path: the I_4x4 right-column " +
    "step δ=7 hits Δ clipping (Δ=3=tC) and both p1/q1 adjustments") {
    val modes = Array.fill(16)(2)
    modes(7) = 1; modes(11) = 1; modes(15) = 1
    val coeffs = Array.fill(16)(null: Array[Int])
    for (bi <- Seq(3, 7, 11, 15)) {
      val a = new Array[Int](16); a(0) = 2; coeffs(bi) = a
    }
    val nal = Mp4.buildMixedIntraSlice(Seq(Mp4.I4Mb(modes, coeffs)),
      1, 1, frameNum = 0, frameNumBits = 4, deblockIdc = 0)
    val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
    val fr = Inter.decodeGopFrames(mp4).next()
    val row = fr.y.take(16).map(_ & 0xff)
    for (r <- 1 until 16)
      assert(fr.y.slice(r * 16, r * 16 + 16).map(_ & 0xff).toSeq ===
        row.toSeq, s"row $r differs")
    // v1 = 128 + (832·2+128)>>8 = 135; Δ = clip(±3,(3·7+4)>>3) = 3;
    // p1' = 128 + clip(±1,(128+132−256)>>1) = 129;
    // q1' = 135 + clip(±1,(135+132−270)>>1 = −2>>1 = −1) = 134
    assert(row.toSeq === Seq.fill(10)(128) ++
      Seq(129, 131, 132, 134, 135, 135))
  }

  test("I_PCM edges deblock at QPY 0: a PCM/coded mixed slice with " +
    "the filter ON leaves the PCM macroblock byte-exact and the " +
    "coded one unfiltered at its PCM-facing edge (qPav 13 → α 0)") {
    val py = Array.tabulate(256)(i => ((i * 7 + 3) % 256).toByte)
    val pcb = Array.tabulate(64)(i => ((i * 5 + 1) % 256).toByte)
    val pcr = Array.tabulate(64)(i => ((i * 3 + 9) % 256).toByte)
    val dc1 = new Array[Int](16); dc1(0) = 4
    val noAc = Array.fill(16)(null: Array[Int])
    val nal = Mp4.buildMixedIntraSlice(Seq(
      Mp4.PcmMb(py, pcb, pcr), Mp4.I16Mb(dc1, noAc)),
      2, 1, frameNum = 0, frameNumBits = 4, deblockIdc = 0)
    val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val withF = Inter.decodeGopFrames(mp4).next()
    // the same slice with the filter off
    val nalOff = Mp4.buildMixedIntraSlice(Seq(
      Mp4.PcmMb(py, pcb, pcr), Mp4.I16Mb(dc1, noAc)),
      2, 1, frameNum = 0, frameNumBits = 4, deblockIdc = 1)
    val mp4Off = Mp4.mux(Seq(Seq(nalOff)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
    val noF = Inter.decodeGopFrames(mp4Off).next()
    assert(withF.y.toSeq === noF.y.toSeq &&
      withF.cb.toSeq === noF.cb.toSeq && withF.cr.toSeq === noF.cr.toSeq)
    // and the PCM plane really is the raw bytes
    for (r <- 0 until 16; c <- 0 until 16)
      assert((withF.y(r * 32 + c) & 0xff) === (py(r * 16 + c) & 0xff))
  }

  // ---- ADVICE r13: deep-chain tracklet escalation -------------------

  test("tracklet escalation survives a chain LONGER than the " +
    "min-label round cap: a 60-frame track routes through the " +
    "two-phase closure and matches the in-partition walk") {
    import testImplicits._
    // one box per frame for 60 frames — a 59-hop parent chain. The
    // min-label closure would need 59 rounds (> its 50 cap); the
    // two-phase fallback converges in O(log² n) rounds.
    val chain = (1 to 60).map(f => ("deep", f.toLong, 1L, 0, 0, 10, 10, 9))
    val single = Seq(("deep", 2L, 2L, 500, 500, 510, 510, 3))
    val boxes = (chain ++ single)
      .toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
        "label_id")
    val direct = graft.queries.VideoQueries.tracklets(boxes)
      .collect().map(_.toString).sorted.toSeq
    val guarded = graft.queries.VideoQueries
      .tracklets(boxes, maxEdgesPerVideo = 5L)
      .collect().map(_.toString).sorted.toSeq
    assert(guarded === direct && direct.size === 61)
    // the 60-box chain shares one id; the singleton labels itself
    val ids = graft.queries.VideoQueries
      .tracklets(boxes, maxEdgesPerVideo = 5L)
      .select("tracklet_id").distinct().count()
    assert(ids === 2L)
  }

  test("the decode envelope refuses what it can't decode, by class: " +
    "the CABAC arm's sub-envelope (multi-ROW) refuses loudly, and a " +
    "CAVLC payload mislabeled as CABAC fails at the alignment bits") {
    val cabacPps = graft.operators.Cabac.buildPps()
    assert(Mp4.parsePps(cabacPps).entropy_coding_mode)
    // a real CABAC slice muxed into a TWO-ROW SPS: the CABAC
    // parser's one-MB-row envelope (m44) refuses by name
    val dc = new Array[Int](16); dc(0) = 2
    val cnal = graft.operators.Cabac.buildI16x16Slice(dc,
      Array.fill(16)(null: Array[Int]), frameNum = 0, frameNumBits = 4)
    val tall = Mp4.mux(Seq(Seq(cnal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 32,
      ppsOverride = cabacPps)
    val e1 = intercept[IllegalArgumentException] {
      Inter.decodeGopFrames(tall).next()
    }
    assert(e1.getMessage.contains("one-macroblock-ROW"))
    // a CAVLC-coded payload under a CABAC PPS: loud, never garbled
    val vnal = Mp4.buildI16x16Slice(
      Seq((dc, Array.fill(16)(null: Array[Int]))), 1, 1,
      frameNum = 0, frameNumBits = 4)
    val mixed = Mp4.mux(Seq(Seq(vnal)), keyframes = Seq(1),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 16,
      ppsOverride = cabacPps)
    intercept[IllegalArgumentException] {
      Inter.decodeGopFrames(mixed).next()
    }
  }

  // ---- round-14 window audit: the r81 fact-sized ntile is guarded ---

  test("lorenz escalation: the two-phase global-rank tiling equals " +
    "the single-task ntile, including the larger-buckets-first " +
    "remainder semantics") {
    import testImplicits._
    // 23 rows: n % 10 = 3, so deciles 1..3 hold 3 rows, 4..10 hold 2
    val tiny = (1 to 23)
      .map(i => (i.toDouble * 1.11, i.toLong))
      .toDF("o_totalprice", "o_orderkey")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val direct = canon(graft.queries.Relational6.lorenz(tiny))
    val escalated = canon(graft.queries.Relational6.lorenz(tiny,
      maxSingleTaskRows = 1L))
    assert(escalated === direct)
    assert(graft.queries.Relational6.lorenz(tiny)
      .agg(sum("n_orders")).head().getLong(0) === 23L)
    // and on the sf orders: both spellings, same 10 rows
    val t = graft.sources.Tables.orders(spark, sf)
    assert(canon(graft.queries.Relational6.lorenz(t, maxSingleTaskRows = 1L))
      === canon(graft.queries.Relational6.lorenz(t)))
  }

  // ---- ADVICE r13: the compacted base vs batch id 0 -----------------

  test("IndexedLex: the compacted base lives under the RESERVED " +
    "ingest id, so a crashed batch 0 + compact + replay equals a " +
    "fresh build (base id 0 used to collide with batch 0)") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixc0").toString
    val idx = s"$root/ix"
    try {
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      IndexedLex.ingestBatch(spark, idx, b0, 7L)
      IndexedLex.compact(spark, idx)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // the merged base is under ingest_id=-1, NOT a batch id
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/stats/ingest_id=-1")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/stats/ingest_id=0")))
      // a NEW foreachBatch query starts at id 0 against the compacted
      // index and crashes after its sink writes, before its marker
      IndexedLex.ingestBatch(spark, idx, b1, 0L)
      assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_ingested_0"),
        false))
      IndexedLex.compact(spark, idx)
      // batch 0's partial is dropped; the merged base survives
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/doclen/ingest_id=0")))
      assert(spark.read.parquet(s"$idx/stats")
        .agg(sum("n_docs")).head().getLong(0) === b0.count())
      // the at-least-once replay re-ingests batch 0 whole
      IndexedLex.ingestBatch(spark, idx, b1, 0L)
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val got = canon(IndexedLex.serve(spark, idx, terms))
      val scratch = canon(graft.queries.RetrievalQueries.bm25(
        graft.sources.Tables.documents(spark, sf), terms, topK = 20))
      assert(got.nonEmpty && got === scratch)
      assert(spark.read.parquet(s"$idx/stats")
        .agg(sum("n_docs")).head().getLong(0) === docs.count())
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("IndexedLex refuses an index built with a different term-hash " +
    "bucket count: serve, ingestBatch, backfill and compact all name " +
    "SPARK_GRAFT_LEX_BUCKETS") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixb").toString
    val idx = s"$root/ix"
    try {
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 2 === 0), 0L)
      val terms = Seq("hash", "merge", "spark", "window")
      assert(IndexedLex.serve(spark, idx, terms).count() > 0)
      // the same postings, now claimed to be laid out over twice the
      // buckets: serving would prune to the wrong tbkt directories
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val rec = new org.apache.hadoop.fs.Path(idx, "_lex_buckets")
      assert(fs.exists(rec), "the index records its bucket count")
      val out = fs.create(rec, true)
      try out.write((2 * graft.queries.RetrievalQueries.lexBuckets).toString
        .getBytes("UTF-8")) finally out.close()
      def refused(body: => Unit): Unit = {
        val e = intercept[IllegalArgumentException](body)
        assert(e.getMessage.contains("SPARK_GRAFT_LEX_BUCKETS"), e.getMessage)
      }
      refused(IndexedLex.serve(spark, idx, terms))
      refused(IndexedLex.ingestBatch(spark, idx,
        docs.filter(col("doc_id") % 2 === 1), 1L))
      refused(IndexedLex.backfill(spark, idx,
        Seq((docs.filter(col("doc_id") % 2 === 1), 1L))))
      refused(IndexedLex.compact(spark, idx))
      // nothing was written under the refused batch id
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx, "_ingested_1")))
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("SPARK_GRAFT_LEX_BUCKETS: unset means 64; anything but a " +
    "positive integer refuses by name") {
    import graft.queries.RetrievalQueries.parseLexBuckets
    assert(parseLexBuckets(None) === 64)
    assert(parseLexBuckets(Some("128")) === 128)
    Seq("0", "-4", "64x", "", "9999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](parseLexBuckets(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_LEX_BUCKETS"), v)
    }
  }

  // ---- ADVICE r13: the Table 9-5 ctx-1 tail, re-transcribed ----------

  test("coeff_token 2≤nC<4 tail: the five re-transcribed cells carry " +
    "the canonical codewords and the whole column round-trips") {
    import Codecs.Mp4.Cavlc
    // pin the corrected cells as literal (length, value) codewords so
    // a regression back to the round-13 reconstruction is loud
    def assertCode(total: Int, t1s: Int, len: Int, value: Long): Unit = {
      val w = new Mp4.BitWriter
      Cavlc.writeCoeffToken(w, nC = 2, t1s = t1s, total = total)
      w.u(1L, 1); w.alignZero()
      val e = new Mp4.BitWriter
      e.u(value, len); e.u(1L, 1); e.alignZero()
      assert(w.bytes.toSeq === e.bytes.toSeq, s"($t1s,$total)")
    }
    assertCode(9, 1, 11, 10L)   // was length 12 in round 13
    assertCode(10, 2, 12, 13L)  // was value 8
    assertCode(11, 1, 12, 10L)  // was value 13
    assertCode(11, 3, 11, 8L)   // was value 10
    // full-domain round trip for the column (every legal (t1s,total))
    for (total <- 0 to 16; t1s <- 0 to math.min(3, total)) {
      val w = new Mp4.BitWriter
      Cavlc.writeCoeffToken(w, 2, t1s, total)
      w.u(1L, 1); w.alignZero() // pad so short codes parse
      val r = new Mp4.BitReader(w.bytes)
      assert(Cavlc.readCoeffToken(r, 2) === ((t1s, total)),
        s"(t1s=$t1s, total=$total)")
    }
  }

  // ---- m40: CABAC ----------------------------------------------------

  test("CABAC engine: randomized decision/bypass streams round-trip " +
    "bin-exact through encode → terminate → decode (the renorm/" +
    "carry/outstanding-bit logic has no slack)") {
    val rnd = new scala.util.Random(0xCABAC)
    for (trial <- 0 until 50) {
      val n = 1 + rnd.nextInt(400)
      val bins = Seq.tabulate(n) { _ =>
        if (rnd.nextBoolean()) ('d', rnd.nextInt(4), rnd.nextInt(2))
        else ('b', 0, rnd.nextInt(2))
      }
      val back = graft.operators.Cabac.engineRoundTrip(bins)
      assert(back === bins.map(_._3), s"trial $trial")
    }
  }

  test("CABAC ≡ CAVLC on pixels: the same coefficient fixtures " +
    "decode to IDENTICAL planes through both entropy coders, " +
    "including levels past the TU prefix (UEG0 suffix) and dense " +
    "significance maps") {
    val rnd = new scala.util.Random(42)
    val noAc = Array.fill(16)(null: Array[Int])
    for (trial <- 0 until 25) {
      val dc = new Array[Int](16)
      dc(rnd.nextInt(16)) = rnd.between(-40, 41)
      val ac =
        if (trial % 3 == 0) noAc
        else Array.tabulate(16) { _ =>
          if (rnd.nextInt(3) == 0) {
            val a = new Array[Int](15)
            for (k <- 0 until 15 if rnd.nextInt(4) == 0)
              a(k) = { val v = rnd.between(-30, 31); if (v == 0) 7 else v }
            a
          } else null
        }
      val cavlcNal = Mp4.buildI16x16Slice(Seq((dc, ac)), 1, 1,
        frameNum = 0, frameNumBits = 4)
      val cavlcMp4 = Mp4.mux(Seq(Seq(cavlcNal)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
      val a1 = Inter.decodeGopFrames(cavlcMp4).next()
      val cabacNal = graft.operators.Cabac.buildI16x16Slice(dc, ac,
        frameNum = 0, frameNumBits = 4)
      val cabacMp4 = Mp4.mux(Seq(Seq(cabacNal)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 16, height = 16,
        ppsOverride = graft.operators.Cabac.buildPps())
      val a2 = Inter.decodeGopFrames(cabacMp4).next()
      assert(a1.y.toSeq === a2.y.toSeq, s"trial $trial luma")
      assert(a1.cb.toSeq === a2.cb.toSeq && a1.cr.toSeq === a2.cr.toSeq,
        s"trial $trial chroma")
    }
  }

  test("CABAC tables: Table 9-44 follows the generative model " +
    "pσ·(64q+288) within rounding (col-0 clamp at the lowest " +
    "states), Table 9-45 is monotone with the absorbing states") {
    import graft.operators.Cabac
    assert(Cabac.rangeTabLPS(0).toSeq === Seq(128, 176, 208, 240))
    assert(Cabac.rangeTabLPS(63).toSeq === Seq(2, 2, 2, 2))
    assert(Cabac.rangeTabLPS(62).toSeq === Seq(6, 7, 8, 9))
    assert(Cabac.transIdxLPS(0) === 0 && Cabac.transIdxLPS(63) === 63)
    assert(Cabac.transIdxLPS(62) === 38)
  }

  test("CABAC slices honour the deblocking header: a filter-on " +
    "single-MB uniform picture is a §8.7 fixed point, equal to the " +
    "filter-off decode") {
    val dc = new Array[Int](16); dc(0) = 4
    val noAc = Array.fill(16)(null: Array[Int])
    def decode(idc: Int) = {
      val nal = graft.operators.Cabac.buildI16x16Slice(dc, noAc,
        frameNum = 0, frameNumBits = 4, deblockIdc = idc)
      val mp4 = Mp4.mux(Seq(Seq(nal)), keyframes = Seq(1),
        timescale = 90000, sampleDelta = 3000, width = 16, height = 16,
        ppsOverride = graft.operators.Cabac.buildPps())
      Inter.decodeGopFrames(mp4).next()
    }
    val on = decode(0); val off = decode(1)
    assert(on.y.toSeq === off.y.toSeq)
    assert(on.y.forall(b => (b & 0xff) === 128 + ((52 * 4 + 32) >> 6)))
  }

  test("Deblock tables: the structural guards hold and the QP-26 " +
    "anchor row is exact") {
    assert(Deblock.alphaTab(26) === 15 && Deblock.betaTab(26) === 6)
    assert(Deblock.tc0Tab(26).toSeq === Seq(1, 1, 1))
    assert(Deblock.alphaTab(51) === 255 && Deblock.betaTab(51) === 18)
    assert(Deblock.tc0Tab(51).toSeq === Seq(14, 19, 25))
    assert(Deblock.alphaTab.take(16).forall(_ === 0))
  }
}
