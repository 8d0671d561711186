package graft

import org.apache.spark.sql.functions._
import graft.operators.Inter
import graft.streaming.IndexedLex

/** Round-13 additions: the two escalation guards the round-12 ledger
  * declared but did not code (tracklet-closure fallback, r76
  * distributed prefix sum), and the crashed-ingest half of the
  * compaction concurrency contract (markerless partitions are
  * excluded from the rebuild and rewritten whole by the replay).
  */
class Round13Spec extends SparkTestBase {
  import testImplicits._

  // ---- escalation guard (a): tracklet closure ----------------------

  test("tracklets escalation: an oversized video routes through the " +
    "distributed CC closure and labels exactly like the in-partition walk") {
    // video "big": a 20-frame chain (one box per frame, same spot) +
    // a singleton on frame 1; video "sm": a 2-frame chain. With
    // maxEdgesPerVideo = 5, "big" (21 boxes) must take the CC path
    // while "sm" keeps the walk.
    val chain = (1 to 20).map(f => ("big", f.toLong, 1L, 0, 0, 10, 10, 9))
    val single = Seq(("big", 1L, 2L, 500, 500, 510, 510, 3))
    val sm = Seq(
      ("sm", 1L, 1L, 0, 0, 10, 10, 9),
      ("sm", 2L, 1L, 1, 0, 11, 10, 9))
    val boxes = (chain ++ single ++ sm)
      .toDF("video_id", "frame_id", "box_ref", "x", "y", "w", "h",
        "label_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val direct = canon(graft.queries.VideoQueries.tracklets(boxes))
    val guarded = canon(graft.queries.VideoQueries.tracklets(boxes,
      maxEdgesPerVideo = 5L))
    assert(direct.size === 23 && guarded === direct)
    // and the labels themselves are right: the 20-box chain shares
    // one id (its frame-1 root), the singletons label themselves
    val got = graft.queries.VideoQueries
      .tracklets(boxes, maxEdgesPerVideo = 5L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    def poly(s: String) =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    def node(v: String, f: Long, r: Long) =
      poly(v) * 100000000L + f * 100L + r
    val root = node("big", 1L, 1L)
    (1 to 20).foreach(f => assert(got(("big", f.toLong, 1L)) === root))
    assert(got(("big", 1L, 2L)) === node("big", 1L, 2L))
    assert(got(("sm", 1L, 1L)) === node("sm", 1L, 1L))
    assert(got(("sm", 2L, 1L)) === node("sm", 1L, 1L))
  }

  // ---- escalation guard (b): r76 distributed prefix sum ------------

  test("mannWhitney escalation: the two-phase range-partitioned " +
    "prefix sum equals the single-task window, hand-checked U") {
    val orders = (Seq(1.00, 2.00, 3.00).map(("1-URGENT", _)) ++
      Seq(1.00, 2.50).map(("5-LOW", _)))
      .toDF("o_orderpriority", "o_totalprice")
    val single = graft.queries.Relational6
      .mannWhitney(orders, "1-URGENT", "5-LOW")
      .as[(Long, Long, Long, Long)].head()
    // U_A = ties(1.00)/2 + {2.00>1.00} + {3.00>1.00, 3.00>2.50}
    //     = 0.5 + 1 + 2 = 3.5  ->  u2_a = 7; u2_b = 2*3*2 - 7 = 5
    assert(single === ((3L, 2L, 7L, 5L)))
    // force the escalation: every distinct value is over the limit
    val escalated = graft.queries.Relational6
      .mannWhitney(orders, "1-URGENT", "5-LOW", maxSingleTaskValues = 1L)
      .as[(Long, Long, Long, Long)].head()
    assert(escalated === single)
    // and on real data: same answer both ways over the sf orders
    val t = graft.sources.Tables.orders(spark, sf)
    val a = graft.queries.Relational6.mannWhitney(t, "1-URGENT", "5-LOW")
      .as[(Long, Long, Long, Long)].head()
    val b = graft.queries.Relational6.mannWhitney(t, "1-URGENT", "5-LOW",
      maxSingleTaskValues = 1L).as[(Long, Long, Long, Long)].head()
    assert(a === b)
  }

  // ---- crashed-ingest compaction: lexical index ---------------------

  test("IndexedLex.compact drops a markerless (crashed) batch; the " +
    "replay re-ingests it and serve equals a fresh build") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixcr").toString
    val idx = s"$root/ix"
    try {
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      IndexedLex.ingestBatch(spark, idx, b0, 0L)
      IndexedLex.ingestBatch(spark, idx, b1, 1L)
      // simulate a crash AFTER batch 1's sink writes, BEFORE its
      // marker: the data is on disk, the certificate is not
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_ingested_1"), false))
      IndexedLex.compact(spark, idx)
      // the uncertified partial is gone from every table (a fold into
      // the rebuild would double-count it against the replay below)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/doclen/ingest_id=1")))
      assert(spark.read.parquet(s"$idx/stats")
        .agg(sum("n_docs")).head().getLong(0) === b0.count())
      // the at-least-once replay re-ingests batch 1 whole
      IndexedLex.ingestBatch(spark, idx, b1, 1L)
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val got = canon(IndexedLex.serve(spark, idx, terms))
      val scratch = canon(graft.queries.RetrievalQueries.bm25(
        graft.sources.Tables.documents(spark, sf), terms, topK = 20))
      assert(got.nonEmpty && got === scratch)
      // stats did NOT double-count: compacted row + batch-1 partial
      assert(spark.read.parquet(s"$idx/stats")
        .agg(sum("n_docs")).head().getLong(0) === docs.count())
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  // ---- g8: kCorePeel assembly fusion ---------------------------------

  test("kCorePeel bounded horizon (NOT converged): level-executed " +
    "survivors carry their induced degree in the final set, which " +
    "can fall below k") {
    // path 1-2-3-4-5-6, k=2, rounds=1: endpoints peel in round 1;
    // the loop stops at the horizon before convergence. Node 2 and 5
    // stay alive at the deepest level but their induced degree in
    // the once-peeled edge set is 1 (< k) — the two-agg assembly
    // branch must report that, not their pre-peel degree.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Graph.kCorePeel(pairs, k = 2L, rounds = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((1L, -1L)) && got(6L) === ((1L, -1L)))
    assert(got(2L) === ((-1L, 1L)) && got(5L) === ((-1L, 1L)))
    assert(got(3L) === ((-1L, 2L)) && got(4L) === ((-1L, 2L)))
    assert(got.size === 6)
    // and the converged run of the same graph dissolves everything
    val full = graft.operators.Graph.kCorePeel(pairs, k = 2L, rounds = 10)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(full.values.forall(_ > 0L) && full.size === 6)
  }

  // ---- m35: general CAVLC + complete I_16x16 -------------------------

  private val zig = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  test("CAVLC external anchor: the published worked example " +
    "(TotalCoeff 5, T1s 3, nC 0) produces the exact 24-bit stream") {
    import graft.operators.Codecs.Mp4
    // raster block:  0  3 -1  0 / 0 -1  1  0 / 1  0  0  0 / 0 0 0 0
    val raster = Array(0, 3, -1, 0, 0, -1, 1, 0, 1, 0, 0, 0, 0, 0, 0, 0)
    val scan = Array.tabulate(16)(i => raster(zig(i)))
    assert(scan.toSeq === Seq(0, 3, 0, 1, -1, -1, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0))
    val w = new Mp4.BitWriter
    val total = Mp4.Cavlc.writeBlock(w, scan, 16, nC = 0)
    assert(total === 5)
    // 0000100 011 1 0010 111 10 1 1 01  =  0x08 0xE5 0xED
    assert(w.bytes.toSeq === Seq(0x08.toByte, 0xE5.toByte, 0xED.toByte))
    // and the decoder inverts it
    val (back, t2) = Mp4.Cavlc.readBlock(
      new Mp4.BitReader(Array(0x08.toByte, 0xE5.toByte, 0xED.toByte)),
      16, nC = 0)
    assert(t2 === 5 && back.toSeq === scan.toSeq)
  }

  test("CAVLC round-trips across every nC context, both block widths, " +
    "randomized levels/positions (suffix escalation + run_before)") {
    import graft.operators.Codecs.Mp4
    val rnd = new scala.util.Random(13)
    for (nC <- Seq(0, 1, 2, 3, 4, 5, 7, 8, 12); mx <- Seq(15, 16);
        trial <- 0 until 60) {
      val total = rnd.nextInt(mx + 1)
      val pos = rnd.shuffle((0 until mx).toList).take(total).sorted
      val coeffs = new Array[Int](mx)
      pos.foreach { p =>
        // mix of ±1s (trailing-one machinery) and big levels
        // (suffix-length escalation up to 6)
        val mag = rnd.nextInt(4) match {
          case 0 => 1
          case 1 => 1 + rnd.nextInt(3)
          case 2 => 2 + rnd.nextInt(30)
          case _ => 2 + rnd.nextInt(2000)
        }
        coeffs(p) = if (rnd.nextBoolean()) mag else -mag
      }
      val w = new Mp4.BitWriter
      val t = Mp4.Cavlc.writeBlock(w, coeffs, mx, nC)
      assert(t === coeffs.count(_ != 0))
      w.alignZero()
      val (back, tb) = Mp4.Cavlc.readBlock(new Mp4.BitReader(w.bytes), mx, nC)
      assert(tb === t, s"nC=$nC mx=$mx trial=$trial")
      assert(back.toSeq === coeffs.toSeq, s"nC=$nC mx=$mx trial=$trial")
    }
  }

  test("inverse 4x4 core transform: lone-DC matches the shortcut, " +
    "and 4-divisible inputs match the exact half-weight linear form") {
    import graft.operators.Codecs.Mp4
    val rnd = new scala.util.Random(35)
    val B = Array(Array(2, 2, 2, 1), Array(2, 1, -2, -2),
      Array(2, -1, -2, 2), Array(2, -2, 2, -1))
    for (_ <- 0 until 200) {
      val d = Array.fill(16)((rnd.nextInt(400) - 200) * 4)
      val got = Mp4.invTransform4x4(d)
      for (i <- 0 until 4; j <- 0 until 4) {
        val x = (for (u <- 0 until 4; v <- 0 until 4)
          yield B(i)(u) * B(j)(v) * d(u * 4 + v)).sum
        assert(got(i * 4 + j) === ((x + 128) >> 8), s"($i,$j)")
      }
    }
    // lone DC: uniform (d00 + 32) >> 6 — any parity
    for (d00 <- Seq(-321, -64, -1, 0, 1, 63, 500)) {
      val d = new Array[Int](16); d(0) = d00
      assert(Mp4.invTransform4x4(d).toSeq ===
        Seq.fill(16)((d00 + 32) >> 6))
    }
  }

  test("full I_16x16 slice (DC + AC, 2x2 MBs) decodes to the " +
    "independent linear reconstruction, prediction propagating") {
    import graft.operators.Codecs.Mp4
    val rnd = new scala.util.Random(1316)
    val B = Array(Array(2, 2, 2, 1), Array(2, 1, -2, -2),
      Array(2, -1, -2, 2), Array(2, -2, 2, -1))
    val H = Array(Array(1, 1, 1, 1), Array(1, 1, -1, -1),
      Array(1, -1, -1, 1), Array(1, -1, 1, -1))
    def clip(v: Int) = math.max(0, math.min(255, v))
    for (trial <- 0 until 6) {
      // random DC blocks + dense AC in some blocks (drives nC into
      // the 2<=nC<4 / 4<=nC<8 / FLC contexts across trials)
      val mbs = (0 until 4).map { _ =>
        val dc = Array.fill(16)(rnd.nextInt(15) - 7)
        val ac = Array.tabulate(16) { b =>
          if (rnd.nextInt(3) == 0) null
          else {
            val a = new Array[Int](15)
            val n = rnd.nextInt(13)
            rnd.shuffle((0 until 15).toList).take(n).foreach { p =>
              a(p) = (if (rnd.nextBoolean()) 1 else -1) *
                (1 + rnd.nextInt(9))
            }
            a
          }
        }
        (dc, ac)
      }
      val nal = Mp4.buildI16x16Slice(mbs, 2, 2, frameNum = 0,
        frameNumBits = 4)
      val sps = Mp4.parseSps(Mp4.buildSps(32, 32))
      val f = Mp4.parseIntraSlice(nal, sps)
      // independent reference: Hadamard closed form for the DC path,
      // the exact B-matrix linear form for each 4x4 (valid because
      // QP 26 makes every dequantized coefficient divisible by 4),
      // raster MB order with real DC prediction
      val ref = Array.fill(32 * 32)(0)
      for (mb <- 0 until 4) {
        val (dcC, ac) = mbs(mb)
        val mx = (mb % 2) * 16; val my = (mb / 2) * 16
        // Hadamard (exact, linear) then §8.5.10 dequant at qp 26
        val had = Array.tabulate(16) { rp =>
          val bi = rp / 4; val bj = rp % 4
          (for (u <- 0 until 4; v <- 0 until 4)
            yield H(bi)(u) * H(bj)(v) * dcC(u * 4 + v)).sum
        }
        val dc = had.map(x => x * 13 << 2)
        val topAvail = my > 0; val leftAvail = mx > 0
        val sumTop = if (topAvail)
          (0 until 16).map(i => ref((my - 1) * 32 + mx + i)).sum else 0
        val sumLeft = if (leftAvail)
          (0 until 16).map(i => ref((my + i) * 32 + mx - 1)).sum else 0
        val pred =
          if (topAvail && leftAvail) (sumTop + sumLeft + 16) >> 5
          else if (topAvail) (sumTop + 8) >> 4
          else if (leftAvail) (sumLeft + 8) >> 4
          else 128
        for (b <- 0 until 16) {
          val d = new Array[Int](16)
          d(0) = dc(b)
          val acs = ac(b)
          if (acs != null) for (p <- 0 until 15 if acs(p) != 0) {
            val rp = zig(p + 1)
            val u = rp / 4; val v = rp % 4
            val tab = if (u % 2 == 0 && v % 2 == 0) 13
              else if (u % 2 == 1 && v % 2 == 1) 20 else 16
            d(rp) = acs(p) * tab << 4
          }
          for (i <- 0 until 4; j <- 0 until 4) {
            val x = (for (u <- 0 until 4; v <- 0 until 4)
              yield B(i)(u) * B(j)(v) * d(u * 4 + v)).sum
            val px = clip(pred + ((x + 128) >> 8))
            ref((my + (b / 4) * 4 + i) * 32 + mx + (b % 4) * 4 + j) = px
          }
        }
      }
      assert(f.y.map(_ & 0xff).toSeq === ref.toSeq, s"trial $trial")
    }
  }

  test("muxed full-residual I_16x16 stream: lazy GOP decode is " +
    "frame-exact") {
    import graft.operators.Codecs.Mp4
    val sps = Mp4.parseSps(Mp4.buildSps(16, 16))
    // container hop: three full-residual frames through mux +
    // decodeGopFrames == direct parses
    val frames = (0 until 3).map { fidx =>
      val dc = new Array[Int](16); dc(zig(fidx * 5)) = 2 - fidx
      val ac = Array.tabulate(16) { b =>
        if (b % 4 != fidx % 4) null
        else {
          val a = new Array[Int](15)
          a(b % 15) = fidx + 1; if (b % 15 != 7) a(7) = -1
          a
        }
      }
      Seq(Mp4.buildI16x16Slice(Seq((dc, ac)), 1, 1, 0, 4, idrPicId = fidx))
    }
    val mp4 = Mp4.mux(frames, keyframes = Seq(1, 2, 3),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
    val got = Inter.decodeGopFrames(mp4).toSeq
    val want = frames.map(n => Mp4.parseIntraSlice(n.head, sps))
    assert(got.size === 3)
    got.zip(want).foreach { case (a, b) =>
      assert(a.y.toSeq === b.y.toSeq && a.cb.toSeq === b.cb.toSeq)
    }
  }

  // ---- m36: I_4x4 intra prediction -----------------------------------

  /** Independent sequential reference for intra pictures: same spec
    * steps, different arithmetic path — DC via the Hadamard closed
    * form, every 4×4 via the exact B-matrix linear transform (QP 26
    * keeps all dequantized coefficients divisible by 4). */
  private def refIntraDecode(mbs: Seq[graft.operators.Codecs.Mp4.IntraMb],
      mbW: Int, mbH: Int): Array[Int] = {
    import graft.operators.Codecs.Mp4.{I16Mb, I4Mb}
    val B = Array(Array(2, 2, 2, 1), Array(2, 1, -2, -2),
      Array(2, -1, -2, 2), Array(2, -2, 2, -1))
    val H = Array(Array(1, 1, 1, 1), Array(1, 1, -1, -1),
      Array(1, -1, -1, 1), Array(1, -1, 1, -1))
    def clip(v: Int) = math.max(0, math.min(255, v))
    def vtab(rp: Int) = {
      val u = rp / 4; val v = rp % 4
      if (u % 2 == 0 && v % 2 == 0) 13
      else if (u % 2 == 1 && v % 2 == 1) 20 else 16
    }
    def lin(d: Array[Int]): Array[Int] =
      Array.tabulate(16) { ij =>
        val i = ij / 4; val j = ij % 4
        val x = (for (u <- 0 until 4; v <- 0 until 4)
          yield B(i)(u) * B(j)(v) * d(u * 4 + v)).sum
        (x + 128) >> 8
      }
    val W = mbW * 16
    val out = Array.fill(W * mbH * 16)(0)
    val zOf = Array.tabulate(4, 4)((by, bx) =>
      8 * (by / 2) + 4 * (bx / 2) + 2 * (by % 2) + (bx % 2))
    mbs.zipWithIndex.foreach {
      case (I16Mb(dcC, ac, _, _), mb) =>
        val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
        val had = Array.tabulate(16) { rp =>
          (for (u <- 0 until 4; v <- 0 until 4)
            yield H(rp / 4)(u) * H(rp % 4)(v) * dcC(u * 4 + v)).sum
        }
        val dc = had.map(x => x * 13 << 2)
        val sT = if (my > 0)
          (0 until 16).map(i => out((my - 1) * W + mx + i)).sum else 0
        val sL = if (mx > 0)
          (0 until 16).map(i => out((my + i) * W + mx - 1)).sum else 0
        val pred =
          if (my > 0 && mx > 0) (sT + sL + 16) >> 5
          else if (my > 0) (sT + 8) >> 4
          else if (mx > 0) (sL + 8) >> 4
          else 128
        for (b <- 0 until 16) {
          val d = new Array[Int](16); d(0) = dc(b)
          val acs = ac(b)
          if (acs != null) for (p <- 0 until 15 if acs(p) != 0) {
            val rp = zig(p + 1); d(rp) = acs(p) * vtab(rp) << 4
          }
          val res = lin(d)
          for (i <- 0 until 4; j <- 0 until 4)
            out((my + (b / 4) * 4 + i) * W + mx + (b % 4) * 4 + j) =
              clip(pred + res(i * 4 + j))
        }
      case (I4Mb(modes, coeffs, _), mb) =>
        val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
        // Z order so earlier blocks' pixels feed later predictions
        for (z <- 0 until 16) {
          val bx = 2 * ((z >> 2) & 1) + (z & 1)
          val by = 2 * ((z >> 3) & 1) + ((z >> 1) & 1)
          assert(zOf(by)(bx) === z)
          val px0 = mx + bx * 4; val py0 = my + by * 4
          val mode = modes(by * 4 + bx)
          val d = new Array[Int](16)
          val cf = coeffs(by * 4 + bx)
          if (cf != null) for (p <- 0 until 16 if cf(p) != 0) {
            val rp = zig(p); d(rp) = cf(p) * vtab(rp) << 4
          }
          val res = lin(d)
          val dcPred = if (mode != 2) 0 else {
            val sT = if (py0 > 0)
              (0 until 4).map(j => out((py0 - 1) * W + px0 + j)).sum else 0
            val sL = if (px0 > 0)
              (0 until 4).map(i => out((py0 + i) * W + px0 - 1)).sum else 0
            if (py0 > 0 && px0 > 0) (sT + sL + 4) >> 3
            else if (py0 > 0) (sT + 2) >> 2
            else if (px0 > 0) (sL + 2) >> 2
            else 128
          }
          for (i <- 0 until 4; j <- 0 until 4) {
            val pr = mode match {
              case 0 => out((py0 - 1) * W + px0 + j)
              case 1 => out((py0 + i) * W + px0 - 1)
              case _ => dcPred
            }
            out((py0 + i) * W + px0 + j) = clip(pr + res(i * 4 + j))
          }
        }
    }
    out
  }

  test("I_4x4 slice: random vertical/horizontal/DC modes with full " +
    "residuals decode to the independent reference, chains " +
    "propagating within and across macroblocks") {
    import graft.operators.Codecs.Mp4
    import graft.operators.Codecs.Mp4.I4Mb
    val rnd = new scala.util.Random(436)
    val sps = Mp4.parseSps(Mp4.buildSps(32, 32))
    for (trial <- 0 until 6) {
      val mbs = (0 until 4).map { mb =>
        val mx = (mb % 2) * 16; val my = (mb / 2) * 16
        val modes = Array.tabulate(16) { b =>
          val bx = b % 4; val by = b / 4
          val m = rnd.nextInt(3)
          // clamp to sample availability at the picture edge
          if (m == 0 && my + by * 4 == 0) 2
          else if (m == 1 && mx + bx * 4 == 0) 2
          else m
        }
        val coeffs = Array.tabulate(16) { _ =>
          if (rnd.nextInt(4) == 0) null
          else {
            val a = new Array[Int](16)
            rnd.shuffle((0 until 16).toList).take(rnd.nextInt(9))
              .foreach(p => a(p) =
                (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
            a
          }
        }
        I4Mb(modes, coeffs)
      }
      val nal = Mp4.buildMixedIntraSlice(mbs, 2, 2, 0, 4)
      val f = Mp4.parseIntraSlice(nal, sps)
      assert(f.y.map(_ & 0xff).toSeq === refIntraDecode(mbs, 2, 2).toSeq,
        s"trial $trial")
      assert(f.cb.forall(b => (b & 0xff) == 128)) // chroma flat
    }
  }

  test("MIXED I_4x4 / I_16x16 slice decodes to the reference; lazy " +
    "muxed decode is frame-exact") {
    import graft.operators.Codecs.Mp4
    import graft.operators.Codecs.Mp4.{I16Mb, I4Mb}
    val rnd = new scala.util.Random(1636)
    val sps = Mp4.parseSps(Mp4.buildSps(32, 32))
    def randI16() = I16Mb(
      Array.fill(16)(rnd.nextInt(15) - 7),
      Array.tabulate(16) { _ =>
        if (rnd.nextBoolean()) null
        else {
          val a = new Array[Int](15)
          rnd.shuffle((0 until 15).toList).take(rnd.nextInt(7))
            .foreach(p => a(p) =
              (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
          a
        }
      })
    def randI4(mb: Int) = I4Mb(
      Array.tabulate(16) { b =>
        val m = rnd.nextInt(3)
        if (m == 0 && (mb / 2) * 16 + (b / 4) * 4 == 0) 2
        else if (m == 1 && (mb % 2) * 16 + (b % 4) * 4 == 0) 2
        else m
      },
      Array.tabulate(16) { _ =>
        val a = new Array[Int](16)
        rnd.shuffle((0 until 16).toList).take(rnd.nextInt(6))
          .foreach(p => a(p) =
            (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(9)))
        a
      })
    val nals = (0 until 3).map { fidx =>
      val mbs = (0 until 4).map(mb =>
        if ((mb + fidx) % 2 == 0) randI16() else randI4(mb))
      (mbs, Seq(Mp4.buildMixedIntraSlice(mbs, 2, 2, 0, 4, idrPicId = fidx)))
    }
    // per-frame: decoded == reference
    nals.foreach { case (mbs, nal) =>
      val f = Mp4.parseIntraSlice(nal.head, sps)
      assert(f.y.map(_ & 0xff).toSeq === refIntraDecode(mbs, 2, 2).toSeq)
    }
    // container hop, lazily
    val mp4 = Mp4.mux(nals.map(_._2), keyframes = Seq(1, 2, 3),
      timescale = 90000, sampleDelta = 3000, width = 32, height = 32)
    val got = Inter.decodeGopFrames(mp4).toSeq
    assert(got.size === 3)
    got.zip(nals).foreach { case (a, (mbs, _)) =>
      assert(a.y.map(_ & 0xff).toSeq === refIntraDecode(mbs, 2, 2).toSeq)
    }
    // a whole-PCM slice decodes through the mixed parser too, byte
    // for byte with the planes it carries
    val pcmFrame = Mp4.PcmFrame(16, 16,
      Array.tabulate(256)(i => (i % 251).toByte),
      Array.tabulate(64)(i => (i * 3 % 251).toByte),
      Array.tabulate(64)(i => (i * 5 % 251).toByte))
    val pcm = Mp4.buildIdrPcmSlice(pcmFrame, 0, 4)
    val sps16 = Mp4.parseSps(Mp4.buildSps(16, 16))
    val viaMixed = Mp4.parseIntraSlice(pcm, sps16)
    assert(viaMixed.y.toSeq === pcmFrame.y.toSeq)
    assert(viaMixed.cb.toSeq === pcmFrame.cb.toSeq)
    assert(viaMixed.cr.toSeq === pcmFrame.cr.toSeq)
  }
}
