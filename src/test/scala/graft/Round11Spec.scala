package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Round-11 additions: the scatter_moments fold that retired s32's
  * 2080-struct-per-row explode moment pass. */
class Round11Spec extends SparkTestBase {
  import testImplicits._

  /** Seeded LCG so the corpus is deterministic but adversarial:
    * negative components, magnitudes up to the full micro-unit range,
    * and a row count that doesn't divide the partition count. */
  private def randomMicro(rows: Int, dim: Int, seed: Long) = {
    var s = seed
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    val data = (1 to rows).map { _ =>
      Seq.fill(dim) {
        val r = next()
        // components in [-1.2e6, 1.2e6] — slightly past the unit
        // lattice to prove the headroom audit
        (Math.floorMod(r, 2400001L) - 1200000L)
      }
    }
    data.toDF("xu").repartition(7)
  }

  test("scatter_moments fold is bit-identical to the explode spelling") {
    val micro = randomMicro(rows = 311, dim = 16, seed = 0xA5F00D11L)
    val (fa, fsx, fn) = Similarity.momentFrames(micro, 16)
    val (ea, esx, en) = Similarity.momentFramesExplode(micro, 16)
    val foldSxy = fa.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getDecimal(2).toBigInteger)).sortBy(t => (t._1, t._2))
    val explSxy = ea.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getDecimal(2).toBigInteger)).sortBy(t => (t._1, t._2))
    assert(foldSxy.length === 16 * 17 / 2)
    assert(foldSxy.toSeq === explSxy.toSeq)
    val foldSx = fsx.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val explSx = esx.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(foldSx.toSeq === explSx.toSeq)
    assert(fn.collect().head.getLong(0) === 311L)
    assert(en.collect().head.getLong(0) === 311L)
  }

  test("scatter_moments matches a driver-side BigInt brute force") {
    val rows = Seq(
      Seq(3L, -5L, 7L),
      Seq(-1000000L, 1000000L, 999999L),
      Seq(0L, 0L, 0L),
      Seq(1200000L, -1200000L, 1L),
      Seq(42L, 17L, -99L))
    val df = rows.toDF("xu").repartition(3)
    val m = df.agg(expr("scatter_moments(xu, 3)").as("m"))
      .select(col("m.n"), col("m.sx"), col("m.sxy")).collect().head
    assert(m.getLong(0) === rows.length.toLong)
    val sx = m.getSeq[Long](1)
    for (d <- 0 until 3)
      assert(sx(d) === rows.map(_(d)).sum, s"sx($d)")
    val sxy = m.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    for (i <- 0 until 3; j <- i until 3) {
      val want = rows.map(v => BigInt(v(i)) * BigInt(v(j))).sum
      assert(BigInt(sxy((i, j))) === want, s"sxy($i,$j)")
    }
  }

  test("scatter_moments 128-bit accumulators survive low-word carries") {
    // identical rows whose products force the low word past 2^63:
    // p = 1.2e6^2 = 1.44e12 per row; 2^63/1.44e12 ≈ 6.4e6 rows would
    // be needed to carry, so instead stress the carry path directly
    // with the widest lattice values over many rows via merge: the
    // repartition(7) random suite above covers mixed-sign carries;
    // here pin an exact value: 5000 rows of the max product.
    val df = (1 to 5000).map(_ => Seq(1200000L, -1200000L)).toDF("xu")
      .repartition(5)
    val m = df.agg(expr("scatter_moments(xu, 2)").as("m"))
      .select(col("m.sxy")).collect().head
    val sxy = m.getSeq[org.apache.spark.sql.Row](0)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    val p = BigInt(1200000L) * BigInt(1200000L)
    assert(BigInt(sxy((0, 0))) === p * 5000)
    assert(BigInt(sxy((0, 1))) === -p * 5000)
    assert(BigInt(sxy((1, 1))) === p * 5000)
  }

  test("s32 top principal component still produces the full surface") {
    val df = graft.queries.LlmQueries.s32TopPc(spark, sf)
    val rows = df.collect()
    assert(rows.length === 64)
    // the seed direction is all-ones micro; after 2 iterations the
    // leading share must be a sane ppm value
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 1000000L))
  }

  test("x68 held-out BPE apply: counts bounded by words and characters") {
    import graft.queries.CorpusQueries
    import graft.functions.TextFunctions
    val out = CorpusQueries.x68BpeApplyHeldout(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.nonEmpty)
    // reference word/char counts straight off the held-out docs
    val refRows = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("nw"),
        aggregate(transform(col("ts"), t => length(t).cast("long")),
          lit(0L), (a, b) => a + b).as("nc"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    refRows.filter(_._2._1 > 0).foreach { case (id, (nw, nc)) =>
      val (gw, gt) = out(id)
      assert(gw === nw, s"doc $id word count")
      // each word tokenizes to between 1 (fully merged) and its
      // character count (no merges apply) tokens
      assert(gt >= nw && gt <= nc, s"doc $id token bound: $gt vs [$nw,$nc]")
    }
    // 3 learned merges must actually fire somewhere on held-out text
    assert(out.values.map(_._2).sum <
      refRows.filter(r => out.contains(r._1)).values.map(_._2).sum)
  }

  test("SPS Exp-Golomb build/parse round-trips across the dimension grid") {
    import graft.operators.Codecs.Mp4
    for (w <- Seq(16, 34, 64, 132, 1920); h <- Seq(18, 48, 96, 1080);
         level <- Seq(10, 31, 51); log2 <- Seq(0, 4, 8); ref <- Seq(1, 8)) {
      val s = Mp4.parseSps(Mp4.buildSps(w, h, level, log2, ref))
      assert(s.width === w && s.height === h, s"${w}x$h")
      assert(s.mb_width === (w + 15) / 16 && s.mb_height === (h + 15) / 16)
      assert(s.crop_right === ((w + 15) / 16 * 16 - w) / 2)
      assert(s.crop_bottom === ((h + 15) / 16 * 16 - h) / 2)
      assert(s.level_idc === level && s.log2_max_frame_num === 4 + log2 &&
        s.max_ref_frames === ref && s.profile_idc === 66)
    }
    // odd dimensions cannot be expressed in 2-pixel crop units
    intercept[IllegalArgumentException] { Mp4.buildSps(33, 18) }
    // truncated bitstream fails loudly, never returns garbage
    val nal = Mp4.buildSps(132, 96)
    intercept[IllegalArgumentException] {
      Mp4.parseSps(nal.take(nal.length - 2))
    }
  }

  test("RBSP emulation prevention escapes and strips start-code mimics") {
    import graft.operators.Codecs.Mp4
    val cases = Seq(
      Array[Byte](0, 0, 0), Array[Byte](0, 0, 1), Array[Byte](0, 0, 2),
      Array[Byte](0, 0, 3), Array[Byte](0, 0, 4),
      Array[Byte](0, 0, 0, 0, 1), Array[Byte](1, 0, 0, 2, 0, 0, 3))
    cases.foreach { raw =>
      val esc = Mp4.rbspEscape(raw)
      assert(Mp4.rbspUnescape(esc).toSeq === raw.toSeq, raw.mkString(","))
      // §7.4.1.1: 00 00 00/01/02 must not survive in the escaped
      // form (00 00 03 is the escape itself and is legal)
      esc.sliding(3).foreach { t =>
        if (t.length == 3)
          assert(!(t(0) == 0 && t(1) == 0 && (t(2) & 0xff) <= 2))
      }
    }
    assert(Mp4.rbspEscape(Array[Byte](0, 0, 2)).toSeq ===
      Seq[Byte](0, 0, 3, 2))
  }

  test("m29 SPS container hop: mux embeds, spsInfo recovers") {
    import graft.operators.Codecs.Mp4
    val mp4 = Mp4.mux(Seq(Seq(Array[Byte](0x65, 9, 9))), Seq(1),
      timescale = 1000, sampleDelta = 40, width = 34, height = 18,
      spsLevelIdc = 21, spsLog2MaxFrameNumMinus4 = 3, spsMaxRefFrames = 4)
    val s = Mp4.spsInfo(mp4)
    assert(s.width === 34 && s.height === 18)
    assert(s.mb_width === 3 && s.mb_height === 2)
    assert(s.crop_right === 7 && s.crop_bottom === 7)
    assert(s.level_idc === 21 && s.log2_max_frame_num === 7 &&
      s.max_ref_frames === 4)
    // the m27 walk still reads the same container (SPS embedding must
    // not disturb the sample tables)
    val ix = Mp4.index(mp4)
    assert(ix.n_samples === 1 && ix.width === 34 && ix.height === 18)
  }

  test("r75 seasonal-naive: expanding same-weekday mean, sign-safe division") {
    import graft.queries.Relational5
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // one type, three Mondays (2024-01-01/08/15) + one Tuesday:
    // day2 forecast = day1; day3 forecast = mean(day1, day2)
    val ev = Seq(
      ("a", t(1), 10.0), ("a", t(8), 20.0), ("a", t(15), 40.0),
      ("a", t(2), 5.0), ("a", t(9), 7.0),
      // negative-revenue type: prior sum negative exercises the
      // truncation-toward-zero spelling on both engines
      ("n", t(1), -10.5), ("n", t(8), -3.0))
      .toDF("event_type", "ts", "value")
    val out = Relational5.seasonalNaive(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // type a: errs |2000-1000|=1000, |4000-1500|=2500, |700-500|=200
    assert(out("a") === ((3L, 3700L, 1233L)))
    // type n: day1 y=-1050; day8 forecast = -1050 div 1 = -1050,
    // err = |-300 - (-1050)| = 750
    assert(out("n") === ((1L, 750L, 750L)))
  }

  test("streamed lexical index == from-scratch BM25 (chunked, replayed)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.IndexedLex
    import graft.queries.RetrievalQueries
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("ixlex").toString
    try {
      val idx = s"$root/index"; val ckp = s"$root/ckp"
      // three micro-batches via MemoryStream + AvailableNow restarts
      val chunks = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
      val mem = MemoryStream[(Long, String)](spark)
      chunks.foreach { c =>
        mem.addData(c)
        val q = IndexedLex.start(
          mem.toDF().toDF("doc_id", "text"), idx, ckp)
        q.awaitTermination(120000)
      }
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getInt(4))).sortBy(_._1)
      val served = canon(IndexedLex.serve(spark, idx, terms))
      val scratch = canon(RetrievalQueries.bm25(
        graft.sources.Tables.documents(spark, sf), terms, topK = 20))
      assert(served.nonEmpty && served.toSeq === scratch.toSeq)
      // replaying a completed batch id is a no-op (marker + partition
      // overwrite idempotence)
      IndexedLex.ingestBatch(spark, idx,
        chunks.head.toDF("doc_id", "text"), batchId = 0L)
      assert(canon(IndexedLex.serve(spark, idx, terms)).toSeq === served.toSeq)
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("slice-header build/parse round-trips; frame_num width matters") {
    import graft.operators.Codecs.Mp4
    for (bits <- Seq(4, 6, 12); fn <- Seq(0, 1, 13); st <- Seq(5, 6, 7)) {
      val idr = st == 7
      val nal = Mp4.buildSliceNal(idr, st, fn, bits, idrPicId = 5)
      val h = Mp4.parseSliceHeader(nal, bits)
      assert(h.nal_unit_type === (if (idr) 5 else 1))
      assert(h.slice_type === st && h.frame_num === fn)
      assert(h.idr_pic_id === (if (idr) 5 else -1))
    }
    // reading with the WRONG frame_num width mis-frames the stream —
    // exactly the failure the SPS hop exists to prevent
    val nal = Mp4.buildSliceNal(idr = false, sliceType = 5,
      frameNum = 9, frameNumBits = 6)
    assert(Mp4.parseSliceHeader(nal, 6).frame_num === 9)
    assert(Mp4.parseSliceHeader(nal, 4).frame_num !== 9)
    // non-slice NAL types are rejected
    intercept[IllegalArgumentException] {
      Mp4.parseSliceHeader(Mp4.buildSps(64, 48), 4)
    }
  }

  test("m28 NAL histogram agrees with m27's walk totals") {
    import graft.queries.MediaQueries
    val h = MediaQueries.m28NalHistogram(spark, sf).collect()
    val m27 = MediaQueries.m27Mp4Index(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap // doc_id -> n_nals
    val perDoc = h.groupBy(_.getLong(0))
    assert(perDoc.keySet === m27.keySet)
    perDoc.foreach { case (id, rows) =>
      assert(rows.map(_.getLong(2)).sum === m27(id).toLong,
        s"doc $id NAL total")
      // per-doc stats identical across that doc's histogram rows
      assert(rows.map(_.getLong(3)).distinct.length === 1)
      assert(rows.map(_.getLong(4)).distinct.length === 1)
      assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) <= 31))
    }
  }
}
