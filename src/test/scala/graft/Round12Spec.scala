package graft

import graft.operators.{Codecs, Inter}
import graft.operators.Codecs.Mp4.PcmFrame

/** Round-12 additions: lazy per-file video decode (one frame in
  * flight), and the index-lifecycle loose ends.
  */
class Round12Spec extends SparkTestBase {

  private def lcgPlanes(w: Int, h: Int, seed: Long): PcmFrame = {
    var s = seed
    def next(): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % 256).toInt
    }
    PcmFrame(w, h,
      Array.fill(w * h)(next().toByte),
      Array.fill(w * h / 4)(next().toByte),
      Array.fill(w * h / 4)(next().toByte))
  }

  private def mux3(frames: Seq[PcmFrame], w: Int, h: Int): Array[Byte] = {
    val nals = frames.zipWithIndex.map { case (fr, f) =>
      Seq(Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
        frameNumBits = 4, idrPicId = f))
    }
    Codecs.Mp4.mux(nals, keyframes = (1 to frames.size),
      timescale = 90000, sampleDelta = 3000, width = w, height = h)
  }

  test("decodeGopFrames is LAZY: frames materialize one at a time, " +
    "a corrupt later sample is untouched until the walk reaches it") {
    val (w, h) = (16, 16)
    val frames = (0 until 3).map(f => lcgPlanes(w, h, 0xBAD5EEDL + f))
    val mp4 = mux3(frames, w, h)
    // corrupt the THIRD sample's NAL header byte in mdat
    // (nal_unit_type 5 -> 1, so its I-slice header reaches the P
    // parser): an EAGER whole-file decode would throw before
    // yielding anything; the lazy walk must still serve frames 1
    // and 2 and only fail when asked for frame 3
    val mdat = Codecs.Mp4.boxes(mp4, 0, mp4.length)
      .find(_.fourcc == "mdat").get
    val lenPrefix = 4
    val sampleLens = frames.map(fr =>
      lenPrefix + Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
        frameNumBits = 4, idrPicId = frames.indexOf(fr)).length)
    val off3 = mdat.off + sampleLens(0) + sampleLens(1) + lenPrefix
    assert((mp4(off3) & 0x1f) === 5)
    mp4(off3) = ((mp4(off3) & 0xe0) | 1).toByte
    val it = Inter.decodeGopFrames(mp4)
    val f1 = it.next()
    val f2 = it.next()
    assert(f1.y.toSeq === frames(0).y.toSeq)
    assert(f2.y.toSeq === frames(1).y.toSeq)
    val e = intercept[IllegalArgumentException] { it.next() }
    assert(e.getMessage.contains("not a P slice"))
  }

  test("IndexedLex.backfill (pipelined tokenize) == sequential " +
    "ingestBatch, and a re-run is a marker-skipped no-op") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IndexedLex
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixbf").toString
    try {
      val seqIdx = s"$root/seq"; val pipIdx = s"$root/pip"
      val slices = (0L until 3L).map(b =>
        (docs.filter(col("doc_id") % 3 === b), b))
      slices.foreach { case (df, b) =>
        IndexedLex.ingestBatch(spark, seqIdx, df, b)
      }
      IndexedLex.backfill(spark, pipIdx, slices)
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val seqServe = canon(IndexedLex.serve(spark, seqIdx, terms))
      val pipServe = canon(IndexedLex.serve(spark, pipIdx, terms))
      assert(seqServe.nonEmpty && pipServe === seqServe)
      // replay: all markers present -> the whole backfill is a no-op
      IndexedLex.backfill(spark, pipIdx, slices)
      assert(canon(IndexedLex.serve(spark, pipIdx, terms)) === seqServe)
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("IndexedLex releases its token pins: ingestBatch, then a backfill " +
    "of two slices, adds no entry to the persisted RDDs") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IndexedLex
    val sc = spark.sparkContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("ixrel").toString
    try {
      val before = sc.getPersistentRDDs.keySet
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 3 === 0), 0L)
      IndexedLex.backfill(spark, idx,
        Seq(1L, 2L).map(b => (docs.filter(col("doc_id") % 3 === b), b)))
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"left ${added.size} RDDs persisted")
      assert(IndexedLex.serve(spark, idx,
        Seq("hash", "merge", "spark", "window")).count() > 0L)
    } finally TmpPaths.deleteRecursively(new java.io.File(idx))
  }

  // H matrix rows of the 4x4 Hadamard — the closed form the tests
  // check against: a single DC coefficient `l` at raster (r0, c0)
  // inverse-transforms to f(i,j) = H(i)(r0) * H(j)(c0) * l
  private val H = Array(
    Array(1, 1, 1, 1), Array(1, 1, -1, -1),
    Array(1, -1, -1, 1), Array(1, -1, 1, -1))

  // §8.5.10 DC dequant at QP 26 (per = 4, rem = 2, scale 13):
  // dc = f * 13 << 2; then the lone-DC 4x4 core: r = (dc + 32) >> 6
  private def dcResidual(f: Int): Int = (((f * 13) << 2) + 32) >> 6

  private val noAc = Array.fill(16)(null: Array[Int])

  // the 16x16 luma a single-MB picture with one DC coefficient `l`
  // at `raster` reconstructs to: each 4x4 block flat at 128 + the
  // closed-form Hadamard residual
  private def dcOnlyLuma(raster: Int, l: Int): Seq[Int] =
    Seq.tabulate(256) { p =>
      val i = p / 64; val j = (p % 16) / 4 // 4x4 block row, column
      128 + dcResidual(H(i)(raster / 4) * H(j)(raster % 4) * l)
    }

  test("I_16x16 DC-only slice round-trips: CAVLC + Hadamard + dequant " +
    "against the closed form, single macroblock") {
    val zig = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
    val sps = Codecs.Mp4.parseSps(Codecs.Mp4.buildSps(16, 16))
    for (z <- 0 until 16; l <- Seq(-7, -3, -1, 0, 1, 2, 5, 7)) {
      val dc = new Array[Int](16)
      val raster = zig(z)
      if (l != 0) dc(raster) = l
      val nal = Codecs.Mp4.buildI16x16Slice(Seq((dc, noAc)), 1, 1,
        frameNum = 0, frameNumBits = 4)
      assert((nal(0) & 0x1f) === 5)
      val f = Codecs.Mp4.parseIntraSlice(nal, sps)
      assert(f.width === 16 && f.height === 16)
      assert(f.y.map(_ & 0xff).toSeq === dcOnlyLuma(raster, l), s"z=$z l=$l")
      // chroma: no neighbours, zero residual -> flat 128
      assert(f.cb.forall(b => (b & 0xff) == 128))
      assert(f.cr.forall(b => (b & 0xff) == 128))
    }
  }

  test("I_16x16 DC intra prediction propagates reconstructed " +
    "neighbour edges across a 2x2 macroblock grid") {
    val sps = Codecs.Mp4.parseSps(Codecs.Mp4.buildSps(32, 32))
    // MB0 shifts up (+dc at zigzag 0 -> uniform +residual), others 0
    val dc0 = new Array[Int](16); dc0(0) = 6
    val zero = new Array[Int](16)
    val nal = Codecs.Mp4.buildI16x16Slice(
      Seq(dc0, zero, zero, zero).map((_, noAc)), 2, 2, frameNum = 0,
      frameNumBits = 4)
    val f = Codecs.Mp4.parseIntraSlice(nal, sps)
    val v0 = 128 + dcResidual(6) // MB0 uniform value
    assert((f.y(0) & 0xff) === v0)
    // MB1 (right): left edge = MB0's right column (all v0), top
    // unavailable -> pred = (16*v0 + 8) >> 4 = v0
    assert((f.y(16) & 0xff) === v0)
    // MB2 (below): top edge = MB0's bottom row -> v0
    assert((f.y(16 * 32) & 0xff) === v0)
    // MB3 (diag): top edge from MB1 (v0), left edge from MB2 (v0)
    // -> (16*v0 + 16*v0 + 16) >> 5 = v0
    assert((f.y(16 * 32 + 16) & 0xff) === v0)
  }

  test("muxed I_16x16 DC-only stream decodes lazily through the " +
    "container, frame for frame") {
    val frames = (0 until 3).map { f =>
      val dc = new Array[Int](16)
      dc(Seq(0, 5, 10)(f)) = Seq(2, -4, 1)(f)
      dc
    }
    val nals = frames.zipWithIndex.map { case (dc, f) =>
      Seq(Codecs.Mp4.buildI16x16Slice(Seq((dc, noAc)), 1, 1,
        frameNum = 0, frameNumBits = 4, idrPicId = f))
    }
    val mp4 = Codecs.Mp4.mux(nals, keyframes = Seq(1, 2, 3),
      timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
    val viaMp4 = Inter.decodeGopFrames(mp4).toSeq
    assert(viaMp4.size === 3)
    viaMp4.zip(frames).foreach { case (a, dc) =>
      val raster = dc.indexWhere(_ != 0)
      assert(a.y.map(_ & 0xff).toSeq === dcOnlyLuma(raster, dc(raster)))
      assert(a.cb.forall(b => (b & 0xff) == 128))
    }
  }

  test("IndexedLex.compact: serve is bit-identical before and after, " +
    "stats collapse to one partial, idempotent") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IndexedLex
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixlc").toString
    val idx = s"$root/ix"
    try {
      IndexedLex.backfill(spark, idx,
        (0L until 3L).map(b => (docs.filter(col("doc_id") % 3 === b), b)))
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val before = canon(IndexedLex.serve(spark, idx, terms))
      assert(before.nonEmpty)
      IndexedLex.compact(spark, idx)
      assert(canon(IndexedLex.serve(spark, idx, terms)) === before)
      // the per-batch stats partials collapsed to one row
      assert(spark.read.parquet(s"$idx/stats").count() === 1L)
      // idempotent
      IndexedLex.compact(spark, idx)
      assert(canon(IndexedLex.serve(spark, idx, terms)) === before)
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("compaction mid-stream: ingest -> compact -> MORE ingests -> " +
    "serve still equals a fresh build (markers survive the swap)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IndexedLex
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("ixmid").toString
    val idx = s"$root/ix"
    try {
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 3 === 0), 0L)
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 3 === 1), 1L)
      IndexedLex.compact(spark, idx)
      // a post-compaction batch lands in the collapsed layout
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 3 === 2), 2L)
      val terms = Seq("hash", "merge", "spark", "window")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val got = canon(IndexedLex.serve(spark, idx, terms))
      val scratch = canon(graft.queries.RetrievalQueries.bm25(
        graft.sources.Tables.documents(spark, sf), terms, topK = 20))
      assert(got.nonEmpty && got === scratch)
      // replaying a pre-compaction batch id is STILL a no-op: the
      // markers live at the index root and survive the swap
      IndexedLex.ingestBatch(spark, idx, docs.filter(col("doc_id") % 3 === 0), 0L)
      assert(canon(IndexedLex.serve(spark, idx, terms)) === scratch)
    } finally TmpPaths.deleteRecursively(new java.io.File(root))
  }

  test("v18 zone transitions: every tracklet of k boxes contributes " +
    "exactly k - 1 transitions, zones stay in the 4x4 grid") {
    import org.apache.spark.sql.functions._
    val trans = graft.queries.VideoQueries.v18ZoneTransitions(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(trans.nonEmpty)
    assert(trans.forall { case (f, t, n) =>
      f >= 0 && f <= 15 && t >= 0 && t <= 15 && n > 0
    })
    val tl = graft.queries.VideoQueries.v16Tracklets(spark, sf)
    val nBoxes = tl.count()
    val nTracklets = tl.select(col("video_id"), col("tracklet_id"))
      .distinct().count()
    assert(trans.map(_._3).sum === nBoxes - nTracklets)
  }

  test("s35 trained-PQ recall: one row per query, hits bounded by k, " +
    "deterministic") {
    val a = graft.queries.LlmQueries.s35PqRecall(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.length === 5)
    assert(a.forall { case (_, h) => h >= 0 && h <= 3 })
    val b = graft.queries.LlmQueries.s35PqRecall(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(b.toSeq === a.toSeq)
  }

  test("s36 fully-trained IVF-PQ: complete ranking per query, " +
    "deterministic across runs") {
    def run() = graft.queries.LlmQueries.s36IvfPqTrained(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val a = run()
    assert(a.size === 15) // 5 queries x top-3
    assert(a.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted == Seq(1, 2, 3)
    })
    assert(run() === a)
  }

  test("r81 Lorenz deciles match a driver-side brute force") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.Relational6.r81Lorenz(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val cents = graft.sources.Tables.orders(spark, sf)
      .select(floor(col("o_totalprice") * 100).cast("long").as("c"),
        col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).map(_._1)
    val n = cents.length
    // ntile: the first (n % 10) buckets take ceil(n/10) rows
    val base = n / 10; val extra = n % 10
    var idx = 0
    val total = cents.map(BigInt(_)).sum
    var cum = BigInt(0)
    val expected = (1 to 10).map { d =>
      val sz = base + (if (d <= extra) 1 else 0)
      val slice = cents.slice(idx, idx + sz)
      idx += sz
      val mass = slice.map(BigInt(_)).sum
      cum += mass
      (d.toLong, sz.toLong, mass.toLong, (cum * 1000000 / total).toLong)
    }
    assert(got.toSeq === expected)
  }

  test("r82 chi-square matches a driver-side BigInt brute force") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cells = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val g = rows.length.toLong
    val chi2 = cells.map { case ((p, s), obs) =>
      val diff = BigInt(obs) * g - BigInt(rt(p)) * ct(s)
      BigInt(1000000) * diff * diff / (BigInt(rt(p)) * ct(s) * g)
    }.sum
    val got = graft.queries.Relational6.r82ChiSquare(spark, sf).head()
    assert(got.getLong(0) === rt.size.toLong)
    assert(got.getLong(1) === ct.size.toLong)
    assert(got.getLong(2) === (rt.size - 1).toLong * (ct.size - 1))
    assert(got.getLong(3) === chi2.toLong)
  }

  test("r83 Kaplan-Meier matches a driver-side product-limit brute force") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        java.time.LocalDate.parse(r.getString(2))))
    val byUser = ev.groupBy(_._1)
    val subj = byUser.values.map { rows =>
      val t0 = rows.map(_._3).min
      val errs = rows.filter(_._2 == "error").map(_._3)
      if (errs.nonEmpty)
        (java.time.temporal.ChronoUnit.DAYS.between(t0, errs.min), true)
      else
        (java.time.temporal.ChronoUnit.DAYS.between(t0, rows.map(_._3).max),
          false)
    }.toSeq
    val steps = subj.filter(_._2).groupBy(_._1).view
      .mapValues(_.size.toLong).toSeq.sortBy(_._1)
    var s = 1000000L
    val expected = steps.map { case (t, d) =>
      val n = subj.count(_._1 >= t).toLong
      s = s * (n - d) / n
      (t, n, d, s)
    }
    val got = graft.queries.Relational6.r83KaplanMeier(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === expected)
    // survival is monotone non-increasing and ends in [0, 1e6]
    assert(got.map(_._4).toSeq === got.map(_._4).sorted.reverse.toSeq)
  }

  test("x72 token compression ties out against x68's per-doc frame") {
    import org.apache.spark.sql.functions._
    val x72 = graft.queries.CorpusQueries.x72TokenCompression(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(x72.nonEmpty)
    val x68 = graft.queries.CorpusQueries.x68BpeApplyHeldout(spark, sf)
    val (docs68, toks68) = (x68.count(),
      x68.agg(sum(col("n_tokens"))).head().getLong(0))
    assert(x72.map(_._2).sum === docs68)
    assert(x72.map(_._4).sum === toks68)
    // every source's text is at least one byte per token
    assert(x72.forall { case (_, _, nb, nt, ppm) =>
      nb >= nt && ppm >= 1000000L
    })
  }

  test("nalPayloadIterator matches the eager walk NAL-for-NAL") {
    val (w, h) = (32, 16)
    val frames = (0 until 4).map(f => lcgPlanes(w, h, 0xFEED5L + f))
    val mp4 = mux3(frames, w, h)
    val eager = Codecs.Mp4.nalPayloads(mp4)
    val lazySeq = Codecs.Mp4.nalPayloadIterator(mp4).toSeq
    assert(lazySeq.size === eager.size)
    lazySeq.zip(eager).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq)
    }
  }
}
