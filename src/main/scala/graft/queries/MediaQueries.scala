package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.Engine.SnapshotOps
import graft.operators.Inter
import graft.operators.Codecs.Mp4.zigzag4x4
import SyntheticMedia.sgn

/** Media-column queries beyond LlmQueries' m1–m7: perceptual image
  * hashing (m8) — the image-side dedup primitive that ties the
  * multimodal family to the d-family (byte-identity d1 can't group
  * images that differ in encoding or carry invisible noise; a
  * perceptual hash can).
  */
object MediaQueries {

  /** m8: average-hash (aHash) image near-dup grouping over REAL
    * compressed decode — each doc synthesizes its deterministic RGB
    * image (docs sharing `doc_id % 37` draw the SAME image; odd docs
    * additionally carry a +1 perturbation on odd pixels — visually
    * identical, byte-different after encoding), encodes it as a
    * genuine PNG, REALLY decodes it back, and computes the classic
    * aHash over the decoded pixels: nearest-neighbor 8×8 subsample →
    * integer BT.601 luminance → threshold each sample against the
    * 64-sample mean (kept integral: `gray*64 > total`) → a 64-bit
    * fingerprint (emitted as a 64-char bitstring — no sign-bit
    * overflow, trivially restatable). Grouping by the hash then
    * recovers the perceptual duplicate classes INCLUDING the
    * perturbed members byte-level dedup misses — `n_perturbed`
    * counts them per group.
    *
    * 100 TB shape: the pixels live and die inside one partition-
    * scoped decode pass (the m2/m5/m6 contract); only the 64-char
    * hash reaches the exchange, and the grouping is one partial-agg
    * shuffle on the hash. PNG is lossless, so the oracle restates
    * subsample, luminance, threshold, and grouping arithmetically —
    * a decoder defect shifts a gray value and breaks the hash. */
  def m8PerceptualHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % 37
          val w = (8 + key % 13).toInt; val h = (8 + key % 7).toInt
          val rgb = Array.tabulate(w * h * 3) { i =>
            val p = i / 3
            ((key * 7 + i * 13 + (id % 2) * (p % 2)) % 256).toByte
          }
          val png = Codecs.ImageIoCodecs.encodeRgb("png", w, h, rgb)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == dec.width && dh == dec.height && dw == w && dh == h,
            s"codec metadata/pixel disagreement for doc $id")
          val grays = new Array[Long](64)
          var total = 0L
          var q = 0
          while (q < 64) {
            val sp = (q / 8) * h / 8 * w + (q % 8) * w / 8
            val g = 299L * (back(sp * 3) & 0xff) +
              587L * (back(sp * 3 + 1) & 0xff) +
              114L * (back(sp * 3 + 2) & 0xff)
            grays(q) = g; total += g; q += 1
          }
          val sb = new StringBuilder(64)
          q = 0
          while (q < 64) {
            sb.append(if (grays(q) * 64 > total) '1' else '0'); q += 1
          }
          (id, w, h, sb.toString)
        }
      }.toDF("doc_id", "width", "height", "phash")
      .groupBy(col("phash"), col("width"), col("height"))
      .agg(count(lit(1)).as("n_images"),
        min(col("doc_id")).as("first_doc"),
        count(when(col("doc_id") % 2 === 1, 1)).as("n_perturbed"))
  }

  /** m9: SCENE-CUT detection over real multi-frame video decode —
    * the classic shot-boundary heuristic (sum of absolute per-byte
    * RGB differences between consecutive decoded frames, flagged
    * when the per-pixel average difference clears a threshold),
    * computed from genuinely decoded GIF frames (the m4 fixture:
    * same palette animation per doc). The diff is pure integer
    * arithmetic and GIF is lossless, so the oracle restates every
    * transition exactly; `is_cut` keeps the threshold integral
    * (diff·4 > w·h·3·255 ⇔ mean byte diff > 63.75). Single-frame
    * docs emit no transitions.
    *
    * 100 TB shape: the frame-pair differencing happens INSIDE the
    * partition-scoped decode (frames never shuffle — the m5 window
    * contract for video); one (doc, transition) row per frame pair
    * leaves the partition. */
  def m9SceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val nf = (1 + id % 4).toInt
          val (w, h, gif) = SyntheticMedia.gifClip(id, nf)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          val rgb = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
          require(rgb.length == dec.n_frames && dec.n_frames == nf,
            s"codec frame-count disagreement for doc $id")
          (1 until nf).map { f =>
            val (pa, pb) = (rgb(f - 1)._3, rgb(f)._3)
            var diff = 0L; var i = 0
            while (i < pa.length) {
              diff += math.abs((pa(i) & 0xff) - (pb(i) & 0xff)); i += 1
            }
            (id, f, diff, diff * 4 > w.toLong * h * 3 * 255)
          }
        }
      }.toDF("doc_id", "frame_idx", "diff", "is_cut")
  }

  val m9Sql: String =
    """WITH g AS (SELECT doc_id,
      |    6 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
      |    1 + doc_id % 4 AS nf
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, CAST(f AS INT) AS frame_idx
      |  FROM g, unnest(range(1, nf)) r(f)),
      |df AS (SELECT doc_id, w, h, frame_idx,
      |    CAST(list_sum(list_transform(range(w * h), p ->
      |      abs((doc_id*7 + (frame_idx-1)*31 + p*13) % 256
      |        - (doc_id*7 + frame_idx*31 + p*13) % 256)
      |      + abs(((doc_id*7 + (frame_idx-1)*31 + p*13) % 256) * 37 % 256
      |        - ((doc_id*7 + frame_idx*31 + p*13) % 256) * 37 % 256)
      |      + abs(((doc_id*7 + (frame_idx-1)*31 + p*13) % 256) * 91 % 256
      |        - ((doc_id*7 + frame_idx*31 + p*13) % 256) * 91 % 256)))
      |      AS BIGINT) AS diff
      |  FROM fr)
      |SELECT doc_id, frame_idx, diff,
      |  diff * 4 > w * h * 3 * 255 AS is_cut
      |FROM df""".stripMargin

  /** m11: the REAL bilinear resize kernel (P7,
    * `Preprocess.resizeBilinear` — half-pixel centers, edge clamp)
    * under the cross-engine hash gate: decode GIF frame 0, resize
    * RGB to a fixed 4×5 thumbnail with the SHIPPED kernel, report
    * order-fixed aggregates of the 60 resized values. Every
    * float op is restated in the oracle — double weights, the
    * `.toFloat` store replayed as CAST(.. AS REAL), the sum folded
    * in the same ascending pixel order — so a kernel defect
    * (weight order, clamp, center convention) breaks the hash.
    * P2–P8 were spec-covered; this puts the interpolation
    * arithmetic itself under the DuckDB gate.
    *
    * 100 TB shape: same as m2/m6 — decode + resize + reduce inside
    * one partition pass; only (doc, 4 numbers) rows exit. */
  def m11Thumbnail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal, Preprocess}
    val (oh, ow) = (4, 5)
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = (1 + id % 4).toInt
          val (w, h, gif) = SyntheticMedia.gifClip(id, nf)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          require(meta.n_frames == nf, s"frame count mismatch for doc $id")
          val (dw, dh, px) =
            Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif).head
          require(dw == w && dh == h, s"dims mismatch for doc $id")
          val t = Preprocess.Tensor(h, w, 3,
            Array.tabulate(h * w * 3)(i => (px(i) & 0xff).toFloat))
          val out = Preprocess.resizeBilinear(t, oh, ow).data
          var s = 0.0; var mn = Float.MaxValue; var mx = Float.MinValue
          out.foreach { v =>
            s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          (id, w, h, s, mn.toDouble, mx.toDouble)
        }
      }.toDF("doc_id", "w", "h", "raw_sum", "min_px", "max_px")
      // round at the edge with Spark's round (proven DuckDB parity),
      // not a hand-rolled scalar rounding in the partition map
      .select(col("doc_id"), col("w"), col("h"),
        round(col("raw_sum"), 6).as("resized_sum"),
        col("min_px"), col("max_px"))
  }

  val m11Sql: String = {
    // palette channel value at pixel (yy, xx) of frame 0, as DOUBLE
    def px(yy: String, xx: String, c: String): String = {
      val idx = s"((doc_id*7 + (($yy)*w + ($xx))*13) % 256)"
      s"CAST(CASE ($c) WHEN 0 THEN $idx WHEN 1 THEN $idx*37 % 256 " +
        s"ELSE $idx*91 % 256 END AS DOUBLE)"
    }
    // the resize kernel replayed per output offset o in 0..59:
    // y = o//15, x = (o%15)//3, c = o%3 (HWC ascending order)
    val fy = "greatest(0.0, ((o // 15) + 0.5) * (h / 4.0) - 0.5)"
    val fx = "greatest(0.0, (((o % 15) // 3) + 0.5) * (w / 5.0) - 0.5)"
    val y0 = s"least(h - 1, CAST(floor($fy) AS INT))"
    val y1 = s"least(h - 1, $y0 + 1)"
    val wy = s"($fy - $y0)"
    val x0 = s"least(w - 1, CAST(floor($fx) AS INT))"
    val x1 = s"least(w - 1, $x0 + 1)"
    val wx = s"($fx - $x0)"
    val c = "(o % 3)"
    val top = s"(${px(y0, x0, c)} * (1 - $wx) + ${px(y0, x1, c)} * $wx)"
    val bot = s"(${px(y1, x0, c)} * (1 - $wx) + ${px(y1, x1, c)} * $wx)"
    val v = s"CAST($top * (1 - $wy) + $bot * $wy AS REAL)"
    s"""WITH g AS (SELECT doc_id, CAST(6 + doc_id % 9 AS INT) AS w,
       |    CAST(6 + doc_id % 5 AS INT) AS h FROM documents),
       |r AS (SELECT doc_id, w, h,
       |    list_transform(range(60), o -> $v) AS vals
       |  FROM g)
       |SELECT doc_id, w, h,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(vals, x -> CAST(x AS DOUBLE))),
       |    (a, b) -> a + b), 6) AS resized_sum,
       |  CAST(list_min(vals) AS DOUBLE) AS min_px,
       |  CAST(list_max(vals) AS DOUBLE) AS max_px
       |FROM r""".stripMargin
  }

  val m8Sql: String =
    """WITH g AS (SELECT doc_id, doc_id % 37 AS key,
      |    CAST(8 + (doc_id % 37) % 13 AS INT) AS w,
      |    CAST(8 + (doc_id % 37) % 7 AS INT) AS h
      |  FROM documents),
      |s AS (SELECT doc_id, w, h,
      |    list_transform(range(64), q ->
      |      [(key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8))*13
      |          + (doc_id % 2) * (((q // 8) * h // 8 * w + (q % 8) * w // 8) % 2))
      |          % 256,
      |       (key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8) + 1)*13
      |          + (doc_id % 2) * (((q // 8) * h // 8 * w + (q % 8) * w // 8) % 2))
      |          % 256,
      |       (key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8) + 2)*13
      |          + (doc_id % 2) * (((q // 8) * h // 8 * w + (q % 8) * w // 8) % 2))
      |          % 256]) AS pxs
      |  FROM g),
      |gr AS (SELECT doc_id, w, h,
      |    list_transform(pxs, v -> 299*v[1] + 587*v[2] + 114*v[3]) AS grays
      |  FROM s),
      |ph AS (SELECT doc_id, w, h,
      |    list_reduce(list_transform(grays,
      |        x -> CASE WHEN x * 64 > list_sum(grays) THEN '1' ELSE '0' END),
      |      (a, b) -> a || b) AS phash
      |  FROM gr)
      |SELECT phash, w AS width, h AS height, count(*) AS n_images,
      |  min(doc_id) AS first_doc,
      |  count(*) FILTER (doc_id % 2 = 1) AS n_perturbed
      |FROM ph GROUP BY 1, 2, 3""".stripMargin

  // ---- m12: audio resampling (factor-2 linear upsample) -----------

  /** m12: audio RESAMPLING under the hash gate — the rate-conversion
    * stage between decode (m3) and feature extraction (m5): each
    * document's 8 kHz PCM (the m3 synthetic waveform, really
    * WAV-encoded and really decoded back) upsamples ×2 to 16 kHz by
    * linear interpolation: out[2k] = s[k], out[2k+1] =
    * (s[k]+s[k+1])/2 with truncating integer division — the
    * midpoint stays integral, so the resampled fingerprint is
    * restatable arithmetically (DuckDB `//` truncates toward zero
    * exactly like JVM integer division, verified for negatives).
    * Output length 2n−1 (no right-edge extrapolation — the contract
    * a sample-aligned resampler wants).
    *
    * 100 TB shape: decode + resample + fingerprint all inside ONE
    * partition-scoped map — waveforms never shuffle, one row of
    * stats leaves per doc (the m3/m5 contract). */
  def m12Resample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 97).toInt
          val samples = SyntheticMedia.pcmRamp(id, n)
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(h.nSampleFrames == n, s"wav sample count mismatch for doc $id")
          val m = 2 * n - 1
          val out = new Array[Int](m)
          var i = 0
          while (i < m) {
            out(i) =
              if (i % 2 == 0) back(i / 2).toInt
              else (back((i - 1) / 2) + back((i - 1) / 2 + 1)) / 2
            i += 1
          }
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var fp = 0L
          out.foreach { s =>
            sum += s; mn = math.min(mn, s); mx = math.max(mx, s)
            fp = (fp * 31 + (s + 32768)) % 1000000007L
          }
          (id, n, m, 16000, sum, mn, mx, fp)
        }
      }.toDF("doc_id", "n_in", "n_out", "rate_out", "sum_pcm",
        "min_pcm", "max_pcm", "pcm_fp")
  }

  val m12Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n,
      |    list_transform(range(64 + doc_id % 97),
      |      i -> (doc_id * 31 + i * 97) % 65536 - 32768) AS pcm
      |  FROM documents),
      |r AS (SELECT doc_id, n,
      |    list_transform(range(2 * n - 1), i -> CASE WHEN i % 2 = 0
      |      THEN pcm[i // 2 + 1]
      |      ELSE (pcm[(i - 1) // 2 + 1] + pcm[(i - 1) // 2 + 2]) // 2
      |      END) AS up
      |  FROM s)
      |SELECT doc_id, n AS n_in, CAST(2 * n - 1 AS INT) AS n_out,
      |  16000 AS rate_out,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), up),
      |    (a, b) -> a + b) AS BIGINT) AS sum_pcm,
      |  CAST(list_min(up) AS INT) AS min_pcm,
      |  CAST(list_max(up) AS INT) AS max_pcm,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(up, v -> v + 32768)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pcm_fp
      |FROM r""".stripMargin

  // ---- m13: per-channel color histogram (real decode) -------------

  /** m13: COLOR HISTOGRAM over real compressed decode — the
    * dataset-level color-profiling primitive (tint/exposure drift,
    * duplicate-palette detection, augmentation planning): per image,
    * a 4-bin histogram per RGB channel computed from the DECODED
    * pixels of a genuine PNG (bin = value >> 6 — exact integer
    * binning, so the oracle restates the counts arithmetically and
    * a decoder defect shifts bins and breaks the hash). Output is
    * one row per NONZERO (doc, channel, bin) — sparse on both
    * engines by construction.
    *
    * 100 TB shape: the m2/m6 contract — pixels are decoded and
    * reduced to ≤12 count rows inside one partition pass; image
    * bytes never reach an exchange. */
  def m13ColorHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val (_, _, png) = SyntheticMedia.pngImage(id)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == meta.width && dh == meta.height,
            s"codec metadata/pixel disagreement for doc $id")
          val hist = Array.ofDim[Long](3, 4)
          var p = 0
          while (p < dw * dh) {
            var c = 0
            while (c < 3) {
              hist(c)((back(p * 3 + c) & 0xff) >> 6) += 1
              c += 1
            }
            p += 1
          }
          for {
            c <- 0 until 3
            b <- 0 until 4
            if hist(c)(b) > 0
          } yield (id, "rgb".charAt(c).toString, b, hist(c)(b))
        }
      }.toDF("doc_id", "channel", "bin", "cnt")
  }

  /** m14: audio LOUDNESS NORMALIZATION under the hash gate — the
    * gain-staging step between decode (m3) and features (m5): each
    * doc's decoded PCM is rescaled so its peak magnitude lands at
    * 30000, with the gain applied in INTEGER arithmetic
    * (s·30000 div maxabs, truncating division — DuckDB `//`
    * truncates toward zero exactly like the JVM for the negative
    * samples, the m12-verified property), so the normalized
    * fingerprint restates exactly. Constant-zero signals pass
    * through ungained (maxabs 0 guard). Decode + gain + fingerprint
    * in ONE partition-scoped map; one stats row out per doc. */
  def m14Normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 97).toInt
          val samples = SyntheticMedia.pcmRamp(id, n)
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(h.nSampleFrames == n, s"wav sample count mismatch for doc $id")
          var maxabs = 0L
          back.foreach(s => maxabs = math.max(maxabs, math.abs(s.toLong)))
          var peak = 0L; var fp = 0L
          back.foreach { s =>
            val v = if (maxabs == 0) s.toLong else s.toLong * 30000L / maxabs
            peak = math.max(peak, math.abs(v))
            fp = (fp * 31 + (v + 32768)) % 1000000007L
          }
          (id, n, maxabs, peak, fp)
        }
      }.toDF("doc_id", "n_samples", "max_abs_in", "peak_out", "norm_fp")
  }

  val m14Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n,
      |    list_transform(range(64 + doc_id % 97),
      |      i -> (doc_id * 31 + i * 97) % 65536 - 32768) AS pcm
      |  FROM documents),
      |m AS (SELECT doc_id, n, pcm,
      |    CAST(list_max(list_transform(pcm, v -> abs(v))) AS BIGINT)
      |      AS max_abs_in
      |  FROM s),
      |g AS (SELECT doc_id, n, max_abs_in,
      |    list_transform(pcm, v -> CASE WHEN max_abs_in = 0 THEN v
      |      ELSE (v * 30000) // max_abs_in END) AS norm
      |  FROM m)
      |SELECT doc_id, n AS n_samples, max_abs_in,
      |  CAST(list_max(list_transform(norm, v -> abs(v))) AS BIGINT)
      |    AS peak_out,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(norm, v -> v + 32768)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS norm_fp
      |FROM g""".stripMargin

  /** m15: STEREO DOWNMIX under the hash gate — the channel-layout
    * stage of an audio pipeline: a genuinely WAV-encoded 2-channel
    * interleaved stream (L = the m3 synthetic waveform, R = its
    * phase-shifted copy) is really decoded back (header channels=2
    * verified) and downmixed to mono by the truncating integer
    * midpoint (L+R) div 2 — the m12-verified JVM/DuckDB division
    * parity — so the mono fingerprint restates arithmetically.
    * Decode + downmix + fingerprint in ONE partition-scoped map. */
  def m15Downmix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 97).toInt
          val samp = SyntheticMedia.pcmRamp(id, n)
          val inter = new Array[Short](2 * n)
          var i = 0
          while (i < n) {
            inter(2 * i) = samp(i)                 // L
            inter(2 * i + 1) = samp((i + 7) % n)   // R: phase shift
            i += 1
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 2, inter)
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(h.channels == 2 && back.length == 2 * n,
            s"stereo decode mismatch for doc $id")
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var fp = 0L
          var k = 0
          while (k < n) {
            val m = (back(2 * k) + back(2 * k + 1)) / 2
            sum += m; mn = math.min(mn, m); mx = math.max(mx, m)
            fp = (fp * 31 + (m + 32768)) % 1000000007L
            k += 1
          }
          (id, n, 2, sum, mn, mx, fp)
        }
      }.toDF("doc_id", "n_frames", "channels_in", "sum_mono",
        "min_mono", "max_mono", "mono_fp")
  }

  val m15Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n FROM documents),
      |mx AS (SELECT doc_id, n,
      |    list_transform(range(n), i -> (
      |      ((doc_id * 31 + i * 97) % 65536 - 32768)
      |      + ((doc_id * 31 + ((i + 7) % n) * 97) % 65536 - 32768)) // 2)
      |      AS mono
      |  FROM s)
      |SELECT doc_id, n AS n_frames, CAST(2 AS INT) AS channels_in,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), mono),
      |    (a, b) -> a + b) AS BIGINT) AS sum_mono,
      |  CAST(list_min(mono) AS INT) AS min_mono,
      |  CAST(list_max(mono) AS INT) AS max_mono,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(mono, v -> v + 32768)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS mono_fp
      |FROM mx""".stripMargin

  val m13Sql: String =
    """WITH g AS (SELECT doc_id,
      |    8 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (SELECT doc_id,
      |    list_transform(range(w * h), p -> [
      |      (doc_id*7 + (3*p)*13) % 256,
      |      (doc_id*7 + (3*p + 1)*13) % 256,
      |      (doc_id*7 + (3*p + 2)*13) % 256]) AS pxs
      |  FROM g),
      |u AS (SELECT doc_id, 'r' AS channel, q[1] // 64 AS bin
      |    FROM px, unnest(pxs) t(q)
      |  UNION ALL SELECT doc_id, 'g', q[2] // 64 FROM px, unnest(pxs) t(q)
      |  UNION ALL SELECT doc_id, 'b', q[3] // 64 FROM px, unnest(pxs) t(q))
      |SELECT doc_id, channel, CAST(bin AS INT) AS bin, count(*) AS cnt
      |FROM u GROUP BY 1, 2, 3""".stripMargin

  // ---- m16: image NEAR-dup via banded perceptual-hash join --------

  /** m16: image NEAR-DEDUP — d2's band-join recipe applied to the
    * media family: aHash fingerprints (the m8 kernel over REAL PNG
    * encode→decode) matched under a HAMMING tolerance instead of
    * equality, candidates found by splitting the 64-bit hash into
    * 4×16-bit bands and equi-joining on any band (a pair within
    * Hamming τ must agree exactly on ≥1 band whenever its flips
    * cluster — the pigeonhole argument with ≤3 damaged bands; a
    * uniform τ=20 spread can evade all four bands, the same recall
    * contract MinHash banding makes). Odd docs carry a deterministic
    * BRIGHT PATCH (red channel saturated on the rightmost quarter of
    * each row) — a visible edit that flips several right-edge hash
    * bits AND (through the raised global mean) possibly marginal
    * bits elsewhere, so verified distances are genuinely nonzero —
    * exactly what byte dedup (d1) and exact-hash grouping (m8) both
    * miss. Output is the pair-distance histogram.
    *
    * 100 TB shape: pixels never leave the decode partition (the m2
    * contract — only the 64-char hash reaches any exchange); the
    * band explode is ×4; candidates are bounded by band-bucket
    * population (the d2 cap argument applies verbatim if a bucket
    * ever explodes); verification is a row-local 64-char compare. */
  /** the verified (doc_a, doc_b, hamming) pair relation m16 and m17
    * share — candidates via the 4×16-bit band join, Hamming verified
    * row-locally. */
  private[graft] def m16Pairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val ph = Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % 37
          val w = (8 + key % 13).toInt; val h = (8 + key % 7).toInt
          val rgb = Array.tabulate(w * h * 3) { i =>
            val p = i / 3; val c = i % 3
            val base = ((key * 7 + i * 13) % 256).toInt
            val patched = id % 2 == 1 && (p % w) * 8 >= 6 * w && c == 0
            (if (patched) 255 else base).toByte
          }
          val png = Codecs.ImageIoCodecs.encodeRgb("png", w, h, rgb)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == dec.width && dh == dec.height && dw == w && dh == h,
            s"codec metadata/pixel disagreement for doc $id")
          val grays = new Array[Long](64)
          var total = 0L
          var q = 0
          while (q < 64) {
            val sp = (q / 8) * h / 8 * w + (q % 8) * w / 8
            val g = 299L * (back(sp * 3) & 0xff) +
              587L * (back(sp * 3 + 1) & 0xff) +
              114L * (back(sp * 3 + 2) & 0xff)
            grays(q) = g; total += g; q += 1
          }
          // pack the 64 threshold bits into ONE long, bit q at
          // position (63 - q) so band b = bits [b*16, b*16+16) from
          // the MSB side — the same 16-bit windows the 64-char
          // bitstring's substring(b*16+1, 16) would carve out
          var hash = 0L
          q = 0
          while (q < 64) {
            if (grays(q) * 64 > total) hash |= 1L << (63 - q)
            q += 1
          }
          (id, w, h, hash)
        }
      }.toDF("doc_id", "width", "height", "phash")
      // the fingerprint relation is tiny (one 30-byte row per image);
      // materializing it once means the expensive ImageIO decode runs
      // ONCE instead of once per self-join side
      .snapshot()
    val bands = ph.select(col("doc_id"), col("width"), col("height"),
      col("phash"), explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bk",
        expr("shiftright(phash, (3 - band) * 16) & 65535"))
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.width") === col("b.width") &&
        col("a.height") === col("b.height") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("cast(bit_count(ph_a ^ ph_b) as bigint)"))
      .filter(col("hamming") <= 20)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def m16ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    m16Pairs(spark, dir)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), min(col("doc_a")).as("min_doc_a"))

  // ---- m17: image dedup clusters (m16 pairs -> components) --------

  /** m17: IMAGE DEDUP CLUSTERS — the d9 recipe on the media side:
    * m16's verified near-dup pair graph closed into connected
    * components (`Components.connectedComponents`, the min-label
    * propagation), one row per image in the graph with its
    * cluster id and the min-id survivor flag — the keep/drop
    * decision list an image-corpus curation run consumes. Families
    * connect THROUGH perturbed members (even A ~ odd A' ~ even B
    * chains), which per-pair grouping (m8) cannot see.
    *
    * 100 TB shape: the pair graph is band-bounded (m16), and the CC
    * fixpoint shuffles one (node, label) row per graph node per
    * round — O(diameter) rounds; large-star/small-star is the
    * documented escalation for deep chains (Components scaladoc). */
  def m17ImageClusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Components.connectedComponents(
      m16Pairs(spark, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("node").as("doc_id"), col("cluster"),
        (col("node") === col("cluster")).as("survivor"))

  // ---- m18: audio near-dup via banded energy-probe hash -----------

  /** m18: AUDIO NEAR-DEDUP — the m16 recipe on the audio column,
    * completing near-dup across every modality the engine carries
    * (text d2/d4, embeddings d5/d7, images m16, audio here): docs
    * sharing `doc_id % 37` synthesize the SAME PCM tone (really
    * WAV-encoded and really decoded back — PCM16 is lossless, so
    * the oracle restates the waveform arithmetically); odd docs get
    * a CONSTANT-TONE REPLACEMENT on the last quarter of samples (a
    * re-mastered/ad-insert tail edit). The fingerprint probes 64
    * sample positions and thresholds each |amplitude| against the
    * probe mean (integral: a·64 > total); candidates come from the
    * 4×16-bit band join and verify under Hamming ≤ 20 row-locally.
    * Output is the pair-distance histogram (the m16 shape).
    *
    * 100 TB shape: samples never leave the decode partition — only
    * the 64-char hash and band keys reach an exchange; band-bucket
    * population bounds the candidate count (the d2 cap argument). */
  def m18AudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val ph = Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % 37
          val n = (64 + key).toInt
          val samples = Array.tabulate(n) { i =>
            val base = ((key * 31 + i.toLong * 97) % 65536 - 32768).toShort
            if (id % 2 == 1 && i * 4 >= 3 * n) 16384.toShort else base
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && h.nSampleFrames == n,
            s"wav sample count mismatch for doc $id")
          val probes = Array.tabulate(64) { q =>
            math.abs(back(q * n / 64).toLong)
          }
          val total = probes.sum
          // same bit packing as m16: bit q at (63 - q), so the four
          // 16-bit MSB-side windows are the band keys
          var hash = 0L
          var q = 0
          while (q < 64) {
            if (probes(q) * 64 > total) hash |= 1L << (63 - q)
            q += 1
          }
          (id, n, hash)
        }
      }.toDF("doc_id", "n_samples", "ahash")
      .snapshot()
    val bands = ph.select(col("doc_id"), col("n_samples"), col("ahash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bk",
        expr("shiftright(ahash, (3 - band) * 16) & 65535"))
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.n_samples") === col("b.n_samples") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ahash").as("ph_a"), col("b.ahash").as("ph_b"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("cast(bit_count(ph_a ^ ph_b) as bigint)"))
      .filter(col("hamming") <= 20)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), min(col("doc_a")).as("min_doc_a"))
  }

  val m18Sql: String =
    """WITH g AS (SELECT doc_id, doc_id % 37 AS key,
      |    CAST(64 + doc_id % 37 AS INT) AS n FROM documents),
      |pr AS (SELECT doc_id, n,
      |    list_transform(range(64), q ->
      |      abs(CASE WHEN doc_id % 2 = 1 AND (q * n // 64) * 4 >= 3 * n
      |        THEN 16384
      |        ELSE (key * 31 + (q * n // 64) * 97) % 65536 - 32768
      |        END)) AS probes
      |  FROM g),
      |ph AS (SELECT doc_id, n,
      |    list_reduce(list_transform(probes,
      |        x -> CASE WHEN x * 64 > list_sum(probes) THEN '1' ELSE '0'
      |          END),
      |      (a, b) -> a || b) AS ahash
      |  FROM pr),
      |bands AS (SELECT doc_id, n, ahash, b,
      |    substr(ahash, b * 16 + 1, 16) AS bk
      |  FROM ph, LATERAL (SELECT unnest(range(4)) AS b) t),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.ahash AS ph_a, b.ahash AS ph_b
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bk = b.bk AND a.n = b.n
      |    AND a.doc_id < b.doc_id),
      |hd AS (SELECT doc_a, doc_b,
      |    CAST(list_sum(list_transform(range(64), i ->
      |      CASE WHEN substr(ph_a, i + 1, 1) <> substr(ph_b, i + 1, 1)
      |        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      |  FROM cand)
      |SELECT hamming, count(*) AS n_pairs, min(doc_a) AS min_doc_a
      |FROM hd WHERE hamming <= 20 GROUP BY 1""".stripMargin

  lazy val m17Sql: String = {
    val ctes = m16Sql.substring(0, m16Sql.lastIndexOf("SELECT hamming,"))
      .trim.replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$ctes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM hd
       |  WHERE hamming <= 20),
       |sym AS (SELECT a, b FROM edges UNION
       |  SELECT b AS a, a AS b FROM edges),
       |reach(node, lab) AS (
       |  SELECT DISTINCT a AS node, a AS lab FROM sym
       |  UNION
       |  SELECT s.a AS node, r.lab FROM sym s JOIN reach r ON r.node = s.b
       |)
       |SELECT node AS doc_id, min(lab) AS cluster,
       |  node = min(lab) AS survivor
       |FROM reach GROUP BY node""".stripMargin
  }

  // ---- m20: Walsh spectral fingerprint (sequency domain) -----------

  /** m20: WALSH SPECTRUM — frequency-domain (strictly: sequency-
    * domain) audio feature extraction over REAL WAV decode: the
    * first 64 genuinely-decoded PCM samples transform through the
    * Walsh–Hadamard basis, W_k = Σ_n x_n·(−1)^popcount(k AND n) for
    * k < 8 — a true orthogonal spectral transform whose basis is ±1,
    * so unlike a Fourier DFT (whose cos/sin make the result hostage
    * to each engine's libm) every coefficient is an EXACT INTEGER
    * and the driver's hash gate applies to spectral analysis. The
    * per-doc dominant sequency (argmax |W_k|, k>0, ties to the
    * smaller k) is the pitch-class proxy m5's time-domain
    * energy/ZCR windows cannot see. m5 (time), m10 (silence), m12
    * (resample), m14 (gain) and this close the classic audio
    * feature chain.
    *
    * 100 TB shape: decode + transform inside ONE partition-scoped
    * map (samples never shuffle); 8 integer rows per doc leave. */
  def m20WalshSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val key = id % 37
          val n = (64 + key).toInt
          val samples = Array.tabulate(n) { i =>
            val base = ((key * 31 + i.toLong * 97) % 65536 - 32768).toShort
            if (id % 2 == 1 && i * 4 >= 3 * n) 16384.toShort else base
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (h, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && h.nSampleFrames == n,
            s"wav sample count mismatch for doc $id")
          val w = Array.tabulate(8) { k =>
            var acc = 0L
            var i = 0
            while (i < 64) {
              val sgn = 1 - 2 * (java.lang.Long.bitCount((k & i).toLong) & 1)
              acc += back(i).toLong * sgn
              i += 1
            }
            acc
          }
          val dom = (1 until 8).minBy(k => (-math.abs(w(k)), k))
          (0 until 8).map(k => (id, k, w(k), k == dom))
        }
      }.toDF("doc_id", "k", "coeff", "is_dominant")
  }

  val m20Sql: String =
    """WITH g AS (SELECT doc_id, doc_id % 37 AS key,
      |    CAST(64 + doc_id % 37 AS INT) AS n FROM documents),
      |sp AS (SELECT doc_id, key, n, CAST(k AS INT) AS k,
      |    CAST(list_sum(list_transform(range(64), i ->
      |      (CASE WHEN doc_id % 2 = 1 AND i * 4 >= 3 * n THEN 16384
      |        ELSE (key * 31 + i * 97) % 65536 - 32768 END)
      |      * (1 - 2 * (bit_count(CAST(k AS BIGINT) & CAST(i AS BIGINT))
      |          % 2)))) AS BIGINT) AS coeff
      |  FROM g, unnest(range(8)) r(k)),
      |dm AS (SELECT doc_id,
      |    first(k ORDER BY abs(coeff) DESC, k) FILTER (k > 0) AS dom
      |  FROM sp GROUP BY 1)
      |SELECT sp.doc_id, sp.k, sp.coeff, sp.k = dm.dom AS is_dominant
      |FROM sp JOIN dm ON dm.doc_id = sp.doc_id""".stripMargin

  // ---- m21: augmentation chain under the hash gate -----------------

  /** m21: IMAGE AUGMENTATION — the training-data transforms
    * (horizontal flip, 90° clockwise rotation, 1-px center crop)
    * applied to genuinely PNG-decoded pixels with the shipped
    * `Preprocess.Augment` kernels, each output fingerprinted by the
    * poly fold ((acc·31 + byte) mod 1e9+7) over its row-major bytes.
    * Augmentations are pure integer pixel PERMUTATIONS, so — unlike
    * the float resize (m11) — the oracle restates every output byte
    * exactly through the index mapping and the driver's hash gate
    * covers the whole chain: a decoder defect, a mapping off-by-one,
    * or a channel swap all break the hash.
    *
    * 100 TB shape: decode + all three transforms + fingerprints in
    * ONE partition-scoped map; three (doc, aug) rows leave. */
  def m21Augment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal, Preprocess}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        def fp(bytes: Array[Byte]): Long = {
          var acc = 0L
          var i = 0
          while (i < bytes.length) {
            acc = (acc * 31 + (bytes(i) & 0xff)) % 1000000007L
            i += 1
          }
          acc
        }
        it.flatMap { id =>
          val key = id % 37
          val w = (8 + key % 13).toInt; val h = (8 + key % 7).toInt
          val rgb = Array.tabulate(w * h * 3)(i =>
            ((key * 11 + i * 17) % 256).toByte)
          val png = Codecs.ImageIoCodecs.encodeRgb("png", w, h, rgb)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "image", png))
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == w && dh == h && dec.width == w,
            s"codec dims disagreement for doc $id")
          Seq(
            (id, "hflip", w, h, fp(Preprocess.Augment.hflip(w, h, back))),
            (id, "rot90", h, w, fp(Preprocess.Augment.rot90cw(w, h, back))),
            (id, "crop", w - 2, h - 2,
              fp(Preprocess.Augment.centerCrop(w, h, back))))
        }
      }.toDF("doc_id", "aug", "out_w", "out_h", "phash")
  }

  val m21Sql: String = {
    def leg(aug: String, outW: String, outH: String, srcK: String) =
      s"""SELECT doc_id, '$aug' AS aug, CAST($outW AS INT) AS out_w,
         |  CAST($outH AS INT) AS out_h,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(($outW) * ($outH) * 3), j ->
         |      (key*11 + ($srcK)*17) % 256)),
         |    (a, b) -> (a*31 + b) % 1000000007) AS phash
         |FROM g""".stripMargin
    val flip = leg("hflip", "w", "h",
      "3*((j//3//w)*w + (w-1 - (j//3)%w)) + j%3")
    val rot = leg("rot90", "h", "w",
      "3*((h-1 - (j//3)%h)*w + (j//3)//h) + j%3")
    val crop = leg("crop", "w-2", "h-2",
      "3*(((j//3)//(w-2) + 1)*w + ((j//3)%(w-2) + 1)) + j%3")
    s"""WITH g AS (SELECT doc_id, doc_id % 37 AS key,
       |    CAST(8 + (doc_id % 37) % 13 AS INT) AS w,
       |    CAST(8 + (doc_id % 37) % 7 AS INT) AS h
       |  FROM documents)
       |$flip
       |UNION ALL
       |$rot
       |UNION ALL
       |$crop""".stripMargin
  }

  // ---- m19: video near-dup via shared-frame-hash blocking ----------

  /** m19: VIDEO NEAR-DEDUP (clip detection) — the m16/m18 recipe
    * lifted from one hash per asset to a SET of per-frame hashes:
    * each doc synthesizes its family's GIF animation (families share
    * `doc_id % 37`; frames really encode and really decode through
    * the GIF codec), odd docs carry a TAIL EDIT (the last frame
    * replaced by an inserted "ad card"), and every decoded frame gets
    * the m8 aHash. Candidates are pairs sharing AT LEAST ONE exact
    * frame hash (the containment-blocking equi-join — the shape
    * YouTube-style content matching uses: any common frame is the
    * candidate signal), verified row-locally by the codegen'd
    * `intersect_count` merge over the sorted hash sets; the report is
    * the integral frame-set-Jaccard histogram. Clean family twins
    * land at 100; tail-edited variants at the (n-1)/(n+1) bucket —
    * the near-dup evidence byte dedup (d1) and whole-asset hashing
    * (m8/m16) both miss.
    *
    * 100 TB shape: pixels never leave the partition-scoped decode —
    * only ≤ n_frames longs per video reach an exchange; the
    * candidate join is keyed by frame hash with bucket population
    * bounded by family size (the d2 cap argument); verification is
    * a row-local merge over two tiny sorted arrays. */
  def m19VideoNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val fp = Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        import SyntheticMedia.{palR, palG, palB}
        def aHash(w: Int, h: Int, px: Array[Byte]): Long = {
          val grays = new Array[Long](64)
          var total = 0L
          var q = 0
          while (q < 64) {
            val sp = (q / 8) * h / 8 * w + (q % 8) * w / 8
            val g = 299L * (px(sp * 3) & 0xff) +
              587L * (px(sp * 3 + 1) & 0xff) +
              114L * (px(sp * 3 + 2) & 0xff)
            grays(q) = g; total += g; q += 1
          }
          var hash = 0L
          q = 0
          while (q < 64) {
            if (grays(q) * 64 > total) hash |= 1L << (63 - q)
            q += 1
          }
          hash
        }
        it.map { id =>
          val key = id % 37
          val w = (8 + key % 9).toInt; val h = (8 + key % 5).toInt
          val nf = (2 + key % 3).toInt
          val frames = (0 until nf).map { f =>
            if (id % 2 == 1 && f == nf - 1)
              Array.tabulate(w * h)(i => ((i * 29) % 256).toByte)
            else
              Array.tabulate(w * h)(i => ((key * 7 + f * 31 + i * 13) % 256).toByte)
          }
          val gif = Codecs.ImageIoCodecs.GifCodec.encodeIndexedFrames(
            w, h, palR, palG, palB, frames)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          val rgb = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
          require(rgb.length == nf && dec.n_frames == nf,
            s"codec frame-count disagreement for doc $id")
          val hashes = rgb.map { case (fw, fh, px) => aHash(fw, fh, px) }
            .distinct.sorted.toArray
          (id, hashes.length, hashes)
        }
      }.toDF("doc_id", "n_hashes", "fhashes")
      .snapshot()
    val ex = fp.select(col("doc_id"), col("n_hashes"), col("fhashes"),
      explode(col("fhashes")).as("fh"))
    val cand = ex.alias("a")
      .join(ex.alias("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fhashes").as("fa"), col("b.fhashes").as("fb"),
        col("a.n_hashes").as("na"), col("b.n_hashes").as("nb"))
      .distinct()
    cand
      .withColumn("inter",
        expr("cast(intersect_count(fa, fb) as bigint)"))
      .withColumn("jaccard_pct",
        expr("(inter * 100) div (na + nb - inter)"))
      .groupBy(col("jaccard_pct"))
      .agg(count(lit(1)).as("n_pairs"), min(col("doc_a")).as("min_doc_a"))
  }

  val m19Sql: String = {
    // sp = the q-th 8x8 subsample pixel; iv = its palette index under
    // the family/ad-card content rule; gray = BT.601 over the palette
    def iv(q: String): String =
      s"(CASE WHEN doc_id % 2 = 1 AND f = nf - 1" +
        s" THEN ((($q//8)*h//8*w + ($q%8)*w//8) * 29) % 256" +
        s" ELSE (key*7 + f*31 + (($q//8)*h//8*w + ($q%8)*w//8)*13) % 256 END)"
    def gray(q: String): String =
      s"(299*${iv(q)} + 587*((${iv(q)}*37)%256) + 114*((${iv(q)}*91)%256))"
    s"""WITH g AS (SELECT doc_id, doc_id % 37 AS key,
      |    CAST(8 + (doc_id % 37) % 9 AS INT) AS w,
      |    CAST(8 + (doc_id % 37) % 5 AS INT) AS h,
      |    CAST(2 + (doc_id % 37) % 3 AS INT) AS nf
      |  FROM documents),
      |fr AS (SELECT doc_id, key, w, h, nf, CAST(f AS INT) AS f
      |  FROM g, unnest(range(nf)) r(f)),
      |gr AS (SELECT doc_id, f,
      |    list_transform(range(64), q -> ${gray("q")}) AS grays
      |  FROM fr),
      |ph AS (SELECT doc_id, f,
      |    list_reduce(list_transform(grays,
      |        x -> CASE WHEN x * 64 > list_sum(grays) THEN '1' ELSE '0'
      |          END),
      |      (a, b) -> a || b) AS fh
      |  FROM gr),""".stripMargin +
    """
      |fs AS (SELECT doc_id, list_sort(list_distinct(list(fh))) AS fhs,
      |    count(DISTINCT fh) AS n FROM ph GROUP BY 1),
      |ex AS (SELECT doc_id, n, fhs, unnest(fhs) AS fh FROM fs),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.fhs AS fa, b.fhs AS fb, a.n AS na, b.n AS nb
      |  FROM ex a JOIN ex b ON a.fh = b.fh AND a.doc_id < b.doc_id),
      |iv AS (SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(fa, fb)) AS BIGINT) AS inter, na, nb
      |  FROM cand)
      |SELECT (inter * 100) // (na + nb - inter) AS jaccard_pct,
      |  count(*) AS n_pairs, min(doc_a) AS min_doc_a
      |FROM iv GROUP BY 1""".stripMargin
  }

  val m16Sql: String =
    """WITH g AS (SELECT doc_id, doc_id % 37 AS key,
      |    CAST(8 + (doc_id % 37) % 13 AS INT) AS w,
      |    CAST(8 + (doc_id % 37) % 7 AS INT) AS h
      |  FROM documents),
      |s AS (SELECT doc_id, w, h,
      |    list_transform(range(64), q ->
      |      [CASE WHEN doc_id % 2 = 1
      |          AND (((q // 8) * h // 8 * w + (q % 8) * w // 8) % w) * 8
      |            >= 6 * w
      |        THEN 255
      |        ELSE (key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8))*13)
      |          % 256 END,
      |       (key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8) + 1)*13)
      |         % 256,
      |       (key*7 + (3*((q // 8) * h // 8 * w + (q % 8) * w // 8) + 2)*13)
      |         % 256]) AS pxs
      |  FROM g),
      |gr AS (SELECT doc_id, w, h,
      |    list_transform(pxs, v -> 299*v[1] + 587*v[2] + 114*v[3]) AS grays
      |  FROM s),
      |ph AS (SELECT doc_id, w, h,
      |    list_reduce(list_transform(grays,
      |        x -> CASE WHEN x * 64 > list_sum(grays) THEN '1' ELSE '0' END),
      |      (a, b) -> a || b) AS phash
      |  FROM gr),
      |bands AS (SELECT doc_id, w, h, phash, b,
      |    substr(phash, b * 16 + 1, 16) AS bk
      |  FROM ph, LATERAL (SELECT unnest(range(4)) AS b) t),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.phash AS ph_a, b.phash AS ph_b
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bk = b.bk AND a.w = b.w AND a.h = b.h
      |    AND a.doc_id < b.doc_id),
      |hd AS (SELECT doc_a, doc_b,
      |    CAST(list_sum(list_transform(range(64), i ->
      |      CASE WHEN substr(ph_a, i + 1, 1) <> substr(ph_b, i + 1, 1)
      |        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      |  FROM cand)
      |SELECT hamming, count(*) AS n_pairs, min(doc_a) AS min_doc_a
      |FROM hd WHERE hamming <= 20 GROUP BY 1""".stripMargin
  // ---- m22: ViT-style patch grid features --------------------------

  /** m22: PATCH-GRID FEATURE EXTRACTION over real compressed decode —
    * the ViT/patch-embedding front-end shape: decode a genuine PNG,
    * split the image into a 2x2 patch grid (integer halving, odd
    * columns/rows to the high patch), and reduce each patch to exact
    * integer features (pixel count, BT.601 luminance sum, peak
    * luminance). This is the stage between m2's whole-image decode
    * and a patch-token model: the features that drive patch-level
    * filtering (drop flat patches, rank salient ones) before any
    * tensor leaves the pipeline. Integer arithmetic end-to-end; PNG
    * is lossless, so the oracle restates the per-patch reductions
    * from the same deterministic pixel function and a decoder defect
    * breaks the hash.
    *
    * 100 TB shape: the m2/m5/m6 contract — pixels are decoded and
    * reduced to 4 feature rows inside ONE partition-scoped pass;
    * image bytes never reach an exchange, and the output is 4 rows
    * per image no matter the resolution. */
  def m22PatchGrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val (w, h, png) = SyntheticMedia.pngImage(id)
          val (dw, dh, back) = Codecs.ImageIoCodecs.decodeRgb(png)
          require(dw == w && dh == h, s"decode dims disagree for doc $id")
          val nPx = new Array[Long](4)
          val sum = new Array[Long](4)
          val mx = new Array[Long](4)
          var p = 0
          while (p < dw * dh) {
            val x = p % dw; val y = p / dw
            val idx = (if (y >= dh / 2) 2 else 0) + (if (x >= dw / 2) 1 else 0)
            val r = back(p * 3) & 0xff
            val g = back(p * 3 + 1) & 0xff
            val b = back(p * 3 + 2) & 0xff
            val lum = 299L * r + 587L * g + 114L * b
            nPx(idx) += 1; sum(idx) += lum
            if (lum > mx(idx)) mx(idx) = lum
            p += 1
          }
          (0 until 4).map(i =>
            (id, i / 2, i % 2, nPx(i), sum(i), mx(i)))
        }
      }.toDF("doc_id", "patch_row", "patch_col", "n_px", "sum_lum",
        "max_lum")
  }

  val m22Sql: String =
    """WITH g AS (SELECT doc_id,
      |    8 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (SELECT doc_id,
      |    CASE WHEN (p // w) >= h // 2 THEN 1 ELSE 0 END AS patch_row,
      |    CASE WHEN (p % w) >= w // 2 THEN 1 ELSE 0 END AS patch_col,
      |    299 * ((doc_id*7 + (3*p)*13) % 256)
      |      + 587 * ((doc_id*7 + (3*p + 1)*13) % 256)
      |      + 114 * ((doc_id*7 + (3*p + 2)*13) % 256) AS lum
      |  FROM g, unnest(range(w * h)) r(p))
      |SELECT doc_id, CAST(patch_row AS INT) AS patch_row,
      |  CAST(patch_col AS INT) AS patch_col,
      |  count(*) AS n_px,
      |  CAST(sum(lum) AS BIGINT) AS sum_lum,
      |  CAST(max(lum) AS BIGINT) AS max_lum
      |FROM px GROUP BY 1, 2, 3""".stripMargin
  // ---- m23: compressed-video temporal motion ------------------------

  /** m23: TEMPORAL MOTION over real compressed video decode — each
    * doc synthesizes its deterministic multi-frame animated GIF (the
    * m4 shapes), REALLY decodes every frame back through the JDK's
    * LZW pipeline, and reduces consecutive-frame pairs to exact
    * integer motion energy (sum of absolute BT.601 luminance deltas)
    * with per-doc totals and the peak step. This is m9's scene-cut
    * statistic applied THROUGH an inter-frame compressed container
    * rather than to raw Y4M — the temporal-analysis half of the
    * decodebin contract, under the hash gate because GIF is
    * lossless. Single-frame docs carry integer zeros, never NULL.
    *
    * 100 TB shape: the m2/m6 contract — all frames of a video are
    * decoded and differenced inside ONE partition-scoped pass, and
    * 5 small integers per video reach the exchange. */
  def m23GifMotion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = (1 + id % 4).toInt
          val (w, h, gif) = SyntheticMedia.gifClip(id, nf)
          val decoded = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
          require(decoded.length == nf, s"frame count for doc $id")
          val lums = decoded.map { case (fw, fh, rgb) =>
            require(fw == w && fh == h, s"frame dims for doc $id")
            Array.tabulate(fw * fh)(p =>
              299L * (rgb(p * 3) & 0xff) + 587L * (rgb(p * 3 + 1) & 0xff) +
                114L * (rgb(p * 3 + 2) & 0xff))
          }
          var tot = 0L; var mx = 0L
          var f = 0
          while (f < lums.length - 1) {
            var st = 0L; var i = 0
            while (i < lums(f).length) {
              st += math.abs(lums(f + 1)(i) - lums(f)(i)); i += 1
            }
            tot += st; if (st > mx) mx = st
            f += 1
          }
          (id, nf, (nf - 1).toLong, tot, mx)
        }
      }.toDF("doc_id", "n_frames", "n_steps", "total_motion",
        "max_step_motion")
  }

  val m23Sql: String =
    """WITH g AS (SELECT doc_id, 6 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
      |    1 + doc_id % 4 AS nf
      |  FROM documents),
      |mo AS (SELECT doc_id, f,
      |    CAST(list_sum(list_transform(range(w * h), i ->
      |      abs((299 * ((doc_id*7 + (f+1)*31 + i*13) % 256)
      |         + 587 * (((doc_id*7 + (f+1)*31 + i*13) % 256) * 37 % 256)
      |         + 114 * (((doc_id*7 + (f+1)*31 + i*13) % 256) * 91 % 256))
      |        - (299 * ((doc_id*7 + f*31 + i*13) % 256)
      |         + 587 * (((doc_id*7 + f*31 + i*13) % 256) * 37 % 256)
      |         + 114 * (((doc_id*7 + f*31 + i*13) % 256) * 91 % 256)))))
      |      AS BIGINT) AS motion
      |  FROM g, unnest(range(nf - 1)) r(f)),
      |a AS (SELECT doc_id, CAST(sum(motion) AS BIGINT) AS total_motion,
      |    CAST(max(motion) AS BIGINT) AS max_step_motion
      |  FROM mo GROUP BY 1)
      |SELECT g.doc_id, CAST(nf AS INT) AS n_frames,
      |  CAST(nf - 1 AS BIGINT) AS n_steps,
      |  coalesce(a.total_motion, 0) AS total_motion,
      |  coalesce(a.max_step_motion, 0) AS max_step_motion
      |FROM g LEFT JOIN a USING (doc_id)""".stripMargin

  // ---- m25: shot segmentation + keyframe selection ----------------

  /** m25: SHOT KEYFRAMES — the selection stage downstream of m9's
    * cut detection: frames group into SHOTS at cut boundaries
    * (adjacent-frame diff beyond the m9 threshold starts a new
    * shot), and each shot elects one REPRESENTATIVE frame — the
    * argmax of integer DETAIL ENERGY (sum of absolute adjacent-pixel
    * channel deltas over the decoded RGB raster; ties to the
    * earliest frame). This is the thumbnail/sampling decision a
    * video curation pipeline makes per shot — m7 samples frames
    * blindly by stride, m25 samples by CONTENT. Multi-frame GIFs
    * really encode and really decode (the m4/m9/m23 lossless-LZW
    * gate); cuts, shots, keyframes, and detail energies all restate
    * arithmetically in the oracle.
    *
    * 100 TB shape: the m5/m10 contract — all of a video's frames
    * decode and reduce inside ONE partition-scoped pass; only
    * (doc, shot) rows reach the exchange. */
  def m25ShotKeyframes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val nf = (2 + id % 7).toInt
          val (w, h, gif) = SyntheticMedia.gifClip(id, nf)
          val dec = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", gif))
          val rgb = Codecs.ImageIoCodecs.GifCodec.extractAllFramesRgb(gif)
          require(rgb.length == dec.n_frames && dec.n_frames == nf,
            s"codec frame-count disagreement for doc $id")
          val px = rgb.map(_._3)
          def detail(f: Int): Long = {
            val b = px(f); var e = 0L; var p = 0
            while (p < w * h - 1) {
              var c = 0
              while (c < 3) {
                e += math.abs((b(3 * p + c) & 0xff) - (b(3 * p + 3 + c) & 0xff))
                c += 1
              }
              p += 1
            }
            e
          }
          def frameDiff(f: Int): Long = {
            val (pa, pb) = (px(f - 1), px(f)); var d = 0L; var i = 0
            while (i < pa.length) {
              d += math.abs((pa(i) & 0xff) - (pb(i) & 0xff)); i += 1
            }
            d
          }
          val shots = Seq.newBuilder[(Long, Int, Int, Int, Int, Int, Long)]
          var shot = 0; var f = 0
          while (f < nf) {
            val start = f
            var bestF = f; var bestD = detail(f)
            f += 1
            while (f < nf && !(frameDiff(f) * 4 > w.toLong * h * 3 * 255)) {
              val d = detail(f)
              if (d > bestD) { bestD = d; bestF = f }
              f += 1
            }
            shot += 1
            shots += ((id, shot, start, f - 1, f - start, bestF, bestD))
          }
          shots.result()
        }
      }.toDF("doc_id", "shot_idx", "f_start", "f_end", "n_frames",
        "key_frame", "key_detail")
  }

  val m25Sql: String = {
    def ch(expr: String, mul: Int): String =
      if (mul == 1) s"($expr) % 256" else s"(($expr) % 256) * $mul % 256"
    def pixDiff(fa: String, fb: String, p: String): String =
      Seq(1, 37, 91).map { m =>
        s"abs(${ch(s"doc_id*7 + ($fa)*31 + ($p)*13", m)} - " +
          s"${ch(s"doc_id*7 + ($fb)*31 + ($p)*13", m)})"
      }.mkString(" + ")
    s"""WITH g AS (SELECT doc_id, 6 + doc_id % 9 AS w,
       |    6 + doc_id % 5 AS h, 2 + doc_id % 7 AS nf
       |  FROM documents),
       |fr AS (SELECT doc_id, w, h, CAST(f AS INT) AS f
       |  FROM g, unnest(range(nf)) r(f)),
       |dt AS (SELECT doc_id, w, h, f,
       |    CAST(list_sum(list_transform(range(w * h - 1), p ->
       |      ${Seq(1, 37, 91).map(m =>
      s"abs(${ch("doc_id*7 + f*31 + p*13", m)} - ${ch("doc_id*7 + f*31 + (p+1)*13", m)})")
        .mkString(" + ")})) AS BIGINT) AS detail,
       |    CASE WHEN f = 0 THEN 0 WHEN
       |      CAST(list_sum(list_transform(range(w * h), p ->
       |        ${pixDiff("f - 1", "f", "p")})) AS BIGINT) * 4
       |        > w * h * 3 * 255
       |      THEN 1 ELSE 0 END AS is_new_shot
       |  FROM fr),
       |sh AS (SELECT doc_id, f, detail,
       |    CAST(sum(is_new_shot) OVER (PARTITION BY doc_id ORDER BY f)
       |      + 1 AS INT) AS shot_idx
       |  FROM dt),
       |gr AS (SELECT doc_id, shot_idx, CAST(min(f) AS INT) AS f_start,
       |    CAST(max(f) AS INT) AS f_end, CAST(count(*) AS INT) AS n_frames
       |  FROM sh GROUP BY 1, 2),
       |ky AS (SELECT doc_id, shot_idx, CAST(f AS INT) AS key_frame,
       |    detail AS key_detail
       |  FROM (SELECT doc_id, shot_idx, f, detail, row_number() OVER (
       |      PARTITION BY doc_id, shot_idx
       |      ORDER BY detail DESC, f) AS rn FROM sh)
       |  WHERE rn = 1)
       |SELECT gr.doc_id, gr.shot_idx, f_start, f_end, n_frames,
       |  key_frame, key_detail
       |FROM gr JOIN ky ON ky.doc_id = gr.doc_id
       |  AND ky.shot_idx = gr.shot_idx""".stripMargin
  }

  // ---- m24: audio fingerprint matching (constellation + offset vote)

  /** m24: AUDIO FINGERPRINT MATCHING — find WHERE a short audio
    * snippet occurs inside a longer track at an UNKNOWN offset, the
    * Shazam-style retrieval m18's whole-file hash cannot express
    * (one tail edit or a clip boundary shifts every whole-file
    * probe; a landmark constellation only needs SOME aligned windows
    * to agree). Docs with `id % 4 == 3` are SNIPPETS: 128 samples
    * cut from the track waveform of key `id % 23` at window-aligned
    * offset `(id % 5)·16`; every other doc is a TRACK of
    * `192 + key·8` samples. The waveform is the SQUARED residue
    * t² mod 65521 of the affine ramp t = key·31 + i·97 — the
    * squaring is essential: an affine-in-(key,i) signal makes the
    * linear fingerprint fold correlated ACROSS keys (every key pair
    * is a near-alias and false landmarks accumulate at consistent
    * deltas), while the quadratic residue decorrelates keys so only
    * a genuine occurrence can stack ≥ 4 aligned votes. Both sides
    * really WAV-encode and decode (PCM16 lossless, the m3/m5 gate),
    * then hash each run of three consecutive 16-sample windows into
    * a landmark (fp(w)·251² + fp(w+1)·251 + fp(w+2), fp =
    * positional fold mod 251 of the decoded samples; the fold uses
    * the raw unsigned sample so fp is a pure function of the
    * decoded PCM). Matching joins snippet landmarks
    * to track landmarks on the hash and VOTES on the window delta
    * dt = w_track − w_snippet: the true alignment accumulates one
    * vote per surviving landmark while chance collisions scatter, so
    * the per-snippet argmax (votes desc, track, dt) with a ≥ 4-vote
    * floor recovers (source track, offset) exactly.
    *
    * 100 TB shape: waveforms never leave the partition-scoped decode
    * (the m5 contract) — only (doc, window, hash) landmark rows
    * reach the ONE hash-keyed equi-join; votes partial-aggregate on
    * (snippet, track, dt) before the per-snippet WindowGroupLimit
    * argmax. Landmark rows are ~1/16th of sample count, and the
    * join key space (251³) keeps chance-collision fan-out flat. */
  def m24AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    val win = 16
    val lm = Tables.spread(Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val snip = id % 4 == 3
          val key = id % 23
          val n = if (snip) 128 else (192 + key * 8).toInt
          val off = if (snip) (id % 5).toInt * win else 0
          val samples = Array.tabulate(n) { i =>
            val t = (key * 31 + (off + i.toLong) * 97) % 65521
            ((t * t % 65521) - 32768).toShort
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (_, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && back.length == n,
            s"wav sample count mismatch for doc $id")
          val nw = n / win
          val fp = Array.tabulate(nw) { w =>
            var acc = 0L
            var j = 0
            while (j < win) {
              acc += (back(w * win + j).toLong + 32768L) * (j + 1)
              j += 1
            }
            acc % 251
          }
          (0 until nw - 2).map { w =>
            (id, snip, w, fp(w) * 63001L + fp(w + 1) * 251L + fp(w + 2))
          }
        }
      }.toDF("doc_id", "is_snip", "w", "h")
      .snapshot()
    val t = lm.filter(!col("is_snip"))
      .select(col("doc_id").as("track_id"), col("w").as("tw"), col("h"))
    val s = lm.filter(col("is_snip"))
      .select(col("doc_id").as("snip_id"), col("w").as("sw"), col("h"))
    val votes = s.join(t, Seq("h"))
      .groupBy(col("snip_id"), col("track_id"),
        (col("tw") - col("sw")).as("dt_windows"))
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("snip_id"))
      .orderBy(col("n_votes").desc, col("track_id"), col("dt_windows"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("n_votes") >= 4)
      .select(col("snip_id"), col("track_id"), col("dt_windows"),
        col("n_votes"))
  }

  private def m24FpSql(keyExpr: String, idxExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(16), j -> " +
      s"((($keyExpr * 31 + ($idxExpr) * 97) % 65521) " +
      s"* (($keyExpr * 31 + ($idxExpr) * 97) % 65521) % 65521) " +
      s"* (j + 1))), " +
      s"(a, b) -> a + b) % 251"

  val m24Sql: String = {
    def h(base: String): String =
      (0 to 2).map { d =>
        val mult = Seq("63001", "251", "1")(d)
        s"(${m24FpSql("key", s"$base + (w + $d) * 16 + j")}) * $mult"
      }.mkString(" + ")
    s"""WITH tr AS (SELECT doc_id AS track_id, doc_id % 23 AS key,
       |    CAST(192 + (doc_id % 23) * 8 AS INT) AS n
       |  FROM documents WHERE doc_id % 4 <> 3),
       |tl AS (SELECT track_id, CAST(w AS INT) AS tw,
       |    CAST(${h("0")} AS BIGINT) AS h
       |  FROM tr, unnest(range(n // 16 - 2)) r(w)),
       |sn AS (SELECT doc_id AS snip_id, doc_id % 23 AS key,
       |    (doc_id % 5) * 16 AS off
       |  FROM documents WHERE doc_id % 4 = 3),
       |sl AS (SELECT snip_id, CAST(w AS INT) AS sw,
       |    CAST(${h("off")} AS BIGINT) AS h
       |  FROM sn, unnest(range(8 - 2)) r(w)),
       |vt AS (SELECT snip_id, track_id, CAST(tw - sw AS INT)
       |      AS dt_windows, count(*) AS n_votes
       |  FROM sl JOIN tl USING (h) GROUP BY 1, 2, 3)
       |SELECT snip_id, track_id, dt_windows,
       |  CAST(n_votes AS BIGINT) AS n_votes
       |FROM (SELECT snip_id, track_id, dt_windows, n_votes,
       |    row_number() OVER (PARTITION BY snip_id
       |      ORDER BY n_votes DESC, track_id, dt_windows) AS rn
       |  FROM vt)
       |WHERE rn = 1 AND n_votes >= 4""".stripMargin
  }

  /** m27: MP4/AVCC CONTAINER INDEX — the demux half of the
    * reference's `decodebin` on H.264 input (`/root/reference/
    * run.sh:53`) under the hash gate. Per doc, a structurally valid
    * single-track MP4 is muxed with arithmetic sample layout
    * (Codecs.Mp4.mux: n = 3+id%5 samples; sample f carries NAL
    * payload L = 17+((id·13+f·7)%40) bytes, split into TWO
    * length-prefixed NALs when L ≥ 30; sync samples every 3rd
    * frame; 90 kHz timescale, 3000-tick deltas) and Codecs.Mp4.index
    * must recover the layout by actually walking the box tree, the
    * sample tables AND the mdat byte stream NAL by NAL — the oracle
    * restates every output column from the mux formulas, so a
    * mis-parsed stsc run, a wrong NAL prefix or an off-by-one chunk
    * offset breaks the hash. AutoCodec's ftyp dispatch is exercised
    * in the same pass (its n_frames must agree with the walk).
    * Pixel decode of the H.264 payload remains the documented seam.
    *
    * 100 TB shape: identical to m2/m23 — bytes are born, parsed and
    * reduced to a dozen integers inside one partition pass; only the
    * index rows reach the exchange. */
  def m27Mp4Index(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (3 + id % 5).toInt
          val samples = (0 until n).map { f =>
            val l = (17 + ((id * 13 + f * 7) % 40)).toInt
            val payload = Array.tabulate(l)(i =>
              ((id * 31 + f * 17 + i * 7) % 256).toByte)
            if (l >= 30) Seq(payload.take(l / 2), payload.drop(l / 2))
            else Seq(payload)
          }
          val keyframes = (0 until n).filter(_ % 3 == 0).map(_ + 1)
          val mp4 = Codecs.Mp4.mux(samples, keyframes,
            timescale = 90000, sampleDelta = 3000, width = 64, height = 48)
          val ix = Codecs.Mp4.index(mp4)
          // AutoCodec must route the same bytes through the ftyp path
          val auto = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "video", mp4))
          require(auto.n_frames == ix.n_samples &&
            auto.width == 64 && auto.height == 48,
            s"AutoCodec/box-walk disagreement for doc $id")
          (id, ix.n_samples, ix.n_keyframes, ix.sample_bytes,
            ix.max_sample_bytes, ix.n_nals,
            ix.duration * 1000L / ix.timescale, ix.avc_profile,
            ix.nal_len_size)
        }
      }.toDF("doc_id", "n_samples", "n_keyframes", "sample_bytes",
        "max_sample_bytes", "n_nals", "duration_ms", "avc_profile",
        "nal_len_size")
  }

  val m27Sql: String =
    """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS f FROM d),
      |sz AS (SELECT doc_id, n, f,
      |    17 + (doc_id * 13 + f * 7) % 40 AS l
      |  FROM f),
      |per AS (SELECT doc_id, n,
      |    l + CASE WHEN l >= 30 THEN 8 ELSE 4 END AS sbytes,
      |    CASE WHEN l >= 30 THEN 2 ELSE 1 END AS nnals,
      |    CASE WHEN f % 3 = 0 THEN 1 ELSE 0 END AS kf
      |  FROM sz)
      |SELECT doc_id, CAST(max(n) AS INT) AS n_samples,
      |  CAST(sum(kf) AS INT) AS n_keyframes,
      |  CAST(sum(sbytes) AS BIGINT) AS sample_bytes,
      |  CAST(max(sbytes) AS INT) AS max_sample_bytes,
      |  CAST(sum(nnals) AS INT) AS n_nals,
      |  CAST(max(n) * 3000 * 1000 // 90000 AS BIGINT) AS duration_ms,
      |  66 AS avc_profile, 4 AS nal_len_size
      |FROM per GROUP BY doc_id""".stripMargin

  /** m28: NAL-TYPE HISTOGRAM over m27's container walk — the next
    * step toward the H.264 seam with zero native deps: for every
    * muxed doc, the per-`nal_unit_type` count (first post-prefix
    * byte & 0x1f, read NAL by NAL from mdat), alongside the per-video
    * stream-shape stats a transcode planner reads off an index —
    * keyframe ratio (ppm, exact integer division) and mean sample
    * size. The oracle restates the type byte purely arithmetically
    * from the mux formulas ((id·31+f·17+offset·7) mod 256 then
    * & 0x1f ≡ mod 32, since 32 | 256), so a misaligned prefix walk
    * or an off-by-one into the payload breaks the hash.
    *
    * 100 TB shape: identical to m27 — bytes are born, walked and
    * reduced to ≤|types| rows inside one partition pass; the
    * histogram is folded in-partition (a per-doc Map over ≤16 NALs),
    * so only final rows reach the exchange and no shuffle exists at
    * all. */
  def m28NalHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val n = (3 + id % 5).toInt
          val samples = (0 until n).map { f =>
            val l = (17 + ((id * 13 + f * 7) % 40)).toInt
            val payload = Array.tabulate(l)(i =>
              ((id * 31 + f * 17 + i * 7) % 256).toByte)
            if (l >= 30) Seq(payload.take(l / 2), payload.drop(l / 2))
            else Seq(payload)
          }
          val keyframes = (0 until n).filter(_ % 3 == 0).map(_ + 1)
          val mp4 = Codecs.Mp4.mux(samples, keyframes,
            timescale = 90000, sampleDelta = 3000, width = 64, height = 48)
          val (ix, types) = Codecs.Mp4.indexAndNalTypes(mp4)
          val kfPpm = ix.n_keyframes.toLong * 1000000L / ix.n_samples
          val meanSample = ix.sample_bytes / ix.n_samples
          types.groupBy(identity).toSeq.map { case (t, ts) =>
            (id, t, ts.length.toLong, kfPpm, meanSample)
          }
        }
      }.toDF("doc_id", "nal_type", "n_nals", "kf_ratio_ppm",
        "mean_sample_bytes")
  }

  val m28Sql: String =
    """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS f FROM d),
      |sz AS (SELECT doc_id, n, f,
      |    17 + (doc_id * 13 + f * 7) % 40 AS l
      |  FROM f),
      |per AS (SELECT doc_id, n,
      |    l + CASE WHEN l >= 30 THEN 8 ELSE 4 END AS sbytes,
      |    CASE WHEN f % 3 = 0 THEN 1 ELSE 0 END AS kf
      |  FROM sz),
      |st AS (SELECT doc_id,
      |    CAST(sum(kf) * 1000000 // max(n) AS BIGINT) AS kf_ratio_ppm,
      |    CAST(sum(sbytes) // max(n) AS BIGINT) AS mean_sample_bytes
      |  FROM per GROUP BY 1),
      |nal AS (SELECT doc_id, (doc_id * 31 + f * 17) % 32 AS nal_type
      |    FROM sz
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 31 + f * 17 + (l // 2) * 7) % 32
      |    FROM sz WHERE l >= 30),
      |h AS (SELECT doc_id, nal_type, count(*) AS n_nals
      |  FROM nal GROUP BY 1, 2)
      |SELECT h.doc_id, CAST(h.nal_type AS INT) AS nal_type,
      |  CAST(h.n_nals AS BIGINT) AS n_nals,
      |  st.kf_ratio_ppm, st.mean_sample_bytes
      |FROM h JOIN st ON st.doc_id = h.doc_id""".stripMargin

  /** m29: H.264 SPS ROUND-TRIP — one level below m28's NAL walk,
    * into the actual bitstream: per doc the muxer builds a REAL
    * baseline sequence parameter set (Exp-Golomb entropy coding,
    * RBSP emulation-prevention escaping, macroblock rounding +
    * frame-cropping for the non-multiple-of-16 dimensions every doc
    * here has) into avcC, and the engine must recover every field by
    * bit-level parsing (Codecs.Mp4.parseSps) — the oracle restates
    * the fields arithmetically from the fixture formulas, so a
    * mis-read Exp-Golomb run, a missed escape byte or a wrong crop
    * unit breaks the hash. This is the header handshake a decoder
    * needs before the first pixel: profile/level, buffer geometry
    * (macroblock grid), exact display size, reference-frame count.
    * Pixel decode of the payload remains the documented seam.
    *
    * 100 TB shape: identical to m27/m28 — bytes are born, walked and
    * reduced to one row inside a single partition pass; no shuffle
    * exists in the plan at all. */
  def m29SpsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (2 * (17 + id % 50)).toInt  // 34..132, even, rarely /16
          val h = (2 * (9 + id % 40)).toInt   // 18..96
          val level = (10 + id % 42).toInt
          val log2m4 = (id % 9).toInt
          val maxRef = (1 + id % 8).toInt
          val mp4 = Codecs.Mp4.mux(
            samples = Seq(Seq(Array[Byte](0x65, 1, 2, 3))),
            keyframes = Seq(1), timescale = 90000, sampleDelta = 3000,
            width = w, height = h, spsLevelIdc = level,
            spsLog2MaxFrameNumMinus4 = log2m4, spsMaxRefFrames = maxRef)
          val s = Codecs.Mp4.spsInfo(mp4)
          require(s.width == w && s.height == h &&
            s.profile_idc == 66 && s.pic_order_cnt_type == 2,
            s"SPS round-trip drift for doc $id: $s vs ${w}x$h")
          (id, s.level_idc, s.mb_width, s.mb_height,
            s.crop_right, s.crop_bottom, s.width, s.height,
            s.log2_max_frame_num, s.max_ref_frames)
        }
      }.toDF("doc_id", "level_idc", "mb_width", "mb_height",
        "crop_right", "crop_bottom", "sps_width", "sps_height",
        "log2_max_frame_num", "max_ref_frames")
  }

  val m29Sql: String =
    """WITH d AS (SELECT doc_id,
      |    2 * (17 + doc_id % 50) AS w, 2 * (9 + doc_id % 40) AS h
      |  FROM documents),
      |g AS (SELECT doc_id, w, h,
      |    (w + 15) // 16 AS mbw, (h + 15) // 16 AS mbh
      |  FROM d)
      |SELECT doc_id,
      |  CAST(10 + doc_id % 42 AS INT) AS level_idc,
      |  CAST(mbw AS INT) AS mb_width, CAST(mbh AS INT) AS mb_height,
      |  CAST((mbw * 16 - w) // 2 AS INT) AS crop_right,
      |  CAST((mbh * 16 - h) // 2 AS INT) AS crop_bottom,
      |  CAST(w AS INT) AS sps_width, CAST(h AS INT) AS sps_height,
      |  CAST(4 + doc_id % 9 AS INT) AS log2_max_frame_num,
      |  CAST(1 + doc_id % 8 AS INT) AS max_ref_frames
      |FROM g""".stripMargin

  /** m30: GOP-STRUCTURE AUDIT from slice headers — the deepest
    * zero-native-deps hop into the H.264 stream: every sample's NAL
    * payload is pulled from mdat through the sample tables
    * (Codecs.Mp4.nalPayloads), its slice-header PREFIX is parsed
    * with real Exp-Golomb bit reads (first_mb, slice_type, pps_id,
    * frame_num, idr_pic_id) — and frame_num is a FIXED-WIDTH field
    * whose bit count only the SPS knows, so the parse chains m29's
    * container→SPS hop by construction. The fixture writes a
    * spec-correct IDR/P/B cadence (f%4: 0→IDR slice_type 7,
    * 2→B 6, else P 5; frame_num resets at each IDR) and the oracle
    * restates every aggregate arithmetically — a misaligned bit
    * read, a wrong frame_num width, or a missed idr_pic_id breaks
    * the hash. The engine also cross-checks the parsed IDR count
    * against the container's stss table. Pixel decode of the slice
    * payload remains the documented seam.
    *
    * 100 TB shape: identical to m27-m29 — bytes are born, demuxed,
    * bit-parsed and reduced to one row inside a single partition
    * pass; NAL payloads never outlive the task; no shuffle exists in
    * the plan. */
  def m30GopAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 6).toInt
          val bits = (4 + id % 3).toInt
          val nals = (0 until n).map { f =>
            val ph = f % 4
            if (ph == 0)
              Codecs.Mp4.buildSliceNal(idr = true, sliceType = 7,
                frameNum = 0, frameNumBits = bits,
                idrPicId = ((id + f) % 8).toInt)
            else
              Codecs.Mp4.buildSliceNal(idr = false,
                sliceType = if (ph == 2) 6 else 5,
                frameNum = ph, frameNumBits = bits)
          }
          val keyframes = (0 until n).filter(_ % 4 == 0).map(_ + 1)
          val mp4 = Codecs.Mp4.mux(nals.map(Seq(_)), keyframes,
            timescale = 90000, sampleDelta = 3000, width = 64,
            height = 48, spsLog2MaxFrameNumMinus4 = (id % 3).toInt)
          // frame_num's width comes from the stream's own SPS
          val fnBits = Codecs.Mp4.spsInfo(mp4).log2_max_frame_num
          val hs = Codecs.Mp4.nalPayloads(mp4)
            .map(Codecs.Mp4.parseSliceHeader(_, fnBits))
          val nIdr = hs.count(_.nal_unit_type == 5)
          require(nIdr == Codecs.Mp4.index(mp4).n_keyframes,
            s"slice-parse IDR count disagrees with stss for doc $id")
          (id, nIdr.toLong,
            hs.count(h => h.nal_unit_type == 1 && h.slice_type == 5).toLong,
            hs.count(_.slice_type == 6).toLong,
            hs.map(_.frame_num.toLong).sum,
            hs.filter(_.nal_unit_type == 5).map(_.idr_pic_id).max,
            fnBits)
        }
      }.toDF("doc_id", "n_idr", "n_p", "n_b", "sum_frame_num",
        "max_idr_pic_id", "frame_num_bits")
  }

  val m30Sql: String =
    """WITH d AS (SELECT doc_id, 2 + doc_id % 6 AS n FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS f FROM d),
      |c AS (SELECT doc_id, f, f % 4 AS ph FROM f)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN ph = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_idr,
      |  CAST(sum(CASE WHEN ph IN (1, 3) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_p,
      |  CAST(sum(CASE WHEN ph = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(ph) AS BIGINT) AS sum_frame_num,
      |  CAST(max(CASE WHEN ph = 0 THEN (doc_id + f) % 8 END) AS INT)
      |    AS max_idr_pic_id,
      |  CAST(4 + doc_id % 3 AS INT) AS frame_num_bits
      |FROM c GROUP BY doc_id""".stripMargin

  /** m31: PCM CLIPPING / DC-OFFSET audit — the gain-staging QA pass
    * an audio-ingest pipeline runs before any feature extraction
    * (m5's energies are meaningless on a clipped capture, and a DC
    * bias poisons every spectral feature downstream): per clip, the
    * count of full-scale samples (== ±full scale — the distortion
    * telltale), the exact DC sum (offset = dc_sum/n, kept as the
    * integer numerator), the peak amplitude, and the LONGEST RUN of
    * consecutive clipped samples (one stray full-scale sample is
    * noise; a 50-sample flat top is real distortion — run length is
    * the discriminator). The fixture drives a hot signal through
    * the REAL WAV encode→decode round trip: deterministic PCM at 2×
    * gain, clamped to int16 — about half the samples clip, in runs,
    * exactly the waveform this audit exists to flag. The run walk is
    * row-local inside the partition-scoped decode (the m10 argument:
    * runs never span rows); PCM is lossless, so the oracle restates
    * samples, clamp, and islands arithmetically — any decode defect
    * breaks the hash.
    *
    * 100 TB shape: m3/m5's exactly — waveform bytes never leave the
    * decode partition; one small row per clip reaches the sink. */
  def m31ClippingAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Multimodal}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 97).toInt
          val samples = Array.tabulate(n) { i =>
            val base = ((id * 31 + i.toLong * 97) % 65536) - 32768
            math.max(-32768L, math.min(32767L, 2L * base)).toShort
          }
          val wav = Codecs.WavCodec.encodePcm16(8000, 1, samples)
          val meta = Codecs.AutoCodec.decode(
            Multimodal.MediaRecord(id, "audio", wav))
          val (_, back) = Codecs.WavCodec.decodePcm16(wav)
          require(meta.n_frames == n && back.length == n,
            s"wav sample count mismatch for doc $id")
          var nClip = 0; var dc = 0L; var peak = 0
          var run = 0; var maxRun = 0
          back.foreach { s0 =>
            val s = s0.toInt
            dc += s; peak = math.max(peak, math.abs(s))
            if (s == 32767 || s == -32768) {
              nClip += 1; run += 1; maxRun = math.max(maxRun, run)
            } else run = 0
          }
          (id, n, nClip, dc, peak, maxRun)
        }
      }.toDF("doc_id", "n_samples", "n_clipped", "dc_sum", "peak",
        "max_clip_run")
  }

  val m31Sql: String =
    """WITH s AS (SELECT doc_id, CAST(64 + doc_id % 97 AS INT) AS n,
      |    list_transform(range(64 + doc_id % 97),
      |      i -> greatest(-32768, least(32767,
      |        2 * ((doc_id * 31 + i * 97) % 65536 - 32768)))) AS pcm
      |  FROM documents),
      |cl AS (SELECT doc_id, i
      |  FROM s, unnest(range(len(pcm))) r(i)
      |  WHERE pcm[CAST(i + 1 AS INT)] IN (32767, -32768)),
      |rn AS (SELECT doc_id, i, row_number() OVER
      |    (PARTITION BY doc_id ORDER BY i) AS k FROM cl),
      |runs AS (SELECT doc_id, count(*) AS len
      |  FROM rn GROUP BY doc_id, i - k),
      |mx AS (SELECT doc_id, max(len) AS max_run FROM runs GROUP BY 1)
      |SELECT s.doc_id, s.n AS n_samples,
      |  CAST(len(list_filter(pcm, v -> v IN (32767, -32768))) AS INT)
      |    AS n_clipped,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), pcm),
      |    (a, b) -> a + b) AS BIGINT) AS dc_sum,
      |  CAST(list_max(list_transform(pcm, v -> abs(v))) AS INT) AS peak,
      |  CAST(coalesce(mx.max_run, 0) AS INT) AS max_clip_run
      |FROM s LEFT JOIN mx ON mx.doc_id = s.doc_id""".stripMargin

  /** m32: SEEK PLAN — the index-serving operation a player or
    * transcoder actually runs against m27's container index: for a
    * mid-stream target timestamp (duration/2), which SAMPLE covers
    * it (stts walk — constant delta here, so target_tick div delta),
    * which SYNC SAMPLE decode must start from (the largest stss
    * entry ≤ the target — parsed from the real stss box, not assumed
    * from the mux pattern), and how many samples decode-and-discard
    * costs; plus the stream's exact average bitrate (bits·timescale
    * div duration — the admission-control number). Every figure is
    * an exact integer division of container-table values, so the
    * oracle restates the whole plan from the mux formulas and any
    * drift in the stss parse or the tick arithmetic breaks the hash.
    *
    * 100 TB shape: m27's — the container is born, walked, and
    * reduced to one row inside the partition; no shuffle at all. */
  def m32SeekPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (3 + id % 5).toInt
          val samples = (0 until n).map { f =>
            val l = (17 + ((id * 13 + f * 7) % 40)).toInt
            val payload = Array.tabulate(l)(i =>
              ((id * 31 + f * 17 + i * 7) % 256).toByte)
            if (l >= 30) Seq(payload.take(l / 2), payload.drop(l / 2))
            else Seq(payload)
          }
          val keyframes = (0 until n).filter(_ % 3 == 0).map(_ + 1)
          val mp4 = Codecs.Mp4.mux(samples, keyframes,
            timescale = 90000, sampleDelta = 3000, width = 64, height = 48)
          val ix = Codecs.Mp4.index(mp4)
          val sync = Codecs.Mp4.syncSamples(mp4)
          require(sync == keyframes,
            s"stss round-trip mismatch for doc $id")
          val delta = ix.duration / ix.n_samples
          val targetTick = ix.duration / 2
          val seekSample = (targetTick / delta).toInt + 1
          val startSync = sync.filter(_ <= seekSample).max
          (id, ix.n_samples, targetTick * 1000L / ix.timescale,
            seekSample, startSync, seekSample - startSync,
            ix.sample_bytes * 8L * ix.timescale / ix.duration)
        }
      }.toDF("doc_id", "n_samples", "target_ms", "seek_sample",
        "start_sync", "n_discard", "bitrate_bps")
  }

  /** m33: H.264 PIXEL DECODE (I_PCM) — the first rung of the pixel
    * half of the H.264 seam, with zero native deps: every doc
    * synthesizes deterministic planar 4:2:0 pictures, encodes each
    * as a REAL IDR slice whose macroblocks are all I_PCM
    * (uncompressed H.264 — spec-correct slice header with
    * dec_ref_pic_marking and qp_delta, per-MB mb_type 25, pcm
    * alignment, emulation-prevention escaping), muxes them into a
    * real MP4, and then runs the full decodebin-shaped hop through
    * the engine's one decoder, `Inter.decodeGopFrames`: container
    * walk → avcC SPS → NAL walk → slice parse → PIXELS. The emitted
    * sums and rolling fingerprint are over the DECODED planes, so
    * any defect anywhere in that chain — box offsets, SPS fields,
    * escape handling, alignment, raster order — breaks the hash.
    * One doc class (id % 5 == 0) carries a zero run that forces
    * 00 00 0x sequences into the RBSP, so the escape path is
    * exercised under the gate, not just in specs. The same decoder
    * takes transform-coded macroblocks (m34 on), so this gate pins
    * its mb_type 25 arm.
    *
    * 100 TB shape: the m27 contract — pictures are born, encoded,
    * decoded and reduced inside one partition pass; only one row per
    * video reaches the exchange. */
  def m33PcmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val w = 16 * (1 + id % 2).toInt
          val h = 16
          def yv(f: Int, i: Int): Int =
            if (id % 5 == 0 && i < 32) 0
            else ((id * 7 + f * 13 + i.toLong * 3) % 256).toInt
          val frames = (0 until n).map { f =>
            Codecs.Mp4.PcmFrame(w, h,
              Array.tabulate(w * h)(i => yv(f, i).toByte),
              Array.tabulate(w * h / 4)(i =>
                ((id * 11 + f * 5 + i.toLong * 7 + 1) % 256).toByte),
              Array.tabulate(w * h / 4)(i =>
                ((id * 13 + f * 3 + i.toLong * 5 + 2) % 256).toByte))
          }
          val nals = frames.zipWithIndex.map { case (fr, f) =>
            Seq(Codecs.Mp4.buildIdrPcmSlice(fr, frameNum = 0,
              frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = w, height = h)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, w, h, fpChroma = true)
          (id, n, w, h, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  val m33Sql: String =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n,
      |    CAST(16 * (1 + doc_id % 2) AS INT) AS w
      |  FROM documents),
      |f AS (SELECT doc_id, n, w, unnest(range(n)) AS fr FROM d),
      |pl AS (SELECT doc_id, n, w, fr,
      |    list_transform(range(w * 16), i ->
      |      CASE WHEN doc_id % 5 = 0 AND i < 32 THEN 0
      |        ELSE (doc_id * 7 + fr * 13 + i * 3) % 256 END) AS yl,
      |    list_transform(range(w * 4), i ->
      |      (doc_id * 11 + fr * 5 + i * 7 + 1) % 256) AS cbl,
      |    list_transform(range(w * 4), i ->
      |      (doc_id * 13 + fr * 3 + i * 5 + 2) % 256) AS crl
      |  FROM f),
      |cc AS (SELECT doc_id, n, w, fr,
      |    list_concat(list_concat(yl, cbl), crl) AS pb,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), yl),
      |      (a, b) -> a + b) AS ys,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), cbl),
      |      (a, b) -> a + b) AS cbs,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), crl),
      |      (a, b) -> a + b) AS crs
      |  FROM pl)
      |SELECT doc_id, max(n) AS n_frames, max(w) AS width, 16 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(sum(cbs) AS BIGINT) AS cb_sum,
      |  CAST(sum(crs) AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(pb ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
      |FROM cc GROUP BY doc_id""".stripMargin

  // ---- m34: CAVLC + I_16x16 DC-only transform decode ---------------

  /** m34: the first TRANSFORM-CODED rung of the H.264 pixel seam
    * (reference anchor: run.sh:53 `decodebin` on real MP4s) under
    * the hash gate: per document, a deterministic I_16x16 DC-only
    * stream — every macroblock mb_type 3 (DC intra prediction,
    * coded_block_pattern 0/0), its only residual the CAVLC-coded
    * Intra16x16DCLevel block with at most one nonzero coefficient —
    * is ENCODED (real §9.2 bitstream: coeff_token, trailing-ones
    * sign, level_prefix with the first-level +2 rule, total_zeros,
    * written by the general `buildI16x16Slice`), muxed into real
    * MP4, then decoded back by `Inter.decodeGopFrames` through
    * container walk → avcC SPS → CAVLC parse → inverse 4×4 Hadamard
    * → §8.5.10 DC dequant → lone-DC core transform → DC intra
    * prediction. The gate hashes the reconstructed pixel sums and a
    * per-4×4-block fingerprint; the oracle restates the
    * reconstruction in closed form (a lone coefficient at zigzag
    * position z inverse-transforms to ±level patterns given by the
    * Hadamard row signs).
    *
    * 100 TB shape: like m33 — encode+decode run partition-local per
    * document (pixels never shuffle), one row out per doc. */
  def m34CavlcDcDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Codecs, Inter}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            val sel = (id * 31 + f * 7) % 20
            val z = ((id * 13 + f * 11) % 16).toInt
            val sgn = if ((id + f) % 2 == 0) 1 else -1
            val lvl =
              if (sel < 4) 0
              else if (sel < 12) sgn
              else sgn * (2 + ((id + f * 3) % 6)).toInt
            val dc = new Array[Int](16)
            if (lvl != 0) dc(zigzag4x4(z)) = lvl
            Seq(Codecs.Mp4.buildI16x16Slice(
              Seq((dc, Array.fill(16)(null: Array[Int]))), 1, 1,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
          var ys = 0L; var cbs = 0L; var crs = 0L; var fp = 0L
          var nDec = 0
          Inter.decodeGopFrames(mp4).foreach { fr =>
            nDec += 1
            require(fr.width == 16 && fr.height == 16,
              s"decoded dims ${fr.width}x${fr.height}")
            fr.y.foreach(b => ys += (b & 0xffL))
            fr.cb.foreach(b => cbs += (b & 0xffL))
            fr.cr.foreach(b => crs += (b & 0xffL))
            // per-4x4-block fingerprint: blocks are flat, sample the
            // corner of each in raster order
            var b = 0
            while (b < 16) {
              val v = fr.y(((b / 4) * 4) * 16 + (b % 4) * 4) & 0xffL
              fp = (fp * 31 + v) % 1000000007L
              b += 1
            }
          }
          require(nDec == n, s"decoded $nDec of $n frames")
          (id, n, 16, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "blk_fp")
  }

  /** Closed-form restatement: per frame, derive (z, level) by the
    * same arithmetic, map z through the zigzag, and reconstruct each
    * 4×4 block as 128 + floor((H(i)(r0)·H(j)(c0)·level·52 + 32) / 64)
    * (QP 26: scale 13 << 2 = 52). The decoder's `>> 6` FLOORS while
    * DuckDB's `//` truncates toward zero, so the division shifts by
    * +6400 (= 64·100) first and subtracts 100 after — exact integer
    * floor for the whole ±396 numerator range. Chroma is flat 128
    * (no neighbours, zero residual). */
  val m34Sql: String =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS fr FROM d),
      |par AS (SELECT doc_id, n, fr,
      |    (doc_id * 31 + fr * 7) % 20 AS sel,
      |    CAST((doc_id * 13 + fr * 11) % 16 AS INT) AS z,
      |    CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END AS sgn,
      |    2 + (doc_id + fr * 3) % 6 AS bigmag
      |  FROM f),
      |lv AS (SELECT doc_id, n, fr,
      |    [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15][z + 1] AS raster,
      |    CASE WHEN sel < 4 THEN 0
      |         WHEN sel < 12 THEN sgn
      |         ELSE sgn * bigmag END AS lvl
      |  FROM par),
      |blocks AS (SELECT doc_id, n, fr,
      |    list_transform(range(16), b -> 128 - 100 +
      |      ([[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |         [CAST(b // 4 AS INT) + 1][CAST(raster // 4 AS INT) + 1]
      |       * [[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |         [CAST(b % 4 AS INT) + 1][CAST(raster % 4 AS INT) + 1]
      |       * lvl * 52 + 32 + 6400) // 64) AS vals
      |  FROM lv),
      |cc AS (SELECT doc_id, n, fr, vals,
      |    16 * list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
      |      (a, b) -> a + b) AS ys
      |  FROM blocks)
      |SELECT doc_id, max(n) AS n_frames, 16 AS width, 16 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(max(n) * 8192 AS BIGINT) AS cb_sum,
      |  CAST(max(n) * 8192 AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(vals ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS blk_fp
      |FROM cc GROUP BY doc_id""".stripMargin

  // ---- m35: general CAVLC + complete I_16x16 (DC + AC) --------------

  /** m35: the FULL-RESIDUAL transform rung under the hash gate
    * (reference anchor: run.sh:53 `decodebin`): per document, a
    * deterministic I_16x16 stream whose macroblocks carry BOTH a
    * CAVLC-coded Intra16x16DCLevel block and general Intra16x16AC
    * residuals — multi-coefficient blocks with trailing-ones signs,
    * suffix-length escalation, total_zeros and run_before, coded
    * under the spec nC neighbour contexts (frame classes drive nC
    * through 0≤nC<2, 2≤nC<4, 4≤nC<8 and the ≥8 FLC column) — is
    * encoded, muxed into real MP4, and decoded back by
    * `Inter.decodeGopFrames` through container walk → avcC SPS →
    * general CAVLC parse → Hadamard + §8.5.10 DC dequant →
    * §8.5.12 AC dequant + integer inverse core transform → DC intra
    * prediction. The gate hashes the full 16×16 luma raster per
    * frame; the oracle restates the reconstruction in closed form
    * (QP 26 makes every dequantized coefficient divisible by 4, so
    * the half-weight butterflies are exactly the linear B-matrix
    * form).
    *
    * Frame classes of the `SyntheticMedia.i16Coeffs` fixture:
    * kind 0 = DC-only (mb_type 3, the m34 grammar stays hot);
    * kind 1 = one strided AC block (total_zeros + run_before under
    * ctx0, and its zero neighbours' (0,0) tokens land in 2≤nC<4);
    * kind 2 = four dense adjacent blocks (TotalCoeff 3–9 →
    * neighbour nC walks the 2≤nC<4, 4≤nC<8 and FLC columns).
    *
    * 100 TB shape: the m33/m34 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m35CavlcFullDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            Seq(Codecs.Mp4.buildI16x16Slice(
              Seq(SyntheticMedia.i16Coeffs(id, f)), 1, 1,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 16, 16, fpChroma = false)
          (id, n, 16, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** Closed-form restatement: the DC path is the m34 Hadamard closed
    * form (lone coefficient → row-sign products × 52); the AC path
    * dequantizes each fixture coefficient (level × v-class × 16 at
    * QP 26 — divisible by 4, so the inverse transform is the exact
    * linear B-matrix form) and reconstructs every pixel as
    * clip(128 + floor((ΣBB·d + 128) / 256)). Floor-vs-truncate is
    * handled with the +256000 offset (numerators stay within ±2·10⁵).
    * Chroma is flat 128. */
  val m35Sql: String =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS fr FROM d),
      |par AS (SELECT doc_id, n, fr,
      |    CAST((doc_id * 31 + fr * 7) % 3 AS INT) AS kind,
      |    [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |      [CAST((doc_id * 13 + fr * 11) % 16 AS INT) + 1] AS zr,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr * 3) % 7) AS ld
      |  FROM f),
      |co AS (SELECT doc_id, n, fr, zr, ld,
      |    flatten(list_transform(
      |      CASE kind WHEN 0 THEN CAST([] AS BIGINT[])
      |        WHEN 1 THEN [(doc_id * 7 + fr) % 16]
      |        ELSE [0, 1, 4, 5] END,
      |      b -> list_transform(
      |        range(1, 1 + CASE WHEN kind = 1
      |          THEN 1 + (doc_id * 3 + fr) % 4
      |          ELSE least(3 + (doc_id + fr + 2 * b) % 7,
      |            CASE WHEN (doc_id + fr + b) % 2 = 1 THEN 7 ELSE 15 END)
      |          END),
      |        k -> {'b': b,
      |          'p': k * CASE WHEN kind = 1 THEN 1 + (doc_id + fr) % 3
      |            ELSE 1 + (doc_id + fr + b) % 2 END,
      |          'l': (CASE WHEN (doc_id + fr + k +
      |              CASE WHEN kind = 1 THEN 0 ELSE b END) % 2 = 0
      |              THEN 1 ELSE -1 END)
      |            * (1 + (doc_id + fr + k * 5 +
      |              CASE WHEN kind = 1 THEN 0 ELSE b END * 3) % 9)})))
      |      AS cs
      |  FROM par),
      |cd AS (SELECT doc_id, n, fr, zr, ld,
      |    list_transform(cs, s -> {'b': s.b,
      |      'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] // 4,
      |      'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] % 4,
      |      'l': s.l}) AS cs
      |  FROM co),
      |cq AS (SELECT doc_id, n, fr, zr, ld,
      |    list_transform(cs, s -> {'b': s.b, 'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20
      |        ELSE 16 END) * 16}) AS cs
      |  FROM cd),
      |px AS (SELECT doc_id, n, fr,
      |    list_transform(range(256), g ->
      |      least(255, greatest(0, 128 - 1000 + (
      |        4 * ([[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |              [CAST(((g // 16) // 4) AS INT) + 1]
      |              [CAST(zr // 4 AS INT) + 1]
      |            * [[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |              [CAST(((g % 16) // 4) AS INT) + 1]
      |              [CAST(zr % 4 AS INT) + 1]
      |            * ld * 52)
      |        + list_reduce(list_prepend(CAST(0 AS BIGINT),
      |            list_transform(
      |              list_filter(cs, s -> s.b =
      |                ((g // 16) // 4) * 4 + (g % 16) // 4),
      |              s -> CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                     [CAST((g // 16) % 4 AS INT) + 1][s.u + 1]
      |                   * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                     [CAST((g % 16) % 4 AS INT) + 1][s.v + 1]
      |                   * s.dq AS BIGINT))),
      |            (a, b) -> a + b)
      |        + 128 + 256000) // 256)) ) AS vals
      |  FROM cq),
      |cc AS (SELECT doc_id, n, fr, vals,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
      |      (a, b) -> a + b) AS ys
      |  FROM px)
      |SELECT doc_id, max(n) AS n_frames, 16 AS width, 16 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(max(n) * 8192 AS BIGINT) AS cb_sum,
      |  CAST(max(n) * 8192 AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(vals ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
      |FROM cc GROUP BY doc_id""".stripMargin

  // ---- m36: mixed I_4x4 / I_16x16 intra decode -----------------------

  /** m36: I_4x4 INTRA PREDICTION under the hash gate — each frame is
    * a MIXED 32×16 picture: MB0 is I_4x4 (per-block
    * vertical/horizontal/DC modes coded against the §8.3.1.1
    * predictor, cbp luma 15, a full 16-coefficient residual in the
    * last-in-Z block) and MB1 is I_16x16 (m35's DC + strided-AC
    * shape) whose DC prediction reads MB0's RECONSTRUCTED right edge
    * — so the gate certifies the mode-predictor bitstream walk, the
    * in-block DC dequant of the 4×4 path, and cross-macroblock
    * prediction in one hash. The oracle stays closed-form because
    * the residual block is LAST in Z order: every other 4×4 sees
    * only flat-128 neighbours (any mode of a flat input is flat), so
    * only two blocks need the linear-transform restatement. Full
    * random-mode propagation is spec-gated against an independent
    * reference (Round13Spec).
    *
    * 100 TB shape: the m33/m34/m35 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m36MixedIntraDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    import Codecs.Mp4.{I16Mb, I4Mb}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            // MB0: I_4x4 — modes walk {vert, horiz, DC} clamped to
            // availability; residual only in the last-in-Z block
            val modes = Array.tabulate(16) { b =>
              val bx = b % 4; val by = b / 4
              val z = 8 * (by / 2) + 4 * (bx / 2) + 2 * (by % 2) + (bx % 2)
              if (z == 15) 2
              else {
                val m = ((id + f + z) % 3).toInt
                if (m == 0 && by == 0) 2       // picture top
                else if (m == 1 && bx == 0) 2  // picture left
                else m
              }
            }
            val ld4 = sgn(id + f) * (1 + ((id + f * 3) % 7)).toInt
            val s4 = 1 + ((id + f) % 3).toInt
            val p4 = 1 + ((id * 3 + f) % 4).toInt
            val res43 = new Array[Int](16)
            res43(0) = ld4
            for (k <- 1 to p4)
              res43(k * s4) = sgn(id + f + k) * (1 + ((id + f + k * 5) % 9)).toInt
            val coeffs = Array.fill(16)(null: Array[Int])
            coeffs(15) = res43 // raster (3,3) == Z index 15
            // MB1: I_16x16 — lone DC + one strided AC block
            val zd = ((id * 13 + f * 11) % 16).toInt
            val ld16 = sgn(id + f + 1) * (1 + ((id + f) % 7)).toInt
            val dc16 = new Array[Int](16)
            dc16(zigzag4x4(zd)) = ld16
            val ba = ((id * 7 + f) % 16).toInt
            val s16 = 1 + ((id + f + 1) % 3).toInt
            val p16 = 1 + ((id * 3 + f + 2) % 4).toInt
            val a16 = new Array[Int](15)
            for (k <- 1 to p16)
              a16(k * s16 - 1) =
                sgn(id + f + k + 1) * (1 + ((id + f + k * 3) % 9)).toInt
            val ac16 = Array.fill(16)(null: Array[Int])
            ac16(ba) = a16
            Seq(Codecs.Mp4.buildMixedIntraSlice(
              Seq(I4Mb(modes, coeffs), I16Mb(dc16, ac16)), 2, 1,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 32, height = 16)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 32, 16, fpChroma = false)
          (id, n, 32, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** Closed-form restatement: MB0 is flat 128 except the last-in-Z
    * block (exact linear transform of its dequantized coefficients —
    * the in-block DC at raster 0 uses the class-A scale); MB1's DC
    * prediction is (12·128 + the residual block's right column + 8)
    * >> 4, then m35's Hadamard + linear-AC form. Chroma flat 128. */
  val m36Sql: String =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS fr FROM d),
      |par AS (SELECT doc_id, n, fr,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr * 3) % 7) AS ld4,
      |    1 + (doc_id + fr) % 3 AS s4,
      |    1 + (doc_id * 3 + fr) % 4 AS p4,
      |    [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |      [CAST((doc_id * 13 + fr * 11) % 16 AS INT) + 1] AS zr16,
      |    (CASE WHEN (doc_id + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr) % 7) AS ld16,
      |    CAST((doc_id * 7 + fr) % 16 AS INT) AS ba,
      |    1 + (doc_id + fr + 1) % 3 AS s16,
      |    1 + (doc_id * 3 + fr + 2) % 4 AS p16
      |  FROM f),
      |c4 AS (SELECT doc_id, n, fr, zr16, ld16, ba, s16, p16,
      |    list_prepend({'p': 0, 'l': ld4},
      |      list_transform(range(1, 1 + p4), k ->
      |        {'p': k * s4,
      |         'l': (CASE WHEN (doc_id + fr + k) % 2 = 0
      |             THEN 1 ELSE -1 END)
      |           * (1 + (doc_id + fr + k * 5) % 9)})) AS cs4,
      |    list_transform(range(1, 1 + p16), k ->
      |      {'p': k * s16,
      |       'l': (CASE WHEN (doc_id + fr + k + 1) % 2 = 0
      |           THEN 1 ELSE -1 END)
      |         * (1 + (doc_id + fr + k * 3) % 9)}) AS cs16
      |  FROM par),
      |cq AS (SELECT doc_id, n, fr, zr16, ld16, ba,
      |    list_transform(cs4, s -> {
      |      'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] // 4,
      |      'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] % 4,
      |      'l': s.l}) AS cs4,
      |    list_transform(cs16, s -> {
      |      'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] // 4,
      |      'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(s.p AS INT) + 1] % 4,
      |      'l': s.l}) AS cs16
      |  FROM c4),
      |dq AS (SELECT doc_id, n, fr, zr16, ld16, ba,
      |    list_transform(cs4, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20
      |        ELSE 16 END) * 16}) AS cs4,
      |    list_transform(cs16, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20
      |        ELSE 16 END) * 16}) AS cs16
      |  FROM cq),
      |p43 AS (SELECT doc_id, n, fr, zr16, ld16, ba, cs16,
      |    list_transform(range(16), ij ->
      |      least(255, greatest(0, 128 - 1000 + (
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(cs4, s ->
      |            CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                [CAST(ij // 4 AS INT) + 1][s.u + 1]
      |              * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                [CAST(ij % 4 AS INT) + 1][s.v + 1]
      |              * s.dq AS BIGINT))),
      |          (a, b) -> a + b)
      |        + 128 + 256000) // 256))) AS pv
      |  FROM dq),
      |pr AS (SELECT doc_id, n, fr, zr16, ld16, ba, cs16, pv,
      |    (12 * 128 + pv[4] + pv[8] + pv[12] + pv[16] + 8) // 16 AS pred1
      |  FROM p43),
      |px AS (SELECT doc_id, n, fr,
      |    list_transform(range(512), g ->
      |      CASE WHEN g % 32 < 16 THEN
      |        CASE WHEN (g // 32) // 4 = 3 AND (g % 32) // 4 = 3
      |          THEN pv[CAST(((g // 32) % 4) * 4 + (g % 32) % 4 AS INT) + 1]
      |          ELSE 128 END
      |      ELSE
      |        least(255, greatest(0, pred1 - 1000 + (
      |          4 * ([[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |                [CAST(((g // 32) // 4) AS INT) + 1]
      |                [CAST(zr16 // 4 AS INT) + 1]
      |              * [[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |                [CAST((((g % 32) - 16) // 4) AS INT) + 1]
      |                [CAST(zr16 % 4 AS INT) + 1]
      |              * ld16 * 52)
      |          + CASE WHEN ((g // 32) // 4) * 4 + ((g % 32) - 16) // 4 = ba
      |            THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(cs16, s ->
      |                CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST((g // 32) % 4 AS INT) + 1][s.u + 1]
      |                  * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST(((g % 32) - 16) % 4 AS INT) + 1][s.v + 1]
      |                  * s.dq AS BIGINT))),
      |              (a, b) -> a + b)
      |            ELSE 0 END
      |          + 128 + 256000) // 256))
      |      END) AS vals
      |  FROM pr),
      |cc AS (SELECT doc_id, n, fr, vals,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
      |      (a, b) -> a + b) AS ys
      |  FROM px)
      |SELECT doc_id, max(n) AS n_frames, 32 AS width, 16 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(max(n) * 16384 AS BIGINT) AS cb_sum,
      |  CAST(max(n) * 16384 AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(vals ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
      |FROM cc GROUP BY doc_id""".stripMargin

  // ---- m37: the remaining intra prediction modes ---------------------

  /** m37: ALL remaining intra prediction modes under the hash gate —
    * with m35/m36 this completes the BASELINE INTRA PREDICTION
    * surface (every §8.3.1 I_4x4 mode 0..8, every §8.3.3 I_16x16
    * mode 0..3). Each frame is a 32×32 2×2-MB picture wired so every
    * prediction reads NON-FLAT reconstructed edges yet stays
    * closed-form for the oracle: MB0 (I_16x16 DC + AC residual, the
    * m35 shape) seeds non-flat edges; MB1 predicts HORIZONTAL from
    * MB0's right column and MB2 VERTICAL from MB0's bottom row (each
    * with a lone-DC residual — mb_types 2/14 and 1/13 walk the
    * Table 7-11 rows m35 never touched); MB3 alternates per frame
    * between I_16x16 PLANE (mb_type 4 — the full §8.3.3.4 H/V
    * arithmetic over MB1/MB2's reconstructed edges) and an I_4x4 MB
    * whose first-in-Z block walks the six DIAGONAL modes (3..8)
    * against those same edges while the remaining 15 blocks chain DC
    * averages (each a closed-form constant because DC of flat inputs
    * is flat). Mode-predictor flag/rem coding, cross-MB edge
    * gathering and the top-right-availability rule are all load-
    * bearing for the hash. Random-mode propagation incl. top-right
    * SUBSTITUTION is spec-gated against an integration reference
    * (Round13bSpec); the predictors themselves are property-pinned
    * (constants, edge-copying, VR/HD transpose duality, ramp
    * continuation, tilted-plane reproduction).
    *
    * 100 TB shape: the m33..m36 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m37IntraModes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    import Codecs.Mp4.{I16Mb, I4Mb}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            // MB0: I_16x16 DC-pred, lone DC + one strided AC block
            val dc0 = new Array[Int](16)
            dc0(zigzag4x4(((id * 13 + f * 11) % 16).toInt)) =
              sgn(id + f) * (1 + ((id + f * 3) % 7)).toInt
            val ba0 = ((id * 7 + f) % 16).toInt
            val s0 = 1 + ((id + f) % 3).toInt
            val p0n = 1 + ((id * 3 + f) % 4).toInt
            val a0 = new Array[Int](15)
            for (k <- 1 to p0n)
              a0(k * s0 - 1) = sgn(id + f + k) * (1 + ((id + f + k * 5) % 9)).toInt
            val ac0 = Array.fill(16)(null: Array[Int]); ac0(ba0) = a0
            // MB1: I_16x16 HORIZONTAL, lone-DC residual (mb_type 14)
            val dc1 = new Array[Int](16)
            dc1(zigzag4x4(((id * 7 + f * 3) % 16).toInt)) =
              sgn(id + f + 1) * (1 + ((id * 2 + f) % 7)).toInt
            // MB2: I_16x16 VERTICAL, lone-DC residual (mb_type 13)
            val dc2 = new Array[Int](16)
            dc2(zigzag4x4(((id * 11 + f * 5) % 16).toInt)) =
              sgn(id + f) * (1 + ((id * 3 + f * 2) % 7)).toInt
            // MB3: plane or an I_4x4 diagonal walk, by frame parity
            val mb3: Codecs.Mp4.IntraMb =
              if ((id + f) % 2 == 0)
                I16Mb(new Array[Int](16), Array.fill(16)(null), mode = 3)
              else {
                val m4 = 3 + ((id + 2 * f) % 6).toInt
                val modes = Array.fill(16)(2); modes(0) = m4
                I4Mb(modes, Array.fill(16)(null))
              }
            // lone-DC MBs carry their residual in the always-present
            // Intra16x16DC block, so cbp stays 0 (mb_types 2 and 1)
            Seq(Codecs.Mp4.buildMixedIntraSlice(
              Seq(I16Mb(dc0, ac0), I16Mb(dc1, Array.fill(16)(null), 1),
                I16Mb(dc2, Array.fill(16)(null), 0), mb3), 2, 2,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 32, height = 32)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 32, 32, fpChroma = false)
          (id, n, 32, 32, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** Emit the 16 Z0 predicted-pixel SQL expressions for diagonal
    * mode `m` over `t16` (MB1's reconstructed bottom row — Z0's top
    * 0..3 plus available top-right 4..7), `lf16` (MB2's right
    * column) and `tl0` (MB0's corner) — the §8.3.1.2 formulas as a
    * DuckDB list literal (all operands non-negative, so `//` is
    * exact floor). */
  private def i4PredSqlList(m: Int): String = {
    def t(k: Int) = if (k < 0) "tl0" else s"t16[${k + 1}]"
    def l(k: Int) = if (k < 0) "tl0" else s"lf16[${k + 1}]"
    val exprs = for (y <- 0 until 4; x <- 0 until 4) yield m match {
      case 3 =>
        if (x == 3 && y == 3) s"(${t(6)} + 3 * ${t(7)} + 2) // 4"
        else s"(${t(x + y)} + 2 * ${t(x + y + 1)} + ${t(x + y + 2)} + 2) // 4"
      case 4 =>
        if (x > y)
          s"(${t(x - y - 2)} + 2 * ${t(x - y - 1)} + ${t(x - y)} + 2) // 4"
        else if (x < y)
          s"(${l(y - x - 2)} + 2 * ${l(y - x - 1)} + ${l(y - x)} + 2) // 4"
        else s"(${t(0)} + 2 * tl0 + ${l(0)} + 2) // 4"
      case 5 =>
        val z = 2 * x - y
        if (z >= 0 && z % 2 == 0)
          s"(${t(x - (y >> 1) - 1)} + ${t(x - (y >> 1))} + 1) // 2"
        else if (z > 0)
          s"(${t(x - (y >> 1) - 2)} + 2 * ${t(x - (y >> 1) - 1)} + " +
            s"${t(x - (y >> 1))} + 2) // 4"
        else if (z == -1) s"(${l(0)} + 2 * tl0 + ${t(0)} + 2) // 4"
        else s"(${l(y - 1)} + 2 * ${l(y - 2)} + ${l(y - 3)} + 2) // 4"
      case 6 =>
        val z = 2 * y - x
        if (z >= 0 && z % 2 == 0)
          s"(${l(y - (x >> 1) - 1)} + ${l(y - (x >> 1))} + 1) // 2"
        else if (z > 0)
          s"(${l(y - (x >> 1) - 2)} + 2 * ${l(y - (x >> 1) - 1)} + " +
            s"${l(y - (x >> 1))} + 2) // 4"
        else if (z == -1) s"(${l(0)} + 2 * tl0 + ${t(0)} + 2) // 4"
        else s"(${t(x - 1)} + 2 * ${t(x - 2)} + ${t(x - 3)} + 2) // 4"
      case 7 =>
        if (y % 2 == 0)
          s"(${t(x + (y >> 1))} + ${t(x + (y >> 1) + 1)} + 1) // 2"
        else s"(${t(x + (y >> 1))} + 2 * ${t(x + (y >> 1) + 1)} + " +
          s"${t(x + (y >> 1) + 2)} + 2) // 4"
      case 8 =>
        val z = x + 2 * y
        if (z > 5) l(3)
        else if (z == 5) s"(${l(2)} + 3 * ${l(3)} + 2) // 4"
        else if (z % 2 == 0)
          s"(${l(y + (x >> 1))} + ${l(y + (x >> 1) + 1)} + 1) // 2"
        else s"(${l(y + (x >> 1))} + 2 * ${l(y + (x >> 1) + 1)} + " +
          s"${l(y + (x >> 1) + 2)} + 2) // 4"
      case other => throw new IllegalArgumentException(s"mode $other")
    }
    "[" + exprs.mkString(",\n        ") + "]"
  }

  /** Closed-form restatement of m37: MB0 per the m35 linear form;
    * MB1/MB2 copy MB0's reconstructed edges plus their lone-DC
    * Hadamard residuals; MB3 is either the full §8.3.3.4 plane
    * arithmetic or the generated diagonal-mode Z0 list plus 15
    * chained DC constants. Chroma flat 128. */
  val m37Sql: String = {
    val hLit = "[[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]"
    val bLit = "[[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]"
    val zzLit = "[0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]"
    val diagCase = (3 to 8).map(m =>
      s"WHEN ${m} THEN ${i4PredSqlList(m)}").mkString("\n      ")
    s"""WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS fr FROM d),
      |par AS (SELECT doc_id, n, fr,
      |    $zzLit[CAST((doc_id * 13 + fr * 11) % 16 AS INT) + 1] AS zr0,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr * 3) % 7) AS ld0,
      |    CAST((doc_id * 7 + fr) % 16 AS INT) AS ba0,
      |    1 + (doc_id + fr) % 3 AS s0,
      |    1 + (doc_id * 3 + fr) % 4 AS p0n,
      |    $zzLit[CAST((doc_id * 7 + fr * 3) % 16 AS INT) + 1] AS zr1,
      |    (CASE WHEN (doc_id + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id * 2 + fr) % 7) AS ld1,
      |    $zzLit[CAST((doc_id * 11 + fr * 5) % 16 AS INT) + 1] AS zr2,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id * 3 + fr * 2) % 7) AS ld2,
      |    CAST((doc_id + fr) % 2 AS INT) AS q,
      |    CAST(3 + (doc_id + 2 * fr) % 6 AS INT) AS m4
      |  FROM f),
      |cq AS (SELECT *,
      |    list_transform(
      |      list_transform(range(1, 1 + p0n), k -> {'p': k * s0,
      |        'l': (CASE WHEN (doc_id + fr + k) % 2 = 0 THEN 1 ELSE -1 END)
      |          * (1 + (doc_id + fr + k * 5) % 9)}),
      |      s -> {'u': $zzLit[CAST(s.p AS INT) + 1] // 4,
      |            'v': $zzLit[CAST(s.p AS INT) + 1] % 4,
      |            'l': s.l}) AS cs0p
      |  FROM par),
      |dq AS (SELECT *,
      |    list_transform(cs0p, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20
      |        ELSE 16 END) * 16}) AS cs0,
      |    list_transform(range(16), b ->
      |      ($hLit[CAST(b // 4 AS INT) + 1][CAST(zr1 // 4 AS INT) + 1]
      |       * $hLit[CAST(b % 4 AS INT) + 1][CAST(zr1 % 4 AS INT) + 1]
      |       * ld1 * 52 + 32 + 6400) // 64 - 100) AS dcr1,
      |    list_transform(range(16), b ->
      |      ($hLit[CAST(b // 4 AS INT) + 1][CAST(zr2 // 4 AS INT) + 1]
      |       * $hLit[CAST(b % 4 AS INT) + 1][CAST(zr2 % 4 AS INT) + 1]
      |       * ld2 * 52 + 32 + 6400) // 64 - 100) AS dcr2
      |  FROM cq),
      |p0 AS (SELECT *,
      |    list_transform(range(256), g ->
      |      least(255, greatest(0, 128 - 1000 + (
      |        4 * ($hLit[CAST(((g // 16) // 4) AS INT) + 1]
      |              [CAST(zr0 // 4 AS INT) + 1]
      |            * $hLit[CAST(((g % 16) // 4) AS INT) + 1]
      |              [CAST(zr0 % 4 AS INT) + 1]
      |            * ld0 * 52)
      |        + CASE WHEN ((g // 16) // 4) * 4 + (g % 16) // 4 = ba0
      |          THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |            list_transform(cs0, s ->
      |              CAST($bLit[CAST((g // 16) % 4 AS INT) + 1][s.u + 1]
      |                 * $bLit[CAST((g % 16) % 4 AS INT) + 1][s.v + 1]
      |                 * s.dq AS BIGINT))), (a, b) -> a + b)
      |          ELSE 0 END
      |        + 128 + 256000) // 256))) AS p0v
      |  FROM dq),
      |ed AS (SELECT *,
      |    list_transform(range(16), i ->
      |      p0v[CAST(i * 16 AS INT) + 16]) AS l0,
      |    list_transform(range(16), i -> p0v[CAST(240 + i AS INT) + 1]) AS b0,
      |    p0v[256] AS tl0
      |  FROM p0),
      |eg AS (SELECT *,
      |    list_transform(range(16), x ->
      |      least(255, greatest(0, l0[16] + dcr1[CAST(12 + x // 4 AS INT) + 1]))) AS t16,
      |    list_transform(range(16), yy ->
      |      least(255, greatest(0, b0[16] + dcr2[CAST((yy // 4) * 4 + 3 AS INT) + 1]))) AS lf16
      |  FROM ed),
      |pl AS (SELECT *,
      |    (1 * (t16[9] - t16[7]) + 2 * (t16[10] - t16[6])
      |     + 3 * (t16[11] - t16[5]) + 4 * (t16[12] - t16[4])
      |     + 5 * (t16[13] - t16[3]) + 6 * (t16[14] - t16[2])
      |     + 7 * (t16[15] - t16[1]) + 8 * (t16[16] - tl0)) AS hh,
      |    (1 * (lf16[9] - lf16[7]) + 2 * (lf16[10] - lf16[6])
      |     + 3 * (lf16[11] - lf16[5]) + 4 * (lf16[12] - lf16[4])
      |     + 5 * (lf16[13] - lf16[3]) + 6 * (lf16[14] - lf16[2])
      |     + 7 * (lf16[15] - lf16[1]) + 8 * (lf16[16] - tl0)) AS vv,
      |    16 * (lf16[16] + t16[16]) AS aa
      |  FROM eg),
      |pb AS (SELECT *,
      |    (5 * hh + 32 + 64000) // 64 - 1000 AS bb,
      |    (5 * vv + 32 + 64000) // 64 - 1000 AS cc2
      |  FROM pl),
      |z0 AS (SELECT *,
      |    CASE m4
      |      $diagCase
      |      END AS z0p
      |  FROM pb),
      |ch1 AS (SELECT *,
      |    (t16[5] + t16[6] + t16[7] + t16[8]
      |     + z0p[4] + z0p[8] + z0p[12] + z0p[16] + 4) // 8 AS c1,
      |    (z0p[13] + z0p[14] + z0p[15] + z0p[16]
      |     + lf16[5] + lf16[6] + lf16[7] + lf16[8] + 4) // 8 AS c2
      |  FROM z0),
      |ch2 AS (SELECT *,
      |    (4 * c1 + 4 * c2 + 4) // 8 AS c3,
      |    (t16[9] + t16[10] + t16[11] + t16[12] + 4 * c1 + 4) // 8 AS c4,
      |    (4 * c2 + lf16[9] + lf16[10] + lf16[11] + lf16[12] + 4) // 8 AS c8
      |  FROM ch1),
      |ch3 AS (SELECT *,
      |    (t16[13] + t16[14] + t16[15] + t16[16] + 4 * c4 + 4) // 8 AS c5,
      |    (4 * c4 + 4 * c3 + 4) // 8 AS c6,
      |    (4 * c3 + 4 * c8 + 4) // 8 AS c9,
      |    (4 * c8 + lf16[13] + lf16[14] + lf16[15] + lf16[16] + 4) // 8 AS c10
      |  FROM ch2),
      |ch4 AS (SELECT *,
      |    (4 * c5 + 4 * c6 + 4) // 8 AS c7,
      |    (4 * c9 + 4 * c10 + 4) // 8 AS c11,
      |    (4 * c6 + 4 * c9 + 4) // 8 AS c12
      |  FROM ch3),
      |ch5 AS (SELECT *,
      |    (4 * c7 + 4 * c12 + 4) // 8 AS c13,
      |    (4 * c12 + 4 * c11 + 4) // 8 AS c14
      |  FROM ch4),
      |ch6 AS (SELECT *,
      |    (4 * c13 + 4 * c14 + 4) // 8 AS c15
      |  FROM ch5),
      |mv AS (SELECT *,
      |    [CAST(0 AS BIGINT), c1, c4, c5, c2, c3, c6, c7,
      |     c8, c9, c12, c13, c10, c11, c14, c15] AS mbc
      |  FROM ch6),
      |px AS (SELECT doc_id, n, fr,
      |    list_transform(range(1024), g ->
      |      CASE
      |        WHEN g % 32 < 16 AND g // 32 < 16
      |          THEN p0v[CAST((g // 32) * 16 + g % 32 AS INT) + 1]
      |        WHEN g % 32 >= 16 AND g // 32 < 16
      |          THEN least(255, greatest(0,
      |            l0[CAST(g // 32 AS INT) + 1]
      |            + dcr1[CAST((g // 32 // 4) * 4 + (g % 32 - 16) // 4 AS INT) + 1]))
      |        WHEN g % 32 < 16 AND g // 32 >= 16
      |          THEN least(255, greatest(0,
      |            b0[CAST(g % 32 AS INT) + 1]
      |            + dcr2[CAST(((g // 32 - 16) // 4) * 4 + (g % 32) // 4 AS INT) + 1]))
      |        WHEN q = 0
      |          THEN least(255, greatest(0,
      |            (aa + bb * ((g % 32 - 16) - 7) + cc2 * ((g // 32 - 16) - 7)
      |             + 16 + 32000) // 32 - 1000))
      |        WHEN (g // 32 - 16) // 4 = 0 AND (g % 32 - 16) // 4 = 0
      |          THEN z0p[CAST(((g // 32 - 16) % 4) * 4 + (g % 32 - 16) % 4 AS INT) + 1]
      |        ELSE mbc[CAST(((g // 32 - 16) // 4) * 4 + (g % 32 - 16) // 4 AS INT) + 1]
      |      END) AS vals
      |  FROM mv),
      |cc AS (SELECT doc_id, n, fr, vals,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
      |      (a, b) -> a + b) AS ys
      |  FROM px)
      |SELECT doc_id, max(n) AS n_frames, 32 AS width, 32 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(max(n) * 32768 AS BIGINT) AS cb_sum,
      |  CAST(max(n) * 32768 AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(vals ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
      |FROM cc GROUP BY doc_id""".stripMargin
  }

  // ---- m38: chroma residuals -----------------------------------------

  /** m38: CHROMA RESIDUALS under the hash gate — the first rung where
    * the chroma planes stop being flat: per document, single-MB
    * frames carry a 2×2 Intra ChromaDCLevel per component (CAVLC in
    * the nC = −1 chroma-DC column of Table 9-5, inverse 2×2 Hadamard
    * + §8.5.11 dequant at the Table 8-15 chroma QP) and, on
    * alternating frames, ChromaACLevel blocks (CodedBlockPatternChroma
    * 2). Macroblock kinds alternate per doc: I_16x16 (whose mb_type
    * rows 17..24 now carry the chroma cbp) and I_4x4 (whose
    * coded_block_pattern walks the carried Table 9-4 intra rows —
    * cbp 31, 47, and the luma-free chroma-DC-only cbp 16). Chroma
    * prediction stays flat 128 on single MBs, so the oracle is the
    * same exact linear machinery as the luma gates; the sums AND the
    * fingerprint now fold all THREE decoded planes.
    *
    * 100 TB shape: the m33..m37 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m38ChromaResiduals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    import Codecs.Mp4.{ChromaRes, I16Mb, I4Mb}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (2 + id % 3).toInt
          val q = (id % 2).toInt
          val nals = (0 until n).map { f =>
            val fc = ((id * 31 + f * 7) % 3).toInt
            // chroma: lone DC coefficient per component; Cb gets one
            // strided AC block when the frame class says cbp 2
            val cbDc = new Array[Int](4)
            cbDc(((id + f) % 4).toInt) =
              sgn(id + f) * (1 + ((id * 2 + f) % 5)).toInt
            val crDc = new Array[Int](4)
            crDc(((id * 3 + f) % 4).toInt) =
              sgn(id + f + 1) * (1 + ((id + f * 2) % 5)).toInt
            val cbAc =
              if (fc != 1) null
              else {
                val bab = ((id + f) % 4).toInt
                val scb = 1 + ((id + f + 1) % 3).toInt
                val pcb = 1 + ((id * 3 + f + 1) % 4).toInt
                val a = new Array[Int](15)
                for (k <- 1 to pcb)
                  a(k * scb - 1) =
                    sgn(id + f + k + 1) * (1 + ((id + f + k * 7) % 9)).toInt
                val arr = Array.fill(4)(null: Array[Int]); arr(bab) = a
                arr
              }
            val chroma = ChromaRes(cbDc, cbAc, crDc,
              if (fc == 1) Array.fill(4)(null: Array[Int]) else null)
            val mbk: Codecs.Mp4.IntraMb =
              if (q == 0) {
                // I_16x16: lone luma DC + one strided AC block
                val dcY = new Array[Int](16)
                dcY(zigzag4x4(((id * 13 + f * 11) % 16).toInt)) =
                  sgn(id + f) * (1 + ((id + f * 3) % 7)).toInt
                val baY = ((id * 7 + f) % 16).toInt
                val sY = 1 + ((id + f) % 3).toInt
                val pY = 1 + ((id * 3 + f) % 4).toInt
                val aY = new Array[Int](15)
                for (k <- 1 to pY)
                  aY(k * sY - 1) =
                    sgn(id + f + k) * (1 + ((id + f + k * 5) % 9)).toInt
                val acY = Array.fill(16)(null: Array[Int]); acY(baY) = aY
                I16Mb(dcY, acY, 2, chroma)
              } else if (fc == 2) {
                // cbp 16: chroma DC only, zero luma
                I4Mb(Array.fill(16)(2), Array.fill(16)(null), chroma)
              } else {
                // I_4x4 with the luma residual in the last-in-Z block
                val ld4 = sgn(id + f) * (1 + ((id + f * 3) % 7)).toInt
                val s4 = 1 + ((id + f) % 3).toInt
                val p4 = 1 + ((id * 3 + f) % 4).toInt
                val res43 = new Array[Int](16)
                res43(0) = ld4
                for (k <- 1 to p4)
                  res43(k * s4) =
                    sgn(id + f + k) * (1 + ((id + f + k * 5) % 9)).toInt
                val cf = Array.fill(16)(null: Array[Int]); cf(15) = res43
                I4Mb(Array.fill(16)(2), cf, chroma)
              }
            Seq(Codecs.Mp4.buildMixedIntraSlice(Seq(mbk), 1, 1,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 16, height = 16)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 16, 16, fpChroma = true)
          (id, n, 16, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** Closed-form restatement: luma per the m35/m36 forms (flat-128
    * for the cbp-16 class); chroma per component = flat-128
    * prediction plus the 2×2-Hadamard chroma DC ((±level)·104 at
    * QP 26) through the lone-DC core, with Cb's AC block in the
    * exact linear form on cbp-2 frames. The fingerprint folds
    * y ‖ cb ‖ cr per frame. */
  val m38Sql: String =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n,
      |    CAST(doc_id % 2 AS INT) AS q
      |  FROM documents),
      |f AS (SELECT doc_id, n, q, unnest(range(n)) AS fr FROM d),
      |par AS (SELECT doc_id, n, q, fr,
      |    CAST((doc_id * 31 + fr * 7) % 3 AS INT) AS fc,
      |    CAST((doc_id + fr) % 4 AS INT) AS rcb,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id * 2 + fr) % 5) AS lcb,
      |    CAST((doc_id * 3 + fr) % 4 AS INT) AS rcr,
      |    (CASE WHEN (doc_id + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr * 2) % 5) AS lcr,
      |    CAST((doc_id + fr) % 4 AS INT) AS bab,
      |    1 + (doc_id + fr + 1) % 3 AS scb,
      |    1 + (doc_id * 3 + fr + 1) % 4 AS pcb,
      |    [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |      [CAST((doc_id * 13 + fr * 11) % 16 AS INT) + 1] AS zry,
      |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |      * (1 + (doc_id + fr * 3) % 7) AS ldy,
      |    CAST((doc_id * 7 + fr) % 16 AS INT) AS bay,
      |    1 + (doc_id + fr) % 3 AS sy,
      |    1 + (doc_id * 3 + fr) % 4 AS py
      |  FROM f),
      |cq AS (SELECT *,
      |    list_transform(
      |      list_transform(range(1, 1 + py), k -> {'p': k * sy,
      |        'l': (CASE WHEN (doc_id + fr + k) % 2 = 0 THEN 1 ELSE -1 END)
      |          * (1 + (doc_id + fr + k * 5) % 9)}),
      |      s -> {'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |              [CAST(s.p AS INT) + 1] // 4,
      |            'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |              [CAST(s.p AS INT) + 1] % 4,
      |            'l': s.l}) AS csy0,
      |    list_transform(
      |      list_prepend({'p': 0,
      |          'l': (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
      |            * (1 + (doc_id + fr * 3) % 7)},
      |        list_transform(range(1, 1 + py), k -> {'p': k * sy,
      |          'l': (CASE WHEN (doc_id + fr + k) % 2 = 0 THEN 1 ELSE -1 END)
      |            * (1 + (doc_id + fr + k * 5) % 9)})),
      |      s -> {'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |              [CAST(s.p AS INT) + 1] // 4,
      |            'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |              [CAST(s.p AS INT) + 1] % 4,
      |            'l': s.l}) AS cs43,
      |    list_transform(range(1, 1 + pcb), k -> {
      |      'u': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(k * scb AS INT) + 1] // 4,
      |      'v': [0,1,4,8,5,2,3,6,9,12,13,10,7,11,14,15]
      |        [CAST(k * scb AS INT) + 1] % 4,
      |      'l': (CASE WHEN (doc_id + fr + k + 1) % 2 = 0 THEN 1 ELSE -1 END)
      |        * (1 + (doc_id + fr + k * 7) % 9)}) AS cscb
      |  FROM par),
      |dq AS (SELECT *,
      |    list_transform(csy0, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20 ELSE 16 END) * 16})
      |      AS csy,
      |    list_transform(cs43, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20 ELSE 16 END) * 16})
      |      AS cs43q,
      |    list_transform(cscb, s -> {'u': s.u, 'v': s.v,
      |      'dq': s.l * (CASE WHEN s.u % 2 = 0 AND s.v % 2 = 0 THEN 13
      |        WHEN s.u % 2 = 1 AND s.v % 2 = 1 THEN 20 ELSE 16 END) * 16})
      |      AS cscbq,
      |    list_transform(range(4), b ->
      |      [[1,1],[1,-1]][CAST(b // 2 AS INT) + 1][CAST(rcb // 2 AS INT) + 1]
      |      * [[1,1],[1,-1]][CAST(b % 2 AS INT) + 1][CAST(rcb % 2 AS INT) + 1]
      |      * lcb * 104) AS dcb,
      |    list_transform(range(4), b ->
      |      [[1,1],[1,-1]][CAST(b // 2 AS INT) + 1][CAST(rcr // 2 AS INT) + 1]
      |      * [[1,1],[1,-1]][CAST(b % 2 AS INT) + 1][CAST(rcr % 2 AS INT) + 1]
      |      * lcr * 104) AS dcr
      |  FROM cq),
      |py AS (SELECT *,
      |    list_transform(range(256), g ->
      |      CASE
      |        WHEN q = 0 THEN
      |          least(255, greatest(0, 128 - 1000 + (
      |            4 * ([[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |                  [CAST(((g // 16) // 4) AS INT) + 1]
      |                  [CAST(zry // 4 AS INT) + 1]
      |                * [[1,1,1,1],[1,1,-1,-1],[1,-1,-1,1],[1,-1,1,-1]]
      |                  [CAST(((g % 16) // 4) AS INT) + 1]
      |                  [CAST(zry % 4 AS INT) + 1]
      |                * ldy * 52)
      |            + CASE WHEN ((g // 16) // 4) * 4 + (g % 16) // 4 = bay
      |              THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                list_transform(csy, s ->
      |                  CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                      [CAST((g // 16) % 4 AS INT) + 1][s.u + 1]
      |                    * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                      [CAST((g % 16) % 4 AS INT) + 1][s.v + 1]
      |                    * s.dq AS BIGINT))), (a, b) -> a + b)
      |              ELSE 0 END
      |            + 128 + 256000) // 256))
      |        WHEN fc = 2 THEN 128
      |        WHEN (g // 16) // 4 = 3 AND (g % 16) // 4 = 3 THEN
      |          least(255, greatest(0, 128 - 1000 + (
      |            list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(cs43q, s ->
      |                CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST((g // 16) % 4 AS INT) + 1][s.u + 1]
      |                  * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST((g % 16) % 4 AS INT) + 1][s.v + 1]
      |                  * s.dq AS BIGINT))), (a, b) -> a + b)
      |            + 128 + 256000) // 256))
      |        ELSE 128
      |      END) AS yv,
      |    list_transform(range(64), g ->
      |      least(255, greatest(0,
      |        CASE WHEN fc = 1 AND (g // 8 // 4) * 2 + (g % 8) // 4 = bab
      |          THEN 128 - 1000 +
      |            (4 * dcb[CAST((g // 8 // 4) * 2 + (g % 8) // 4 AS INT) + 1]
      |            + list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(cscbq, s ->
      |                CAST([[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST((g // 8) % 4 AS INT) + 1][s.u + 1]
      |                  * [[2,2,2,1],[2,1,-2,-2],[2,-1,-2,2],[2,-2,2,-1]]
      |                    [CAST((g % 8) % 4 AS INT) + 1][s.v + 1]
      |                  * s.dq AS BIGINT))), (a, b) -> a + b)
      |            + 128 + 256000) // 256
      |          ELSE 128 - 1000 +
      |            (dcb[CAST((g // 8 // 4) * 2 + (g % 8) // 4 AS INT) + 1]
      |            + 32 + 64000) // 64
      |        END))) AS cbv,
      |    list_transform(range(64), g ->
      |      least(255, greatest(0, 128 - 1000 + (
      |        dcr[CAST((g // 8 // 4) * 2 + (g % 8) // 4 AS INT) + 1]
      |        + 32 + 64000) // 64))) AS crv
      |  FROM dq),
      |cc AS (SELECT doc_id, n, fr,
      |    list_concat(list_concat(yv, cbv), crv) AS vals,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), yv),
      |      (a, b) -> a + b) AS ys,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), cbv),
      |      (a, b) -> a + b) AS cbs,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), crv),
      |      (a, b) -> a + b) AS crs
      |  FROM py)
      |SELECT doc_id, max(n) AS n_frames, 16 AS width, 16 AS height,
      |  CAST(sum(ys) AS BIGINT) AS y_sum,
      |  CAST(sum(cbs) AS BIGINT) AS cb_sum,
      |  CAST(sum(crs) AS BIGINT) AS cr_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    flatten(list(vals ORDER BY fr))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
      |FROM cc GROUP BY doc_id""".stripMargin

  val m32Sql: String =
    """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 5 AS INT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, unnest(range(n)) AS f FROM d),
      |per AS (SELECT doc_id, n,
      |    17 + (doc_id * 13 + f * 7) % 40
      |      + CASE WHEN 17 + (doc_id * 13 + f * 7) % 40 >= 30
      |        THEN 8 ELSE 4 END AS sbytes
      |  FROM f),
      |agg AS (SELECT doc_id, max(n) AS n,
      |    CAST(sum(sbytes) AS BIGINT) AS sample_bytes
      |  FROM per GROUP BY 1),
      |pl AS (SELECT doc_id, n, sample_bytes,
      |    (n * 3000 // 2) // 3000 + 1 AS s FROM agg)
      |SELECT doc_id, n AS n_samples,
      |  CAST((n * 3000 // 2) * 1000 // 90000 AS BIGINT) AS target_ms,
      |  CAST(s AS INT) AS seek_sample,
      |  CAST((s - 1) // 3 * 3 + 1 AS INT) AS start_sync,
      |  CAST(s - ((s - 1) // 3 * 3 + 1) AS INT) AS n_discard,
      |  CAST(sample_bytes * 8 * 90000 // (n * 3000) AS BIGINT)
      |    AS bitrate_bps
      |FROM pl""".stripMargin

  // ---- m39: §8.7 in-loop deblocking ----------------------------------

  /** m39: the DEBLOCKING rung under the hash gate (reference anchor:
    * run.sh:53 `decodebin` — every real encoder leaves the §8.7
    * filter on, and round 13's fixtures required it without applying
    * it). Per document, a deterministic intra stream is built with
    * `disable_deblocking_filter_idc = 0` in each slice header, muxed
    * into real MP4, decoded through container walk → SPS/PPS → CAVLC
    * intra decode → the in-loop filter, and hash-gated on all three
    * planes. Three document classes, each y-uniform by construction
    * so the whole filter collapses to the vertical pass on one
    * characteristic row (columns are constant along y, so every
    * horizontal edge sees p = q and is a provable no-op — the oracle
    * restates exactly that row):
    *
    * kind 0 — two I_16x16 macroblocks with lone-DC luma steps: the
    * bS = 4 macroblock edge walks the strong (|p0−q0| < (α≫2)+2),
    * weak, and filterSamplesFlag-off (|δ| ≥ α) branches as the step
    * height sweeps ±{1..16}, and the bS = 3 internal edges catch the
    * second-order ripple where the strong filter's q1' feeds the
    * next edge's ap test. kind 1 — flat luma with lone chroma DC
    * residuals in MB1: the chroma bS = 4 two-tap filter at the
    * macroblock edge (QPC = QPY at 26). kind 2 — one I_4x4
    * macroblock whose right column of blocks carries a lone-DC step
    * (DC + horizontal prediction keeps it y-uniform): the full
    * bS = 3 path — clipped Δ with tC = tC0 + ap + aq, and the
    * tC0-clipped p1/q1 adjustments.
    *
    * 100 TB shape: the m33..m38 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m39Deblock(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Codecs
    import Codecs.Mp4.{ChromaRes, I16Mb, I4Mb}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        // lone-DC magnitudes sweeping the luma step δ = (52m+32)>>6
        // through ±{1,2,3,4 | strong} {5,6,7,10,13 | weak} {15,16 | off}
        val lmags = Array(1, 2, 4, 5, 6, 7, 8, 12, 16, 18, 20)
        // chroma DC magnitudes: δc = (104m+32)>>6 ∈ {2,3,5,7,8,10,13,16}
        val cmags = Array(1, 2, 3, 4, 5, 6, 8, 10)
        it.map { id =>
          val n = (2 + id % 3).toInt
          val kind = (id % 3).toInt
          val w = if (kind == 2) 16 else 32
          val noAc = Array.fill(16)(null: Array[Int])
          val nals = (0 until n).map { f =>
            val nal = kind match {
              case 0 =>
                val c0 = sgn(id + f) * (1 + ((id + f * 3) % 5)).toInt
                val c1 = sgn(id * 3 + f) *
                  lmags(((id * 7 + f * 11) % 11).toInt)
                val dc0 = new Array[Int](16); dc0(0) = c0
                val dc1 = new Array[Int](16); dc1(0) = c1
                Codecs.Mp4.buildI16x16Slice(Seq((dc0, noAc), (dc1, noAc)),
                  2, 1, frameNum = 0, frameNumBits = 4, idrPicId = f % 8,
                  deblockIdc = 0)
              case 1 =>
                val cbc = sgn(id + f) * cmags(((id * 2 + f) % 8).toInt)
                val crc = sgn(id + f + 1) * cmags(((id + f * 3) % 8).toInt)
                val cbDc = new Array[Int](4); cbDc(0) = cbc
                val crDc = new Array[Int](4); crDc(0) = crc
                Codecs.Mp4.buildMixedIntraSlice(Seq(
                  I16Mb(new Array[Int](16), noAc),
                  I16Mb(new Array[Int](16), noAc, 2,
                    ChromaRes(cbDc, null, crDc, null))),
                  2, 1, frameNum = 0, frameNumBits = 4, idrPicId = f % 8,
                  deblockIdc = 0)
              case _ =>
                val c4 = sgn(id * 5 + f) * (1 + ((id * 5 + f * 3) % 5)).toInt
                // right column of 4x4 blocks: DC pred at the top row
                // then horizontal below — uniform 128 prediction, so
                // the lone-DC residual is a clean y-uniform step
                val modes = Array.fill(16)(2)
                modes(7) = 1; modes(11) = 1; modes(15) = 1
                val coeffs = Array.fill(16)(null: Array[Int])
                for (bi <- Seq(3, 7, 11, 15)) {
                  val a = new Array[Int](16); a(0) = c4; coeffs(bi) = a
                }
                Codecs.Mp4.buildMixedIntraSlice(
                  Seq(I4Mb(modes, coeffs)), 1, 1,
                  frameNum = 0, frameNumBits = 4, idrPicId = f % 8,
                  deblockIdc = 0)
            }
            Seq(nal)
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = w, height = 16)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, w, 16, fpChroma = true)
          (id, n, w, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  // ---- m40: CABAC entropy decode --------------------------------------

  /** m40: CABAC under the hash gate (reference anchor: run.sh:53
    * `decodebin` — CABAC is the default entropy coder of every
    * main/high-profile encoder, and was the biggest envelope refusal
    * a real file hit). Per document, the EXACT m35 coefficient
    * fixture (`SyntheticMedia.i16Coeffs`: lone zigzag DC +
    * strided/dense AC classes walking the neighbour-context space)
    * is entropy-coded with the §9.3 arithmetic coder instead of
    * CAVLC — context-initialized I-slice models,
    * mb_type/chroma-mode/qp-delta bins, residual significance maps,
    * TU+UEG0 levels, bypass signs, per-MB terminate — muxed into real MP4 with a CABAC PPS
    * (entropy_coding_mode_flag = 1), and decoded back through
    * container walk → PPS dispatch → §9.3.3.2 arithmetic decode →
    * the same reconstruction. The pixels are entropy-coder-invariant
    * by construction, so the oracle IS m35's closed form — any
    * engine/grammar asymmetry breaks the hash.
    *
    * 100 TB shape: the m33..m39 contract — encode + decode run
    * partition-local per document, one row out per doc. */
  def m40CabacDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Cabac, Codecs}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        val cabacPps = Cabac.buildPps()
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            val (dc, ac) = SyntheticMedia.i16Coeffs(id, f)
            Seq(Cabac.buildI16x16Slice(dc, ac,
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 16, height = 16,
            ppsOverride = cabacPps)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 16, 16, fpChroma = false)
          (id, n, 16, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** The decoded pixels are entropy-coder-invariant, so m40's oracle
    * is m35's closed form verbatim. */
  val m40Sql: String = m35Sql

  // ---- m41: inter frames (P slices) -----------------------------------

  /** m41: INTER PREDICTION under the hash gate (reference anchor:
    * run.sh:53 `decodebin` — virtually all real video bits are
    * inter-coded; P slices were the largest remaining refusal after
    * m40). Per document, the `SyntheticMedia.pGopDigest` clip: one
    * IDR I_16x16 frame (two macroblocks, lone-DC luma step + a
    * chroma-DC step in MB1 — the m39 fixture arithmetic with the
    * filter off) followed by 1–3 P frames, each either ALL-SKIP
    * (§8.4.1.1 zero-MV derivation → an exact copy) or, here,
    * all-P_L0_16x16 with one horizontal full-pel MV per frame (so
    * luma MC is a clamped gather; the chroma MV lands on eighth
    * positions, so the §8.4.2.2.2 bilinear runs for real whenever
    * the MV is not a multiple of 8). The builder derives mvd against
    * the same §8.4.1.3 median prediction the decoder runs — the
    * first MB codes the full MV, its neighbours code mvd 0 through
    * the B/C-unavailable → mvA rule.
    *
    * The fixtures stay y-uniform (horizontal MVs only), so the
    * oracle restates each frame as one characteristic row: the luma
    * row evolves by the xFrac-0 (clamped gather) case of the
    * quarter-pel row step, the chroma rows by the exact bilinear,
    * unrolled over the ≤ 3 P steps.
    *
    * 100 TB shape: the m33..m40 contract — encode + decode run
    * partition-local per document, one row out per doc; the
    * reference picture never leaves the partition (the DPB is
    * per-task state, exactly how a 1000-executor scan would hold
    * it). */
  def m41InterDecode(spark: SparkSession, dir: String): DataFrame = {
    val shifts = Array(-16, -12, -8, -4, 4, 8, 12, 16)
    pGopQuery(spark, dir) { (id, f) =>
      val dx = shifts(((id * 5 + f * 3) % 8).toInt)
      Seq(Inter.PMove(dx, 0), Inter.PMove(dx, 0))
    }
  }

  /** m41's MV column: P frame `f`'s luma shift in quarter pels. */
  private def m41DxSql(f: Int): String =
    s"""[-16,-12,-8,-4,4,8,12,16]
       |    [CAST((doc_id * 5 + $f * 3) % 8 AS INT) + 1]""".stripMargin

  val m41Sql: String = sqlPGop(m41DxSql)

  /** m41–m43's query: one row per document, its
    * `SyntheticMedia.pGopDigest` clip with P frame f's macroblocks
    * from `moved(id, f)`. */
  private def pGopQuery(spark: SparkSession, dir: String)(
      moved: (Long, Int) => Seq[Inter.PMb]): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .map { id =>
        val (n, ys, cbs, crs, fp) = SyntheticMedia.pGopDigest(id)(moved(id, _))
        (id, n, 32, 16, ys, cbs, crs, fp)
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** §8.4.2.2.2 one-row chroma bilinear of 1-indexed `len`-list `r`
    * by luma quarter-pel shift `dq` (yFrac 0): base = floor(dq/8),
    * frac = dq − 8·base. */
  private def sqlBilin(r: String, dq: String, len: Int): String = {
    val base = s"(($dq) + 64000) // 8 - 8000"
    val frac = s"(($dq) - 8 * ($base))"
    s"""list_transform(range($len), x ->
       |  ((8 - ($frac)) * $r[least(${len - 1}, greatest(0,
       |      CAST(x + ($base) AS INT))) + 1]
       |   + ($frac) * $r[least(${len - 1}, greatest(0,
       |      CAST(x + ($base) + 1 AS INT))) + 1] + 4) // 8)""".stripMargin
  }

  /** §8.4.2.2.1 quarter-pel row step on a 1-indexed `len`-list `r`
    * by quarter-pel shift `dq`: full (a clamped gather) / half
    * (6-tap, +16 ≫ 5, clipped) / quarter (rounded average against
    * the flanking integer sample) by xFrac. The (possibly negative)
    * 6-tap numerator may be divided with truncating `//` because the
    * result is clamped at 0 either way. With `offs`, the 1-indexed
    * per-4×4-column residual-offset list is added under Clip1. */
  private def sqlQpelRow(r: String, dq: String, len: Int,
      offs: Option[String] = None): String = {
    val s = s"(($dq) + 32000) // 4 - 8000"
    val xf = s"(($dq) - 4 * ($s))"
    def at(off: Int) =
      s"$r[least(${len - 1}, greatest(0, " +
        s"CAST(x + ($s) + ($off) AS INT))) + 1]"
    val hs = s"(${at(-2)} - 5*${at(-1)} + 20*${at(0)} + " +
      s"20*${at(1)} - 5*${at(2)} + ${at(3)})"
    val b = s"least(255, greatest(0, ($hs + 16) // 32))"
    val pred =
      s"""CASE ($xf)
         |  WHEN 0 THEN ${at(0)}
         |  WHEN 2 THEN $b
         |  WHEN 1 THEN (${at(0)} + $b + 1) // 2
         |  ELSE ($b + ${at(1)} + 1) // 2 END""".stripMargin
    val px = offs.fold(pred)(o =>
      s"least(255, greatest(0,\n  ($pred)\n  + $o[CAST(x // 4 AS INT) + 1]))")
    s"list_transform(range($len), x -> $px)"
  }

  /** Closed-form restatement of the `SyntheticMedia.pGopDigest` clip
    * (m41–m43): the I frame per the m39 arithmetic with the filter
    * off (two uniform luma macroblocks, a chroma step in MB1), then
    * each P frame f's characteristic rows evolve by the quarter-pel
    * row step (luma) and the §8.4.2.2.2 bilinear (chroma) under the
    * luma shift d_f — 0 on a skipped frame, else the rung's MV column
    * `mv(f)` — unrolled over the ≤ 3 P steps. `offs(f)`, when given,
    * is P frame f's 8-entry residual-offset list (m43). */
  private def sqlPGop(mv: Int => String,
      offs: Option[Int => String] = None): String = {
    val v0 = s"least(255, greatest(0, 128 + (${fdiv("52*c0 + 32", 64)})))"
    val off1 = fdiv("52*c1 + 32", 64)
    val offCb = fdiv("104*cbc + 32", 64)
    val offCr = fdiv("104*crc + 32", 64)
    val steps = 1 to 3
    val pCols = steps.map { f =>
      s"""    CASE WHEN (doc_id + $f) % 4 = 0 THEN 0
         |      ELSE ${mv(f)} END AS d$f""".stripMargin
    } ++ offs.toSeq.flatMap(o => steps.map(f => s"    ${o(f)} AS o$f"))
    val rows = steps.map { f =>
      val (p, o) = (f - 1, offs.map(_ => s"o$f"))
      s"""r$f AS (SELECT *,
         |    ${sqlQpelRow(s"lr$p", s"d$f", 32, o)} AS lr$f,
         |    ${sqlBilin(s"cbr$p", s"d$f", 16)} AS cbr$f,
         |    ${sqlBilin(s"crr$p", s"d$f", 16)} AS crr$f
         |  FROM r$p),""".stripMargin
    }
    def pick(c: String): String =
      s"CASE f WHEN 0 THEN ${c}0 WHEN 1 THEN ${c}1 WHEN 2 THEN ${c}2\n" +
        s"      ELSE ${c}3 END AS $c"
    s"""WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
       |  FROM documents),
       |par AS (SELECT doc_id, n,
       |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)
       |      * (1 + doc_id % 5) AS c0,
       |    (CASE WHEN (doc_id * 3) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,4,5,6,7,8,12,16,18,20]
       |          [CAST(doc_id * 7 % 11 AS INT) + 1]) AS c1,
       |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST(doc_id * 2 % 8 AS INT) + 1]) AS cbc,
       |    (CASE WHEN (doc_id + 1) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST(doc_id * 3 % 8 AS INT) + 1]) AS crc,
       |${pCols.mkString(",\n")}
       |  FROM d),
       |r0 AS (SELECT *,
       |    list_concat(
       |      list_transform(range(16), x -> CAST($v0 AS BIGINT)),
       |      list_transform(range(16), x ->
       |        CAST(least(255, greatest(0, ($v0) + ($off1))) AS BIGINT)))
       |      AS lr0,
       |    list_concat(
       |      list_transform(range(8), x -> CAST(128 AS BIGINT)),
       |      list_transform(range(8), x ->
       |        CAST(least(255, greatest(0, 128 + ($offCb))) AS BIGINT)))
       |      AS cbr0,
       |    list_concat(
       |      list_transform(range(8), x -> CAST(128 AS BIGINT)),
       |      list_transform(range(8), x ->
       |        CAST(least(255, greatest(0, 128 + ($offCr))) AS BIGINT)))
       |      AS crr0
       |  FROM par),
       |${rows.mkString("\n")}
       |pf AS (SELECT doc_id, n, f, ${pick("lr")},
       |    ${pick("cbr")},
       |    ${pick("crr")}
       |  FROM (SELECT *, unnest(range(n)) AS f FROM r3)),
       |per AS (SELECT doc_id, n, f,
       |    16 * list_reduce(list_prepend(CAST(0 AS BIGINT), lr),
       |      (a, b) -> a + b) AS ys,
       |    8 * list_reduce(list_prepend(CAST(0 AS BIGINT), cbr),
       |      (a, b) -> a + b) AS cbs,
       |    8 * list_reduce(list_prepend(CAST(0 AS BIGINT), crr),
       |      (a, b) -> a + b) AS crs,
       |    flatten(list_transform(range(16), x -> lr))
       |      || flatten(list_transform(range(8), x -> cbr))
       |      || flatten(list_transform(range(8), x -> crr)) AS vals
       |  FROM pf)
       |SELECT doc_id, max(n) AS n_frames, 32 AS width, 16 AS height,
       |  CAST(sum(ys) AS BIGINT) AS y_sum,
       |  CAST(sum(cbs) AS BIGINT) AS cb_sum,
       |  CAST(sum(crs) AS BIGINT) AS cr_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    flatten(list(vals ORDER BY f))),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
       |FROM per GROUP BY doc_id""".stripMargin
  }

  // ---- m42: quarter-pel inter interpolation ---------------------------

  /** m42: QUARTER-SAMPLE MOTION under the hash gate — the
    * `SyntheticMedia.pGopDigest` clip with FRACTIONAL MVs in both
    * axes: the §8.4.2.2.1 6-tap half-sample filter (centre position
    * from unrounded intermediates), the Table 8-12 quarter averages,
    * and the chroma eighth-pel bilinear at arbitrary (xF, yF).
    *
    * Oracle reduction, proved by the filter arithmetic: the fixture
    * pictures are Y-UNIFORM, and the 6-tap's taps sum to 32, so
    * every vertical filter pass is an exact identity
    * ((32·L+16)≫5 = L; j = (32·hsum+512)≫10 = (hsum+16)≫5 = b) and
    * all 16 (xF, yF) positions collapse to the xF-only row values —
    * the oracle restates just the horizontal 6-tap/quarter-average
    * row step, while the decoded path still executes the full 2-D
    * interpolation (the 2-D positions themselves are pinned against
    * a vertical-first restatement in Round14bSpec). Chroma likewise:
    * on y-uniform rows the bilinear's yF terms cancel exactly.
    *
    * 100 TB shape: the m33..m41 contract — per-doc encode + decode
    * inside one partition pass, one row out. */
  def m42QpelDecode(spark: SparkSession, dir: String): DataFrame =
    pGopQuery(spark, dir) { (id, f) =>
      val mv = qpelMove(id, f)
      Seq(mv, mv)
    }

  // quarter-pel: every xFrac class, both signs, incl. full-pel
  private val qpelDxs = Array(-10, -7, -6, -5, -3, -2, 2, 3, 5, 6, 7, 8)
  private val qpelDys = Array(-9, -5, -2, 0, 2, 5, 9, 12)

  /** m42's (and m43's) MV of a moved P frame `f`. */
  private def qpelMove(id: Long, f: Int): Inter.PMove =
    Inter.PMove(qpelDxs(((id * 5 + f * 3) % 12).toInt),
      qpelDys(((id * 3 + f * 7) % 8).toInt))

  /** `qpelMove`'s horizontal component as the oracle's MV column. */
  private def qpelDxSql(f: Int): String =
    s"""[-10,-7,-6,-5,-3,-2,2,3,5,6,7,8]
       |    [CAST((doc_id * 5 + $f * 3) % 12 AS INT) + 1]""".stripMargin

  /** Closed-form restatement of m42 (see the query scaladoc for the
    * y-uniform reduction that folds yFrac out exactly). */
  val m42Sql: String = sqlPGop(qpelDxSql)

  // ---- m43: residual-coded inter macroblocks --------------------------

  /** m43: MOTION COMPENSATION + TRANSFORM-CODED RESIDUAL under the
    * hash gate — the `SyntheticMedia.pGopDigest` clip with m42's MVs
    * where some P frames carry CodedBlockPatternLuma 15 macroblocks:
    * per frame, two 4×4 block COLUMNS get a lone scan-0
    * LumaLevel4x4 coefficient in all four block rows (uniform
    * (208·c+32)≫6 offsets — y-uniformity holds), CAVLC-coded under
    * the §9.2.1 nC grid that now spans skipped, residual-free and
    * coded inter macroblocks, then added onto the quarter-pel
    * prediction with Clip1. The Table 9-4 INTER column's carried
    * rows are {0 ↦ 0, 11 ↦ 15}; other patterns refuse.
    *
    * 100 TB shape: the m33..m42 contract — per-doc encode + decode
    * inside one partition pass, one row out. */
  def m43InterResidual(spark: SparkSession, dir: String): DataFrame =
    pGopQuery(spark, dir) { (id, f) =>
      val mv = qpelMove(id, f)
      if ((id + f) % 4 != 2) Seq(mv, mv)
      else {
        // residual frame: lone scan-0 coefficients in two
        // distinct 4x4 block columns (of the 8 across 2 MBs)
        val g1 = ((id * 3 + f) % 8).toInt
        val g2 = (g1 + 1 + ((id + f) % 7).toInt) % 8
        val cA = sgn(id + f) * (1 + ((id + f * 3) % 4)).toInt
        val cB = sgn(id + f + 1) * (1 + ((id * 3 + f) % 4)).toInt
        val per = Array.fill(2)(Array.fill(16)(null: Array[Int]))
        for ((g, c) <- Seq((g1, cA), (g2, cB)); by <- 0 until 4) {
          val a = new Array[Int](16); a(0) = c
          per(g / 4)(by * 4 + g % 4) = a
        }
        per.toSeq.map { co =>
          if (co.exists(_ != null)) Inter.PMoveRes(mv.mvxQpel, mv.mvyQpel, co)
          else mv
        }
      }
    }

  /** Closed-form restatement of m43: m42's evolution with per-frame
    * residual-offset lists (lone scan-0 coefficient c → uniform
    * (208·c+32)≫6 over its 4×4 column) added under Clip1. */
  val m43Sql: String = {
    def offCol(f: Int): String = {
      val g1 = s"CAST((doc_id * 3 + $f) % 8 AS INT)"
      val g2 = s"CAST(($g1 + 1 + (doc_id + $f) % 7) % 8 AS INT)"
      val cA = s"(CASE WHEN (doc_id + $f) % 2 = 0 THEN 1 ELSE -1 END)" +
        s" * (1 + (doc_id + $f * 3) % 4)"
      val cB = s"(CASE WHEN (doc_id + $f + 1) % 2 = 0 THEN 1 ELSE -1 END)" +
        s" * (1 + (doc_id * 3 + $f) % 4)"
      s"""CASE WHEN (doc_id + $f) % 4 = 2 THEN
         |  list_transform(range(8), g -> CAST(
         |    CASE WHEN g = $g1 THEN ${fdiv(s"208 * ($cA) + 32", 64)}
         |      WHEN g = $g2 THEN ${fdiv(s"208 * ($cB) + 32", 64)}
         |      ELSE 0 END AS BIGINT))
         |  ELSE list_transform(range(8), g -> CAST(0 AS BIGINT)) END"""
        .stripMargin
    }
    sqlPGop(qpelDxSql, Some(offCol))
  }

  // ---- m44: multi-MB CABAC with chroma residuals ----------------------

  /** m44: CABAC ACROSS MACROBLOCKS under the hash gate — an I_16x16
    * macroblock ROW whose context increments genuinely chain: the
    * mb_type prefix bin reads the left neighbour's type, the cat-0
    * coded_block_flag chains on the left MB's DC cbf, and the cat-3
    * CHROMA-DC residuals (the first chroma decode under CABAC) chain
    * per component — with the intra default (1) at the picture edge
    * and the decoded cbf inside. Reconstruction chains too: MB1's
    * luma DC prediction reads MB0's reconstructed right edge, and
    * its per-quadrant chroma prediction reads MB0's reconstructed
    * chroma, so a wrong bin anywhere shifts every later pixel.
    *
    * 100 TB shape: the m33..m43 contract — per-doc encode + decode
    * inside one partition pass, one row out. */
  def m44CabacChroma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Cabac, Codecs}
    Tables.spread(Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        val lmags = Array(1, 2, 4, 5, 6, 7, 8, 12, 16, 18, 20)
        val cmags = Array(1, 2, 3, 4, 5, 6, 8, 10)
        val noAc = Array.fill(16)(null: Array[Int])
        val cabacPps = Cabac.buildPps()
        it.map { id =>
          val n = (2 + id % 3).toInt
          val nals = (0 until n).map { f =>
            val c0 = sgn(id + f) * (1 + ((id + f * 3) % 5)).toInt
            val c1 = sgn(id * 3 + f) * lmags(((id * 7 + f * 11) % 11).toInt)
            val cbc1 = sgn(id + f) * cmags(((id * 2 + f) % 8).toInt)
            val crc1 = sgn(id + f + 1) * cmags(((id + f * 3) % 8).toInt)
            val mb0Chroma = (id + f) % 2 == 0
            val cbc0 =
              if (mb0Chroma) sgn(id * 5 + f) * cmags(((id + f * 5) % 8).toInt)
              else 0
            val crc0 =
              if (mb0Chroma)
                sgn(id * 5 + f + 1) * cmags(((id * 3 + f * 7) % 8).toInt)
              else 0
            val dc0 = new Array[Int](16); dc0(0) = c0
            val dc1 = new Array[Int](16); dc1(0) = c1
            Seq(Cabac.buildI16x16Row(Seq(
              Cabac.CabacI16(dc0, noAc, cbc0, crc0),
              Cabac.CabacI16(dc1, noAc, cbc1, crc1)),
              frameNum = 0, frameNumBits = 4, idrPicId = f % 8))
          }
          val mp4 = Codecs.Mp4.mux(nals, keyframes = (1 to n),
            timescale = 90000, sampleDelta = 3000, width = 32, height = 16,
            ppsOverride = cabacPps)
          val (ys, cbs, crs, fp) =
            SyntheticMedia.gopDigest(mp4, n, 32, 16, fpChroma = true)
          (id, n, 32, 16, ys, cbs, crs, fp)
        }
      }.toDF("doc_id", "n_frames", "width", "height", "y_sum",
        "cb_sum", "cr_sum", "pix_fp")
  }

  /** Closed-form restatement of m44: two uniform luma macroblocks
    * (lone DC, MB1 predicted from MB0's edge) and PER-MB uniform
    * chroma where MB1's prediction chains on MB0's reconstructed
    * value: cb0 = clip(128 + (104·cbc0+32)≫6),
    * cb1 = clip(cb0 + (104·cbc1+32)≫6). */
  val m44Sql: String = {
    val v0 = s"least(255, greatest(0, 128 + (${fdiv("52*c0 + 32", 64)})))"
    val off1 = fdiv("52*c1 + 32", 64)
    val offCb0 = fdiv("104*cbc0 + 32", 64)
    val offCb1 = fdiv("104*cbc1 + 32", 64)
    val offCr0 = fdiv("104*crc0 + 32", 64)
    val offCr1 = fdiv("104*crc1 + 32", 64)
    s"""WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n
       |  FROM documents),
       |f AS (SELECT doc_id, n, unnest(range(n)) AS fr FROM d),
       |par AS (SELECT doc_id, n, fr,
       |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * (1 + (doc_id + fr * 3) % 5) AS c0,
       |    (CASE WHEN (doc_id * 3 + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,4,5,6,7,8,12,16,18,20]
       |          [CAST((doc_id * 7 + fr * 11) % 11 AS INT) + 1]) AS c1,
       |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST((doc_id * 2 + fr) % 8 AS INT) + 1]) AS cbc1,
       |    (CASE WHEN (doc_id + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST((doc_id + fr * 3) % 8 AS INT) + 1]) AS crc1,
       |    CASE WHEN (doc_id + fr) % 2 = 0 THEN
       |      (CASE WHEN (doc_id * 5 + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |        * ([1,2,3,4,5,6,8,10]
       |            [CAST((doc_id + fr * 5) % 8 AS INT) + 1])
       |      ELSE 0 END AS cbc0,
       |    CASE WHEN (doc_id + fr) % 2 = 0 THEN
       |      (CASE WHEN (doc_id * 5 + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
       |        * ([1,2,3,4,5,6,8,10]
       |            [CAST((doc_id * 3 + fr * 7) % 8 AS INT) + 1])
       |      ELSE 0 END AS crc0
       |  FROM f),
       |vals AS (SELECT doc_id, n, fr, cbc1, crc1,
       |    CAST($v0 AS BIGINT) AS v0,
       |    CAST(least(255, greatest(0, ($v0) + ($off1))) AS BIGINT) AS v1,
       |    CAST(least(255, greatest(0, 128 + ($offCb0))) AS BIGINT) AS cb0,
       |    CAST(least(255, greatest(0, 128 + ($offCr0))) AS BIGINT) AS cr0
       |  FROM par),
       |vals2 AS (SELECT doc_id, n, fr, v0, v1, cb0, cr0,
       |    CAST(least(255, greatest(0, cb0 + ($offCb1))) AS BIGINT) AS cb1,
       |    CAST(least(255, greatest(0, cr0 + ($offCr1))) AS BIGINT) AS cr1
       |  FROM vals),
       |per AS (SELECT doc_id, n, fr,
       |    16 * (16 * v0 + 16 * v1) AS ys,
       |    8 * (8 * cb0 + 8 * cb1) AS cbs,
       |    8 * (8 * cr0 + 8 * cr1) AS crs,
       |    flatten(list_transform(range(16), x ->
       |      list_transform(range(32), z ->
       |        CASE WHEN z < 16 THEN v0 ELSE v1 END)))
       |      || flatten(list_transform(range(8), x ->
       |        list_transform(range(16), z ->
       |          CASE WHEN z < 8 THEN cb0 ELSE cb1 END)))
       |      || flatten(list_transform(range(8), x ->
       |        list_transform(range(16), z ->
       |          CASE WHEN z < 8 THEN cr0 ELSE cr1 END))) AS vals
       |  FROM vals2)
       |SELECT doc_id, max(n) AS n_frames, 32 AS width, 16 AS height,
       |  CAST(sum(ys) AS BIGINT) AS y_sum,
       |  CAST(sum(cbs) AS BIGINT) AS cb_sum,
       |  CAST(sum(crs) AS BIGINT) AS cr_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    flatten(list(vals ORDER BY fr))),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
       |FROM per GROUP BY doc_id""".stripMargin
  }

  /** Integer floor division for possibly-negative numerators in
    * DuckDB (whose `//` truncates toward zero): offset by `k`
    * denominators, divide, subtract. */
  private def fdiv(num: String, den: Int, k: Int = 8000): String =
    s"(($num) + ${den.toLong * k}) // $den - $k"

  /** §8.7.2.4 luma bS=4 edge on a 1-indexed SQL list `r` with q0 at
    * position `q` — emits the filtered list expression. Numerators
    * are sums of samples, so `//` needs no floor offset. */
  private def sqlLumaBs4(r: String, q: Int, len: Int): String = {
    val (p3, p2, p1, p0) =
      (s"$r[${q - 4}]", s"$r[${q - 3}]", s"$r[${q - 2}]", s"$r[${q - 1}]")
    val (q0, q1, q2, q3) =
      (s"$r[$q]", s"$r[${q + 1}]", s"$r[${q + 2}]", s"$r[${q + 3}]")
    val fs = s"abs($p0 - $q0) < 15 AND abs($p1 - $p0) < 6 " +
      s"AND abs($q1 - $q0) < 6"
    val strongP = s"abs($p2 - $p0) < 6 AND abs($p0 - $q0) < 5"
    val strongQ = s"abs($q2 - $q0) < 6 AND abs($p0 - $q0) < 5"
    s"""CASE WHEN NOT ($fs) THEN $r ELSE
       |  $r[1:${q - 4}] || [
       |  CASE WHEN $strongP
       |    THEN (2*$p3 + 3*$p2 + $p1 + $p0 + $q0 + 4) // 8 ELSE $p2 END,
       |  CASE WHEN $strongP
       |    THEN ($p2 + $p1 + $p0 + $q0 + 2) // 4 ELSE $p1 END,
       |  CASE WHEN $strongP
       |    THEN ($p2 + 2*$p1 + 2*$p0 + 2*$q0 + $q1 + 4) // 8
       |    ELSE (2*$p1 + $p0 + $q1 + 2) // 4 END,
       |  CASE WHEN $strongQ
       |    THEN ($q2 + 2*$q1 + 2*$q0 + 2*$p0 + $p1 + 4) // 8
       |    ELSE (2*$q1 + $q0 + $p1 + 2) // 4 END,
       |  CASE WHEN $strongQ
       |    THEN ($q2 + $q1 + $q0 + $p0 + 2) // 4 ELSE $q1 END,
       |  CASE WHEN $strongQ
       |    THEN (2*$q3 + 3*$q2 + $q1 + $q0 + $p0 + 4) // 8 ELSE $q2 END
       |  ] || $r[${q + 3}:$len] END""".stripMargin
  }

  /** §8.7.2.3 luma bS=3 edge at QP 26 (tC0 = 1, α 15, β 6) on a
    * 1-indexed list `r`, q0 at `q`. */
  private def sqlLumaBs3(r: String, q: Int, len: Int): String = {
    val (p2, p1, p0) = (s"$r[${q - 3}]", s"$r[${q - 2}]", s"$r[${q - 1}]")
    val (q0, q1, q2) = (s"$r[$q]", s"$r[${q + 1}]", s"$r[${q + 2}]")
    val fs = s"abs($p0 - $q0) < 15 AND abs($p1 - $p0) < 6 " +
      s"AND abs($q1 - $q0) < 6"
    val tc = s"(1 + (CASE WHEN abs($p2 - $p0) < 6 THEN 1 ELSE 0 END)" +
      s" + (CASE WHEN abs($q2 - $q0) < 6 THEN 1 ELSE 0 END))"
    val delta = s"least($tc, greatest(-$tc, " +
      fdiv(s"($q0 - $p0) * 4 + ($p1 - $q1) + 4", 8) + "))"
    val avg = s"(($p0 + $q0 + 1) // 2)"
    val dp1 = s"least(1, greatest(-1, " +
      fdiv(s"$p2 + $avg - 2*$p1", 2) + "))"
    val dq1 = s"least(1, greatest(-1, " +
      fdiv(s"$q2 + $avg - 2*$q1", 2) + "))"
    s"""CASE WHEN NOT ($fs) THEN $r ELSE
       |  $r[1:${q - 3}] || [
       |  CASE WHEN abs($p2 - $p0) < 6 THEN $p1 + $dp1 ELSE $p1 END,
       |  least(255, greatest(0, $p0 + $delta)),
       |  least(255, greatest(0, $q0 - $delta)),
       |  CASE WHEN abs($q2 - $q0) < 6 THEN $q1 + $dq1 ELSE $q1 END
       |  ] || $r[${q + 2}:$len] END""".stripMargin
  }

  /** §8.7.2.4 chroma bS=4 edge (two-tap, p0/q0 only) on a 1-indexed
    * list `r`, q0 at `q`. */
  private def sqlChromaBs4(r: String, q: Int, len: Int): String = {
    val (p1, p0) = (s"$r[${q - 2}]", s"$r[${q - 1}]")
    val (q0, q1) = (s"$r[$q]", s"$r[${q + 1}]")
    val fs = s"abs($p0 - $q0) < 15 AND abs($p1 - $p0) < 6 " +
      s"AND abs($q1 - $q0) < 6"
    s"""CASE WHEN NOT ($fs) THEN $r ELSE
       |  $r[1:${q - 2}] || [
       |  (2*$p1 + $p0 + $q1 + 2) // 4,
       |  (2*$q1 + $q0 + $p1 + 2) // 4
       |  ] || $r[${q + 1}:$len] END""".stripMargin
  }

  /** Closed-form restatement of m39. Decode first: kind-0 luma is
    * two uniform macroblocks (lone scan-0 DC → flat 52·c dequant →
    * (x+32)≫6 offset over the 128 / left-edge prediction); kind-1
    * chroma is 128 + (104·c + 32)≫6 in MB1; kind-2 luma is a
    * right-column step of (832·c + 128)≫8. Then the §8.7 vertical
    * pass is restated edge by edge on the one characteristic row
    * (the pictures are y-uniform, so every horizontal edge has
    * p = q — a no-op — and uniform regions make the MB0-internal
    * and chroma-internal edges no-ops; the macroblock edge and the
    * post-ripple internal edges are restated in full). Sums scale
    * the row by the 16 (luma) / 8 (chroma) identical lines; the
    * fingerprint folds y ‖ cb ‖ cr per frame. */
  val m39Sql: String = {
    val v0 = s"least(255, greatest(0, 128 + (${fdiv("52*c0 + 32", 64)})))"
    val off1 = fdiv("52*c1 + 32", 64)
    val offCb = fdiv("104*cbc + 32", 64)
    val offCr = fdiv("104*crc + 32", 64)
    val off4 = fdiv("832*c4 + 128", 256)
    s"""WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS n,
       |    CAST(doc_id % 3 AS INT) AS kind
       |  FROM documents),
       |f AS (SELECT doc_id, n, kind, unnest(range(n)) AS fr FROM d),
       |par AS (SELECT doc_id, n, kind, fr,
       |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * (1 + (doc_id + fr * 3) % 5) AS c0,
       |    (CASE WHEN (doc_id * 3 + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,4,5,6,7,8,12,16,18,20]
       |          [CAST((doc_id * 7 + fr * 11) % 11 AS INT) + 1]) AS c1,
       |    (CASE WHEN (doc_id + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST((doc_id * 2 + fr) % 8 AS INT) + 1]) AS cbc,
       |    (CASE WHEN (doc_id + fr + 1) % 2 = 0 THEN 1 ELSE -1 END)
       |      * ([1,2,3,4,5,6,8,10]
       |          [CAST((doc_id + fr * 3) % 8 AS INT) + 1]) AS crc,
       |    (CASE WHEN (doc_id * 5 + fr) % 2 = 0 THEN 1 ELSE -1 END)
       |      * (1 + (doc_id * 5 + fr * 3) % 5) AS c4
       |  FROM f),
       |base AS (SELECT doc_id, n, kind, fr,
       |    CAST($v0 AS BIGINT) AS v0, cbc, crc, c1, c4 FROM par),
       |rows0 AS (SELECT doc_id, n, kind, fr, cbc, crc,
       |    CASE kind
       |      WHEN 0 THEN list_concat(
       |        list_transform(range(16), x -> v0),
       |        list_transform(range(16), x ->
       |          least(255, greatest(0, v0 + ($off1)))))
       |      WHEN 1 THEN list_transform(range(32), x -> CAST(128 AS BIGINT))
       |      ELSE list_concat(
       |        list_transform(range(12), x -> CAST(128 AS BIGINT)),
       |        list_transform(range(4), x ->
       |          least(255, greatest(0, 128 + ($off4)))))
       |      END AS lr,
       |    CASE kind WHEN 1 THEN list_concat(
       |        list_transform(range(8), x -> CAST(128 AS BIGINT)),
       |        list_transform(range(8), x ->
       |          least(255, greatest(0, 128 + ($offCb)))))
       |      ELSE NULL END AS cbr0,
       |    CASE kind WHEN 1 THEN list_concat(
       |        list_transform(range(8), x -> CAST(128 AS BIGINT)),
       |        list_transform(range(8), x ->
       |          least(255, greatest(0, 128 + ($offCr)))))
       |      ELSE NULL END AS crr0
       |  FROM base),
       |e1 AS (SELECT doc_id, n, kind, fr, cbr0, crr0,
       |    CASE WHEN kind = 0 THEN ${sqlLumaBs4("lr", 17, 32)}
       |      WHEN kind = 2 THEN ${sqlLumaBs3("lr", 13, 16)}
       |      ELSE lr END AS lr
       |  FROM rows0),
       |e2 AS (SELECT doc_id, n, kind, fr, cbr0, crr0,
       |    CASE WHEN kind = 0 THEN ${sqlLumaBs3("lr", 21, 32)}
       |      ELSE lr END AS lr
       |  FROM e1),
       |e3 AS (SELECT doc_id, n, kind, fr, cbr0, crr0,
       |    CASE WHEN kind = 0 THEN ${sqlLumaBs3("lr", 25, 32)}
       |      ELSE lr END AS lr
       |  FROM e2),
       |e4 AS (SELECT doc_id, n, kind, fr,
       |    CASE WHEN kind = 0 THEN ${sqlLumaBs3("lr", 29, 32)}
       |      ELSE lr END AS lr,
       |    CASE WHEN kind = 1 THEN ${sqlChromaBs4("cbr0", 9, 16)}
       |      ELSE NULL END AS cbr,
       |    CASE WHEN kind = 1 THEN ${sqlChromaBs4("crr0", 9, 16)}
       |      ELSE NULL END AS crr
       |  FROM e3),
       |per AS (SELECT doc_id, n, kind, fr,
       |    16 * list_reduce(list_prepend(CAST(0 AS BIGINT), lr),
       |      (a, b) -> a + b) AS ys,
       |    CASE kind WHEN 1 THEN 8 * list_reduce(
       |        list_prepend(CAST(0 AS BIGINT), cbr), (a, b) -> a + b)
       |      WHEN 0 THEN 16384 ELSE 8192 END AS cbs,
       |    CASE kind WHEN 1 THEN 8 * list_reduce(
       |        list_prepend(CAST(0 AS BIGINT), crr), (a, b) -> a + b)
       |      WHEN 0 THEN 16384 ELSE 8192 END AS crs,
       |    flatten(list_transform(range(16), x -> lr))
       |      || flatten(list_transform(range(8),
       |        x -> CASE WHEN kind = 1 THEN cbr
       |          ELSE list_transform(
       |            range(CASE kind WHEN 0 THEN 16 ELSE 8 END),
       |            z -> CAST(128 AS BIGINT)) END))
       |      || flatten(list_transform(range(8),
       |        x -> CASE WHEN kind = 1 THEN crr
       |          ELSE list_transform(
       |            range(CASE kind WHEN 0 THEN 16 ELSE 8 END),
       |            z -> CAST(128 AS BIGINT)) END)) AS vals
       |  FROM e4)
       |SELECT doc_id, max(n) AS n_frames,
       |  CAST(CASE WHEN max(kind) = 2 THEN 16 ELSE 32 END AS INT) AS width,
       |  16 AS height,
       |  CAST(sum(ys) AS BIGINT) AS y_sum,
       |  CAST(sum(cbs) AS BIGINT) AS cb_sum,
       |  CAST(sum(crs) AS BIGINT) AS cr_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    flatten(list(vals ORDER BY fr))),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS pix_fp
       |FROM per GROUP BY doc_id""".stripMargin
  }
}
