package graft.operators

import graft.model.Frame

/** The reference's preprocessing path (SURVEY.md §2.2 P2, P4–P8),
  * re-homed where it belongs in Spark: INSIDE the partition-scoped
  * inference stage. These are transient tensor ops — they never
  * appear in a schema and never cross a partition boundary, exactly
  * like the reference's ndarray stages
  * (`gst-detection-tf.py:252-283,346-384`).
  *
  * All kernels are real implementations (pure JVM float math); only
  * the entry from encoded media to raw RGB bytes is the stub seam
  * (Multimodal.Codec), since this container ships no codecs.
  */
object Preprocess {

  /** Transient HWC float tensor (channels-last, like the decoded
    * `np.ndarray(h, w, 3)` of `gst-detection-tf.py:252-254`). */
  final case class Tensor(height: Int, width: Int, channels: Int,
      data: Array[Float]) {
    require(data.length == height * width * channels,
      s"tensor shape ${height}x${width}x$channels != ${data.length} values")
  }

  /** P2: buffer → tensor reinterpret. Packed RGB uint8 bytes become
    * an HWC float tensor (0..255). An empty/short buffer (hermetic
    * tests) zero-fills — deterministic, like a black frame. A frame
    * with a non-positive height or width (one a user's parquet can
    * carry through `FrameSource.conform`) is refused by name. */
  def decodeBuffer(f: Frame): Tensor = {
    require(f.height > 0 && f.width > 0,
      s"frame ${f.video_id}/${f.frame_id} has non-positive dimensions " +
        s"${f.height}x${f.width} (height x width)")
    val n = f.height * f.width * 3
    val out = new Array[Float](n)
    val m = math.min(n, if (f.data == null) 0 else f.data.length)
    var i = 0
    while (i < m) { out(i) = (f.data(i) & 0xff).toFloat; i += 1 }
    Tensor(f.height, f.width, 3, out)
  }

  /** P4 (cv2 path): min-max normalize to [0,1]
    * (`gst-detection-tf.py:352-354`). Constant image → zeros. */
  def normalizeMinMax(t: Tensor): Tensor = {
    var mn = Float.MaxValue; var mx = Float.MinValue
    t.data.foreach { v => if (v < mn) mn = v; if (v > mx) mx = v }
    val range = if (mx > mn) mx - mn else 1.0f
    Tensor(t.height, t.width, t.channels, t.data.map(v => (v - mn) / range))
  }

  /** P5 (np path): /255 then per-channel (x-mean)/std with the
    * ImageNet constants of `gst-detection-tf.py:259-264`. */
  val ImagenetMean: Array[Float] = Array(0.485f, 0.456f, 0.406f)
  val ImagenetStd: Array[Float] = Array(0.229f, 0.224f, 0.225f)
  def normalizeImagenet(t: Tensor): Tensor = {
    val out = new Array[Float](t.data.length)
    var i = 0
    while (i < t.data.length) {
      val c = i % t.channels
      out(i) = (t.data(i) / 255.0f - ImagenetMean(c)) / ImagenetStd(c)
      i += 1
    }
    Tensor(t.height, t.width, t.channels, out)
  }

  /** P6 (tf path): per-image standardization —
    * (x - mean) / max(stddev, 1/sqrt(N)), the
    * tf.image.per_image_standardization contract
    * (`gst-detection-tf.py:362`). */
  def standardize(t: Tensor): Tensor = {
    val n = t.data.length
    var sum = 0.0; var sumSq = 0.0
    t.data.foreach { v => sum += v; sumSq += v.toDouble * v }
    val mean = sum / n
    val variance = math.max(0.0, sumSq / n - mean * mean)
    val adjStd = math.max(math.sqrt(variance), 1.0 / math.sqrt(n.toDouble))
    Tensor(t.height, t.width, t.channels,
      t.data.map(v => ((v - mean) / adjStd).toFloat))
  }

  /** Augmentation kernels (training-data image transforms, the
    * P-family beyond resize): pure integer pixel PERMUTATIONS over
    * interleaved row-major RGB byte arrays — exact by construction,
    * so their outputs restate arithmetically under the hash gate
    * (m21). Conventions: pixel (row r, col c) lives at byte
    * 3·(r·w + c) + channel. */
  object Augment {
    /** horizontal mirror: out[r, c] = in[r, w-1-c]; dims unchanged. */
    def hflip(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
      Array.tabulate(rgb.length) { j =>
        val p = j / 3; val ch = j % 3
        val r = p / w; val c = p % w
        rgb(3 * (r * w + (w - 1 - c)) + ch)
      }

    /** 90° clockwise rotation: out dims (w_out, h_out) = (h, w);
      * out[r', c'] = in[h-1-c', r']. */
    def rot90cw(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      val outW = h
      Array.tabulate(rgb.length) { j =>
        val p = j / 3; val ch = j % 3
        val r2 = p / outW; val c2 = p % outW
        rgb(3 * ((h - 1 - c2) * w + r2) + ch)
      }
    }

    /** 1-pixel-border center crop: out dims (w-2, h-2);
      * out[r', c'] = in[r'+1, c'+1]. Requires w, h >= 3. */
    def centerCrop(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      val outW = w - 2; val outH = h - 2
      Array.tabulate(outW * outH * 3) { j =>
        val p = j / 3; val ch = j % 3
        val r2 = p / outW; val c2 = p % outW
        rgb(3 * ((r2 + 1) * w + (c2 + 1)) + ch)
      }
    }
  }

  /** Bilinear taps along one axis: output index `i` reads source
    * indices `lo(i)` and `hi(i)`, with weight `w(i)` on `hi(i)` and
    * `1 - w(i)` on `lo(i)`. */
  final case class Taps(lo: Array[Int], hi: Array[Int], w: Array[Double])

  /** The P7 interpolation convention, defined once for every bilinear
    * kernel: align_corners=false / half-pixel centers, edge clamp. */
  def bilinearTaps(inSize: Int, outSize: Int): Taps = {
    require(inSize > 0 && outSize > 0,
      s"bilinear resize needs positive sizes, got $inSize -> $outSize")
    val lo = new Array[Int](outSize)
    val hi = new Array[Int](outSize)
    val w = new Array[Double](outSize)
    val scale = inSize.toDouble / outSize
    var i = 0
    while (i < outSize) {
      val f = math.max(0.0, (i + 0.5) * scale - 0.5)
      lo(i) = math.min(inSize - 1, f.toInt)
      hi(i) = math.min(inSize - 1, lo(i) + 1)
      w(i) = f - lo(i)
      i += 1
    }
    Taps(lo, hi, w)
  }

  /** P7: bilinear resize (the cv2.resize /
    * tf.image.resize(BILINEAR) kernel, `gst-detection-tf.py:356,364,374`)
    * on the `bilinearTaps` convention. Each value is the double-weight
    * blend of its four taps, stored with `.toFloat`. */
  def resizeBilinear(t: Tensor, outH: Int, outW: Int): Tensor = {
    if (outH == t.height && outW == t.width) return t
    val ty = bilinearTaps(t.height, outH)
    val tx = bilinearTaps(t.width, outW)
    val ch = t.channels
    val d = t.data
    val out = new Array[Float](outH * outW * ch)
    var o = 0
    var y = 0
    while (y < outH) {
      val row0 = ty.lo(y) * t.width
      val row1 = ty.hi(y) * t.width
      val wy = ty.w(y)
      var x = 0
      while (x < outW) {
        val wx = tx.w(x)
        val a = (row0 + tx.lo(x)) * ch; val b = (row0 + tx.hi(x)) * ch
        val p = (row1 + tx.lo(x)) * ch; val q = (row1 + tx.hi(x)) * ch
        var c = 0
        while (c < ch) {
          val top = d(a + c) * (1 - wx) + d(b + c) * wx
          val bot = d(p + c) * (1 - wx) + d(q + c) * wx
          out(o) = (top * (1 - wy) + bot * wy).toFloat
          o += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Tensor(outH, outW, ch, out)
  }

  /** P8: HWC → NCHW (batch dim 1) for GPU-style layouts
    * (`gst-detection-tf.py:269-283`). */
  def toNCHW(t: Tensor): Array[Float] = {
    val out = new Array[Float](t.data.length)
    val hw = t.height * t.width
    var i = 0
    while (i < t.data.length) {
      val c = i % t.channels
      out(c * hw + i / t.channels) = t.data(i)
      i += 1
    }
    out
  }

  /** The preproc_fw strategy knob (`settings.yaml:4`,
    * `gst-detection-tf.py:351-379`): kernel chosen once at plan
    * time, not per record. */
  def normalizer(kind: String): Tensor => Tensor = kind match {
    case "cv2" => normalizeMinMax
    case "np" => normalizeImagenet
    case "tf" => standardize
    case other =>
      throw new IllegalArgumentException(s"unknown preproc_fw: $other")
  }

  /** Full preprocess chain: decode → normalize → resize → layout.
    * Mirrors `processSingleFrame`'s preprocess leg
    * (`gst-detection-tf.py:346-384`). */
  def pipeline(frame: Frame, preprocFw: String, modelH: Int, modelW: Int,
      nchw: Boolean): Array[Float] = {
    val resized = resizeBilinear(normalizer(preprocFw)(decodeBuffer(frame)),
      modelH, modelW)
    if (nchw) toNCHW(resized) else resized.data
  }
}

/** M1/M3: model lifecycle + device/precision dispatch
  * (`gst-detection-tf.py:154-237`, `settings.yaml:1-9`). The config
  * picks the detector implementation and the preprocessing strategy
  * once; executors initialize per partition (Detect.detect's
  * DetectExec plan node). */
final case class DetectorConfig(
    device: String = "CPU",           // CPU | GPU (ARCGPU in reference)
    dataType: String = "FP32",        // FP32 | BF16 | INT8 — model-artifact choice
    preprocFw: String = "np",         // cv2 | np | tf
    modelPath: Option[String] = None, // frozen-graph / ONNX artifact
    modelInput: Int = 1200,           // 1200x1200 (settings.yaml:17-18)
    labelDomain: Int = 25)            // class-id domain = label-table size
                                      // (sources/Labels default dim)

object Detectors {
  /** Resolve a detector factory from config. A `.gnet` model path
    * loads the bundled pure-JVM runtime (GraftNetDetector: real
    * per-partition weight load + real forward pass over the real
    * preprocessing chain — the M1/M2 lifecycle of
    * `gst-detection-tf.py:200-237` with a JVM scorer). Other
    * artifact kinds (frozen TF graphs, ONNX) have no runtime in this
    * container and fail fast. With no modelPath the deterministic
    * stub serves tests/oracles. Precision (M3) selects the
    * artifact — opaque to the engine, exactly as in the reference. */
  def forConfig(cfg: DetectorConfig): () => Detector = {
    // a non-positive edge would resize every frame to nothing and give
    // all frames the same (all-zero) features
    require(cfg.modelInput > 0,
      s"model_input (DetectorConfig.modelInput) must be positive, got ${cfg.modelInput}")
    cfg.modelPath match {
      case Some(p) if p.endsWith(".gnet") => () => new GraftNetDetector(p, cfg)
      case Some(p) =>
        throw new UnsupportedOperationException(
          s"no inference runtime bundled for model artifact $p " +
            s"(device=${cfg.device}, dtype=${cfg.dataType}); " +
            "use a .gnet artifact or plug an ONNX/TF-Java Detector here")
      case None => () => new PreprocessingDetector(StubDetector, cfg)
    }
  }

  /** M3 precision → bundled artifact (the reference's benchmark.sh
    * maps each precision to its own frozen graph, benchmark.sh:22-69;
    * here FP32/INT8 map to the two committed .gnet files). BF16 has
    * no JVM representation without an accelerated runtime — fail
    * fast, like any other unbundled artifact kind. */
  def bundledArtifact(dataType: String): String = dataType match {
    case "FP32" => GraftNet.BundledModel
    case "INT8" => GraftNet.BundledModelInt8
    case other => throw new UnsupportedOperationException(
      s"no bundled artifact for dtype $other (BF16 needs an " +
        "accelerated runtime; see DEPLOYMENT.md)")
  }
}

/** Decorator that runs the real preprocessing chain before
  * delegating to the scoring backend — the processSingleFrame
  * composition (`gst-detection-tf.py:405-419`) with the preproc
  * kernels actually exercised. */
final class PreprocessingDetector(inner: Detector, cfg: DetectorConfig)
    extends Detector {
  override def detectBatch(frames: Seq[Frame]): Seq[Seq[graft.model.RawDetection]] = {
    // tensors feed the model in a real backend; the stub scores by
    // frame_id, so the tensors' only job here is exercising the path
    frames.foreach { f =>
      Preprocess.pipeline(f, cfg.preprocFw, cfg.modelInput, cfg.modelInput,
        nchw = cfg.device != "CPU")
    }
    inner.detectBatch(frames)
  }
}
