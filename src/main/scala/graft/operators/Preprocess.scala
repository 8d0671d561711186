package graft.operators

import graft.model.Frame

/** The reference's preprocessing path (SURVEY.md §2.2 P2, P4–P7),
  * re-homed where it belongs in Spark: INSIDE the partition-scoped
  * inference stage. These are transient per-frame values — they never
  * appear in a schema and never cross a partition boundary, exactly
  * like the reference's ndarray stages
  * (`gst-detection-tf.py:252-283,346-384`).
  *
  * All kernels are pure JVM math over the frame's packed RGB bytes,
  * which the in-repo codecs (`Codecs`) decode from encoded media.
  */
object Preprocess {

  /** Transient HWC float tensor (channels-last, like the decoded
    * `np.ndarray(h, w, 3)` of `gst-detection-tf.py:252-254`). */
  final case class Tensor(height: Int, width: Int, channels: Int,
      data: Array[Float]) {
    require(data.length == height * width * channels,
      s"tensor shape ${height}x${width}x$channels != ${data.length} values")
  }

  /** P2: the frame's packed RGB bytes, holding at least h·w·3 of them;
    * readers use the first h·w·3. An empty or short buffer (hermetic
    * tests) is zero-filled, deterministic like a black frame. */
  def rgbBytes(f: Frame): Array[Byte] = {
    val n = f.height * f.width * 3
    if (f.data != null && f.data.length >= n) f.data
    else {
      val out = new Array[Byte](n)
      if (f.data != null) System.arraycopy(f.data, 0, out, 0, f.data.length)
      out
    }
  }

  /** ImageNet channel constants of the np path
    * (`gst-detection-tf.py:259-264`). */
  val ImagenetMean: Array[Float] = Array(0.485f, 0.456f, 0.406f)
  val ImagenetStd: Array[Float] = Array(0.229f, 0.224f, 0.225f)

  /** A per-channel affine map v ↦ (v − shift(c)) / scale(c) of byte
    * values. */
  final class Affine(val shift: Array[Double], val scale: Array[Double])

  /** A frame's normalization, from its first n bytes. */
  type Normalization = (Array[Byte], Int) => Affine

  /** The preproc_fw strategy knob (`settings.yaml:4`,
    * `gst-detection-tf.py:351-379`), chosen once at plan time. Every
    * kernel is affine per channel, so it commutes with any weighted
    * mean whose weights sum to 1, such as a resize-and-pool cell mean:
    *  - cv2 (P4, `:352-354`): (v − min)/(max − min) over all n bytes;
    *    a constant frame maps to zeros;
    *  - np (P5, `:259-264`): v/255, then (x − mean(c))/std(c) with the
    *    ImageNet constants;
    *  - tf (P6, `:362`): tf.image.per_image_standardization,
    *    (v − μ)/max(σ, 1/√n) over all n bytes. */
  def normalization(kind: String): Normalization = kind match {
    case "cv2" => (px, n) => {
      var mn = 255; var mx = 0; var i = 0
      while (i < n) { val v = px(i) & 0xff; mn = math.min(mn, v); mx = math.max(mx, v); i += 1 }
      uniform(mn, if (mx > mn) mx - mn else 1)
    }
    case "np" =>
      val map = new Affine(ImagenetMean.map(_ * 255.0), ImagenetStd.map(_ * 255.0))
      (_, _) => map
    case "tf" => (px, n) => {
      var sum = 0L; var sumSq = 0L; var i = 0
      while (i < n) { val v = px(i) & 0xff; sum += v; sumSq += v * v; i += 1 }
      val mean = sum.toDouble / n
      val sd = math.sqrt(math.max(0.0, sumSq.toDouble / n - mean * mean))
      uniform(mean, math.max(sd, 1.0 / math.sqrt(n.toDouble)))
    }
    case other => throw new IllegalArgumentException(
      s"unknown preproc_fw (DetectorConfig.preprocFw): $other; expected cv2, np or tf")
  }

  private def uniform(shift: Double, scale: Double): Affine =
    new Affine(Array.fill(3)(shift), Array.fill(3)(scale))

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
    * stub serves tests/oracles; it scores by frame_id, so it runs no
    * preprocessing. Precision (M3) selects the artifact — opaque to
    * the engine, exactly as in the reference. The whole config is
    * checked here, before any task runs, for every path. */
  def forConfig(cfg: DetectorConfig): () => Detector = {
    // a non-positive edge would resize every frame to nothing and give
    // all frames the same (all-zero) features
    require(cfg.modelInput > 0,
      s"model_input (DetectorConfig.modelInput) must be positive, got ${cfg.modelInput}")
    Preprocess.normalization(cfg.preprocFw)
    cfg.modelPath match {
      case Some(p) if p.endsWith(".gnet") => () => new GraftNetDetector(p, cfg)
      case Some(p) =>
        throw new UnsupportedOperationException(
          s"no inference runtime bundled for model artifact $p " +
            s"(device=${cfg.device}, dtype=${cfg.dataType}); " +
            "use a .gnet artifact or plug an ONNX/TF-Java Detector here")
      case None => () => StubDetector
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
