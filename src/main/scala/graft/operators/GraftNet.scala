package graft.operators

import graft.model.{Frame, RawDetection}

/** A REAL, pure-JVM inference runtime behind the M1/M2 seam.
  *
  * The reference loads a frozen graph and runs sessions per process
  * (`gst-detection-tf.py:200-237,288-289`); no TF/ONNX runtime ships
  * in this container and the build allows no new dependencies, so
  * the runtime here is a small MLP scorer implemented directly:
  * a committed `.gnet` weight artifact (text: layer dims + row-major
  * weights + biases) is loaded ONCE PER PARTITION, each frame's bytes
  * are bilinear-resized to the model input (P7) and grid-average
  * pooled in one separable linear map, the cell means are normalized
  * (P4–P6), so each frame becomes a fixed feature vector without a
  * model-input-sized tensor being built, and a real forward pass (matmul + bias +
  * ReLU, sigmoid-decoded heads) produces the detection arrays. Every
  * number the detector emits is computed from the actual pixel bytes
  * — nothing is fabricated — while `StubDetector` stays the
  * oracle-path double (its integer arithmetic is restatable in SQL; a
  * float MLP is not).
  */
final class GraftNet private (
    val layers: Seq[(Array[Array[Float]], Array[Float])]) extends Serializable {

  /** in-features of the first layer. */
  def inputSize: Int = layers.head._1(0).length
  def outputSize: Int = layers.last._1.length

  /** Forward pass: x · Wᵀ + b per layer, ReLU between layers, raw
    * logits out of the last. */
  def forward(x: Array[Float]): Array[Float] = {
    require(x.length == inputSize,
      s"input size ${x.length} != expected $inputSize")
    var cur = x
    var li = 0
    while (li < layers.length) {
      val (w, b) = layers(li)
      val out = new Array[Float](w.length)
      var o = 0
      while (o < w.length) {
        val row = w(o)
        var acc = b(o).toDouble
        var i = 0
        while (i < row.length) { acc += row(i).toDouble * cur(i); i += 1 }
        out(o) =
          if (li < layers.length - 1 && acc < 0) 0f // ReLU on hidden
          else acc.toFloat
        o += 1
      }
      cur = out
      li += 1
    }
    cur
  }
}

object GraftNet {
  /** The committed tiny-detector artifact (see tools/gen_model.py
    * for the deterministic generator that produced it). */
  val BundledModel = "resource:/graft/tiny_detector.gnet"

  /** The same detector int8-quantized (s5 scheme: per-layer
    * symmetric scale, dequantized storage) — precision is an
    * artifact property, opaque to the runtime, exactly like the
    * reference's per-dtype frozen graphs (`benchmark.sh:22-69`). */
  val BundledModelInt8 = "resource:/graft/tiny_detector_int8.gnet"

  /** Load a `.gnet` artifact from a file path or, with a
    * `resource:` prefix, from the classpath (the bundled model). */
  def load(path: String): GraftNet = {
    val src =
      if (path.startsWith("resource:")) {
        val in = getClass.getResourceAsStream(path.stripPrefix("resource:"))
        require(in != null, s"model resource not found: $path")
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      } else {
        val f = new java.io.File(path)
        require(f.isFile, s"model artifact not found: $path")
        java.nio.file.Files.readString(f.toPath)
      }
    parse(src)
  }

  /** Format: `gnet 1` header, then per layer `layer <in> <out>`,
    * `<out>` lines of `<in>` weights, one line of `<out>` biases. */
  def parse(text: String): GraftNet = {
    val lines = text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toVector
    require(lines.headOption.exists(_.startsWith("gnet ")),
      "not a gnet artifact: missing 'gnet' magic")
    val layers = Vector.newBuilder[(Array[Array[Float]], Array[Float])]
    var i = 1
    while (i < lines.length) {
      val Array(tag, inS, outS) = lines(i).split("\\s+", 3)
      require(tag == "layer", s"expected 'layer', got '$tag'")
      val (nIn, nOut) = (inS.toInt, outS.toInt)
      val w = Array.tabulate(nOut) { r =>
        val vs = lines(i + 1 + r).split("\\s+").map(_.toFloat)
        require(vs.length == nIn, s"layer row $r: ${vs.length} != $nIn")
        vs
      }
      val b = lines(i + 1 + nOut).split("\\s+").map(_.toFloat)
      require(b.length == nOut, s"bias: ${b.length} != $nOut")
      layers += ((w, b))
      i += 2 + nOut
    }
    val net = new GraftNet(layers.result())
    require(net.layers.nonEmpty, "gnet artifact has no layers")
    net
  }
}

/** M1+M2 for real: per-partition model load (`Detectors.forConfig`
  * hands one factory to Detect.detect, whose DetectExec plan node
  * calls it once per partition), micro-batched
  * scoring, and the P4–P7 kernels as the ACTUAL preprocessing of the
  * forward pass — the processSingleFrame composition
  * (`gst-detection-tf.py:405-419`) with every stage live. The features
  * come from `features`, which maps the frame's bytes straight to the
  * g×g cell means of its resize and normalizes those, instead of
  * normalizing and resizing the frame first and pooling after.
  */
final class GraftNetDetector(modelPath: String, cfg: DetectorConfig)
    extends Detector {
  import GraftNetDetector._

  // loaded once per detector instance = once per partition
  private val net: GraftNet = GraftNet.load(modelPath)
  private val normalization = Preprocess.normalization(cfg.preprocFw)
  require(net.outputSize % 6 == 0,
    s"head size ${net.outputSize} not a multiple of 6 (boxes x " +
      "(ymin,xmin,ymax,xmax,score,class))")
  private val grid = math.sqrt(net.inputSize / 3.0).toInt
  require(grid * grid * 3 == net.inputSize,
    s"input size ${net.inputSize} is not a 3-channel square grid")

  // class-id domain comes from the config (= label-table size), not
  // a hardcoded 25: a differently-sized label file would otherwise
  // silently mis-bucket class ids
  private val nLabels = cfg.labelDomain
  require(nLabels > 0, s"labelDomain must be positive, got $nLabels")

  /** Decode one head of 6 logits into a detection: sigmoid-squashed
    * center/size box (always a valid [0,1] rectangle), sigmoid
    * score, class bucketed into the label-dim domain. */
  private def decodeHead(o: Array[Float], base: Int): RawDetection = {
    val cy = sigmoid(o(base)); val cx = sigmoid(o(base + 1))
    val bh = sigmoid(o(base + 2)) * 0.5; val bw = sigmoid(o(base + 3)) * 0.5
    val ymin = math.max(0.0, cy - bh / 2); val xmin = math.max(0.0, cx - bw / 2)
    val ymax = math.min(1.0, cy + bh / 2); val xmax = math.min(1.0, cx + bw / 2)
    val score = sigmoid(o(base + 4))
    val cls = math.min(nLabels - 1, (sigmoid(o(base + 5)) * nLabels).toInt)
    RawDetection(ymin.toFloat, xmin.toFloat, ymax.toFloat, xmax.toFloat,
      score.toFloat, cls)
  }

  override def detectBatch(frames: Seq[Frame]): Seq[Seq[RawDetection]] =
    frames.map { f =>
      val out = net.forward(
        features(f, normalization, cfg.modelInput, cfg.modelInput, grid))
      (0 until out.length / 6).map(i => decodeHead(out, i * 6))
    }
}

object GraftNetDetector {
  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** A frame's model input: the g×g×3 cell means of the normalized
    * frame's resize to outH×outW, computed as `resizePool` of its bytes
    * under the frame's affine `normalization`. */
  def features(f: Frame, normalization: Preprocess.Normalization,
      outH: Int, outW: Int, g: Int): Array[Float] = {
    val px = Preprocess.rgbBytes(f)
    resizePool(f.height, f.width, px, outH, outW, g,
      normalization(px, f.height * f.width * 3))
  }

  /** P7 bilinear resize fused with grid average pooling: the g×g×3
    * cell means of `Preprocess.resizeBilinear` over the height×width
    * packed RGB bytes `px`, without building the outH×outW×3 tensor —
    * the fixed-size bridge from any model-input resolution to the MLP.
    * Resize and pooling are linear and the resize is separable, so
    * each channel's cell sums are `A · X · Bᵀ`, where the g×H `A` and
    * g×W `B` are `bandMap`s. The product runs in double over the
    * bytes less `norm.shift`, `T = X · Bᵀ` per source row, then
    * `A · T`; each sum is divided by its cell's output count and
    * `norm.scale` and stored with `.toFloat`. Weights are non-negative,
    * so a cell whose taps all read the shift gives exactly 0; every
    * non-empty cell's weights sum to 1, so the map commutes with the
    * pooling. Empty cells stay 0. */
  def resizePool(height: Int, width: Int, px: Array[Byte], outH: Int,
      outW: Int, g: Int, norm: Preprocess.Affine): Array[Float] = {
    require(g > 0, s"pooling grid must be positive, got $g")
    val a = bandMap(height, outH, g)
    val b = bandMap(width, outW, g)
    val n = g * 3
    val (sh0, sh1, sh2) = (norm.shift(0), norm.shift(1), norm.shift(2))
    // T = X · Bᵀ: per source row r, cell column j and channel c
    val xb = new Array[Double](height * n)
    for (r <- 0 until height; j <- 0 until g) {
      val wj = b.w(j)
      var p = (r * width + b.lo(j)) * 3
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
      var k = 0
      while (k < wj.length) {
        s0 += wj(k) * ((px(p) & 0xff) - sh0)
        s1 += wj(k) * ((px(p + 1) & 0xff) - sh1)
        s2 += wj(k) * ((px(p + 2) & 0xff) - sh2)
        p += 3
        k += 1
      }
      xb(r * n + j * 3) = s0; xb(r * n + j * 3 + 1) = s1; xb(r * n + j * 3 + 2) = s2
    }
    // A · T, one cell row at a time
    val out = new Array[Float](g * n)
    val acc = new Array[Double](n)
    for (i <- 0 until g) {
      java.util.Arrays.fill(acc, 0.0)
      for (k <- a.w(i).indices) {
        val wk = a.w(i)(k)
        val row = (a.lo(i) + k) * n
        var m = 0
        while (m < n) { acc(m) += wk * xb(row + m); m += 1 }
      }
      for (m <- 0 until n) {
        val count = a.count(i) * b.count(m / 3)
        if (count > 0) out(i * n + m) = (acc(m) / count / norm.scale(m % 3)).toFloat
      }
    }
    out
  }

  /** One axis of `resizePool`'s map. Cell i's output band (the
    * indices o with `min(g-1, o*g/out) == i`) holds `count(i)` outputs;
    * together their bilinear taps give source index `lo(i) + k` the
    * weight `w(i)(k)`. An empty band has no weights. */
  private final class BandMap(val lo: Array[Int], val w: Array[Array[Double]],
      val count: Array[Int])

  private def bandMap(in: Int, out: Int, g: Int): BandMap = {
    val taps = Preprocess.bilinearTaps(in, out)
    val cell = Array.tabulate(out)(o => math.min(g - 1, o * g / out))
    val count = new Array[Int](g)
    val lo = Array.fill(g)(in); val hi = new Array[Int](g)
    for (o <- 0 until out) {
      val i = cell(o)
      count(i) += 1
      lo(i) = math.min(lo(i), taps.lo(o)); hi(i) = math.max(hi(i), taps.hi(o) + 1)
    }
    val w = Array.tabulate(g)(i => new Array[Double](math.max(0, hi(i) - lo(i))))
    for (o <- 0 until out) {
      w(cell(o))(taps.lo(o) - lo(cell(o))) += 1 - taps.w(o)
      w(cell(o))(taps.hi(o) - lo(cell(o))) += taps.w(o)
    }
    new BandMap(lo, w, count)
  }
}
