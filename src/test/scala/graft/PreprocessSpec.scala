package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Frame
import graft.operators.{DetectorConfig, Detectors, GraftNetDetector, Preprocess, StubDetector}
import graft.operators.Preprocess.Tensor

class PreprocessSpec extends AnyFunSuite {

  private def frame(id: Long, h: Int, w: Int, bytes: Array[Byte]) =
    Frame("v", id, new Timestamp(0L), h, w, bytes)

  /** The detector's features of an e×e frame at model input e on an
    * e×e grid: one cell per pixel, so each value is that pixel's
    * normalized byte. */
  private def perPixel(fw: String, e: Int, bytes: Array[Byte]): Array[Float] =
    GraftNetDetector.features(frame(1, e, e, bytes), Preprocess.normalization(fw), e, e, e)

  private def near(got: Seq[Float], want: Seq[Double]): Boolean =
    got.length == want.length &&
      got.zip(want).forall { case (g, w) => math.abs(g - w) <= 1e-6 * math.max(1.0, math.abs(w)) }

  test("features: short and null buffers zero-fill like a black frame") {
    // a 2x2 frame with 3 bytes: pixel 0 is (0, 127, 255), the rest black
    assert(near(perPixel("cv2", 2, Array[Byte](0, 127, -1)), // -1 = 255 unsigned
      Seq(0.0, 127 / 255.0, 1.0) ++ Seq.fill(9)(0.0)))
    val black = (0 until 3).map(c =>
      (0.0 - Preprocess.ImagenetMean(c)) / Preprocess.ImagenetStd(c))
    assert(near(perPixel("np", 2, null), Seq.fill(4)(black).flatten))
    assert(near(perPixel("np", 2, Array.emptyByteArray), Seq.fill(4)(black).flatten))
  }

  test("min-max normalize maps to [0,1]; constant image to zeros") {
    val t = perPixel("cv2", 2, Array(0, 50, 100, 150, 200, 250).map(_.toByte))
    assert(t.head === 0f && t(5) === 1f)
    assert(t(2) === 0.4f)
    assert(perPixel("cv2", 1, Array[Byte](7, 7, 7)).forall(_ === 0f))
  }

  test("imagenet normalize applies per-channel constants") {
    val exp = (0 until 3).map(c =>
      (1.0 - Preprocess.ImagenetMean(c)) / Preprocess.ImagenetStd(c))
    assert(near(perPixel("np", 1, Array[Byte](-1, -1, -1)), exp))
  }

  test("per-image standardization: mean ~0, adjusted std ~1") {
    val t = perPixel("tf", 4, Array.tabulate(48)(_.toByte))
    val mean = t.sum / t.length
    assert(math.abs(mean) < 1e-5)
    val varr = t.map(v => (v - mean) * (v - mean)).sum / t.length
    assert(math.abs(math.sqrt(varr) - 1.0) < 1e-4)
    // a constant frame has no spread: zeros, not a division by zero
    assert(perPixel("tf", 2, Array.fill[Byte](12)(9)).forall(_ === 0f))
  }

  test("bilinear resize: identity is exact, 1x2 to 1x4 interpolates") {
    val t = Tensor(1, 2, 1, Array(0f, 100f))
    assert(Preprocess.resizeBilinear(t, 1, 2) eq t)
    val r = Preprocess.resizeBilinear(t, 1, 4)
    // half-pixel centers: x=0 -> 0, x=1 -> 25, x=2 -> 75, x=3 -> 100
    assert(r.data.toSeq === Seq(0f, 25f, 75f, 100f))
  }

  test("preproc_fw dispatch: unknown kernel rejected (GDT:378-379)") {
    intercept[IllegalArgumentException](Preprocess.normalization("torch"))
  }

  test("Augment kernels: hand-checked 2x3 image; flip is an involution, " +
    "rot90 four times is identity, crop drops the border") {
    import graft.operators.Preprocess.Augment
    // 3 wide x 2 tall; pixel (r,c) has bytes (10r+c, 100+10r+c, 200+10r+c)
    val w = 3; val h = 2
    val img = Array.tabulate(w * h * 3) { j =>
      val p = j / 3; val r = p / w; val c = p % w
      (j % 3 * 100 + 10 * r + c).toByte
    }
    def px(a: Array[Byte], ww: Int, r: Int, c: Int): (Int, Int, Int) = {
      val o = 3 * (r * ww + c)
      ((a(o) & 0xff), (a(o + 1) & 0xff), (a(o + 2) & 0xff))
    }
    val fl = Augment.hflip(w, h, img)
    assert(px(fl, w, 0, 0) === px(img, w, 0, 2))
    assert(px(fl, w, 1, 2) === px(img, w, 1, 0))
    assert(Augment.hflip(w, h, fl).toSeq === img.toSeq)
    val rot = Augment.rot90cw(w, h, img)   // out dims 2 wide x 3 tall
    // top-left of the rotation is the bottom-left of the source
    assert(px(rot, h, 0, 0) === px(img, w, 1, 0))
    assert(px(rot, h, 2, 1) === px(img, w, 0, 2))
    // four rotations = identity (dims swap twice)
    val r2 = Augment.rot90cw(h, w, rot)
    val r3 = Augment.rot90cw(w, h, r2)
    val r4 = Augment.rot90cw(h, w, r3)
    assert(r4.toSeq === img.toSeq)
    // crop of a 3x3: the single center pixel survives
    val img9 = Array.tabulate(27)(_.toByte)
    val cr = Augment.centerCrop(3, 3, img9)
    assert(cr.toSeq === img9.slice(3 * 4, 3 * 4 + 3).toSeq)
  }

  test("forConfig: no model path gives the stub; an unbundled artifact fails fast") {
    assert(Detectors.forConfig(DetectorConfig(preprocFw = "cv2", modelInput = 8))() eq
      StubDetector)
    intercept[UnsupportedOperationException](
      Detectors.forConfig(DetectorConfig(modelPath = Some("/tmp/m.onnx"))))
  }
}
