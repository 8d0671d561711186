package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{IntersectCount, PolyHash}
import graft.model.Frame
import graft.operators.{GraftNetDetector, Preprocess}
import graft.operators.Preprocess.Tensor
import org.apache.spark.sql.catalyst.util.ArrayData

/** Property-based invariants (SURVEY.md §5): pure-function kernels
  * checked over generated inputs. */
class PropertiesSpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("poly_hash: deterministic, in [0, 1e9+7), order-sensitive") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val h = PolyHash.hash(UTF8String.fromString(s))
      h >= 0 && h < PolyHash.Mod &&
        h == PolyHash.hash(UTF8String.fromString(s))
    })
    assert(PolyHash.hash(UTF8String.fromString("ab"))
      !== PolyHash.hash(UTF8String.fromString("ba")))
  }

  test("poly_hash: ASCII byte fast path equals code-point fold; unicode works") {
    // unicode strings exercise the slow path (numBytes != numChars)
    check(Prop.forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('é', 'ß', '中', 'λ'))).map(_.mkString)) { s =>
      val h = PolyHash.hash(UTF8String.fromString(s))
      // reference implementation: explicit code-point fold
      var ref = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        ref = (ref * 31 + cp) % PolyHash.Mod
        i += Character.charCount(cp)
      }
      h == ref
    })
  }

  test("hashBytes: matches char hash on ASCII, unsigned on high bytes") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      PolyHash.hashBytes(s.getBytes("UTF-8")) ==
        PolyHash.hash(UTF8String.fromString(s))
    })
    assert(PolyHash.hashBytes(Array[Byte](-1)) === 255L)
  }

  test("intersect_count == set-intersection size on sorted distinct arrays") {
    val gen = Gen.listOf(Gen.chooseNum(0L, 200L)).map(_.distinct.sorted)
    check(Prop.forAll(gen, gen) { (a, b) =>
      val got = IntersectCount.count(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      got == a.toSet.intersect(b.toSet).size
    })
  }

  test("stub detector: box count = frame_id % 5, scores cycle, coords in [0,1.1)") {
    check(Prop.forAll(Gen.chooseNum(0L, 1000000L)) { id =>
      val dets = graft.operators.StubDetector.detectOne(id)
      dets.size == (id % 5).toInt &&
        dets.forall(d => d.ymin >= 0 && d.ymax <= 1.0f &&
          d.score >= 0.5f && d.score <= 0.95f && d.class_id < 25)
    })
  }

  test("int_to_rgb channels stay in [0,255] for any label id") {
    // pure formula check mirrors ColorFunctions (num = id/80*255)
    check(Prop.forAll(Gen.chooseNum(0, 10000)) { id =>
      val num = (id.toDouble / 80.0 * 255.0).toInt
      Seq(num & 255, (num >> 8) & 255, (num >> 16) & 255)
        .forall(c => c >= 0 && c <= 255)
    })
  }

  test("bilinear resize preserves constant images and value bounds") {
    val gen = for {
      h <- Gen.chooseNum(1, 8); w <- Gen.chooseNum(1, 8)
      v <- Gen.chooseNum(0, 255)
      oh <- Gen.chooseNum(1, 12); ow <- Gen.chooseNum(1, 12)
    } yield (h, w, v.toFloat, oh, ow)
    check(Prop.forAll(gen) { case (h, w, v, oh, ow) =>
      val t = Tensor(h, w, 3, Array.fill(h * w * 3)(v))
      val r = Preprocess.resizeBilinear(t, oh, ow)
      r.height == oh && r.width == ow && r.data.forall(x => math.abs(x - v) < 1e-3)
    })
  }

  test("normalizers preserve shape; min-max lands in [0,1]") {
    // any frame, any model input, any grid, short buffers included:
    // every kernel gives g×g×3 finite features, cv2's within [0,1]
    val gen = for {
      h <- Gen.chooseNum(1, 6); w <- Gen.chooseNum(1, 6)
      len <- Gen.chooseNum(0, h * w * 3)
      data <- Gen.listOfN(len, Gen.chooseNum(0, 255))
      edge <- Gen.chooseNum(1, 12); g <- Gen.chooseNum(1, 4)
    } yield (Frame("v", 1L, new java.sql.Timestamp(0L), h, w,
      data.map(_.toByte).toArray), edge, g)
    check(Prop.forAll(gen) { case (f, edge, g) =>
      Seq("cv2", "np", "tf").forall { k =>
        val out = GraftNetDetector.features(f, Preprocess.normalization(k), edge, edge, g)
        out.length == g * g * 3 && out.forall(v => !v.isNaN && !v.isInfinite) &&
          (k != "cv2" || out.forall(v => v >= 0f && v <= 1f))
      }
    })
  }

  test("BMP codec: encode/decode round-trips any RGB image exactly") {
    import graft.operators.Codecs.BmpCodec
    val gen = for {
      w <- Gen.chooseNum(1, 9) // widths 1..9 sweep all stride paddings
      h <- Gen.chooseNum(1, 7)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127))
    } yield (w, h, px.map(_.toByte).toArray)
    check(Prop.forAll(gen) { case (w, h, rgb) =>
      val (dw, dh, back) = BmpCodec.decodeRgb(BmpCodec.encodeRgb(w, h, rgb))
      dw == w && dh == h && back.sameElements(rgb)
    })
  }

  test("gnet forward: deterministic and batch-order-independent") {
    val net = graft.operators.GraftNet.load(graft.operators.GraftNet.BundledModel)
    val gen = Gen.listOfN(net.inputSize, Gen.chooseNum(-100, 100))
      .map(_.map(_ / 50.0f).toArray)
    check(Prop.forAll(gen) { x =>
      val y = net.forward(x)
      y.length == net.outputSize &&
        y.sameElements(net.forward(x)) && y.forall(v => !v.isNaN)
    })
  }
}
