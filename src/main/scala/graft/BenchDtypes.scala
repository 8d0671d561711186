package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import graft.model.Frame
import graft.operators.{Detect, DetectorConfig, Detectors}

/** Per-dtype characterization sweep — the engine's analog of the
  * reference's `benchmark.sh:22-69` precision sweep (FP32 → BF16 →
  * INT8 frozen graphs) with its "without noticeable loss in
  * accuracy" claim (`DEVCATALOG.md:15`) made measurable.
  *
  * For each bundled precision the SAME deterministic frame set runs
  * the full real path (P4–P7 preprocess → GraftNet forward → head
  * decode) through Detect.detect (the DetectExec plan node); the JSON
  * line reports per-dtype wall time (median of 3 timed runs after a
  * warm-up, like Bench) and the accuracy deltas of INT8 vs FP32:
  * box-coordinate and score drift plus class-id agreement over every
  * (frame, head). BF16 is
  * reported as unavailable — no JVM representation without an
  * accelerated runtime (DEPLOYMENT.md maps where it would plug in).
  *
  * Output: exactly one bare JSON line on stdout (same contract as
  * Bench; build.sbt routes forked-run stdout unprefixed).
  */
object BenchDtypes {
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))

  /** Deterministic gradient+box frames (same family as the codec
    * spec fixtures) — enough pixels that preprocess+forward dominate
    * scheduling overhead. */
  private def frames(n: Int, w: Int, h: Int): Seq[Frame] =
    (0 until n).map { id =>
      val data = new Array[Byte](w * h * 3)
      var i = 0
      while (i < data.length) {
        val p = i / 3; val x = p % w; val y = p / w
        data(i) = (i % 3 match {
          case 0 => (x * 255 / (w - 1)) ^ (id % 7)
          case 1 => y * 255 / (h - 1)
          case _ => if (x > w / 4 && x < 3 * w / 4 && y > h / 4) 200 else 30
        }).toByte
        i += 1
      }
      Frame("bench", id.toLong, new Timestamp(1700000000000L + id), h, w, data)
    }

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Engine.session("graft-bench-dtypes")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val n = sys.env.getOrElse("SPARK_GRAFT_DTYPE_FRAMES", "2048").toInt
    val ds = frames(n, 96, 64).toDS().repartition(32).cache()
    ds.count() // materialize input outside every timed region

    def run(dtype: String): (Double, Map[(Long, Int), graft.model.RawDetection]) = {
      val factory = Detectors.forConfig(DetectorConfig(preprocFw = "np",
        modelInput = 32, dataType = dtype,
        modelPath = Some(Detectors.bundledArtifact(dtype))))
      def once(): Double = {
        val t0 = System.nanoTime()
        Detect.detect(ds, factory).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val sec = Seq.fill(3)(once()).sorted.apply(1)
      val boxes = Detect.detect(ds, factory).collect()
        .flatMap(fd => fd.detections.zipWithIndex.map { case (d, i) =>
          (fd.frame_id, i) -> d
        }).toMap
      (sec, boxes)
    }

    val (fp32Sec, fp32) = run("FP32")
    val (int8Sec, int8) = run("INT8")

    val keys = fp32.keys.toSeq
    val boxDrifts = keys.flatMap { k =>
      val a = fp32(k); val b = int8(k)
      Seq(math.abs(a.ymin - b.ymin), math.abs(a.xmin - b.xmin),
        math.abs(a.ymax - b.ymax), math.abs(a.xmax - b.xmax)).map(_.toDouble)
    }
    val scoreDrifts = keys.map(k => math.abs(fp32(k).score - int8(k).score).toDouble)
    val clsAgree = keys.count(k => fp32(k).class_id == int8(k).class_id)

    val json =
      s"""{"metric":"dtype_sweep","unit":"sec","n_frames":$n,"heads":${keys.size},""" +
      s""""dtypes":{"FP32":{"sec":${num(fp32Sec)}},"INT8":{"sec":${num(int8Sec)}},""" +
      s""""BF16":{"unavailable":"no JVM runtime; see DEPLOYMENT.md"}},""" +
      s""""int8_vs_fp32":{"mean_box_drift":${num(boxDrifts.sum / boxDrifts.size)},""" +
      s""""max_box_drift":${num(boxDrifts.max)},""" +
      s""""mean_score_drift":${num(scoreDrifts.sum / scoreDrifts.size)},""" +
      s""""max_score_drift":${num(scoreDrifts.max)},""" +
      s""""class_agreement":${num(clsAgree.toDouble / keys.size)}}}"""
    println(json)
    spark.stop()
  }
}
