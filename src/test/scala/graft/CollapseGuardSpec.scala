package graft

import org.apache.spark.sql.functions.{col, xxhash64}

/** Guards for code collapses: a query rewired onto shared helpers
  * must return the rows it returned before, its oracle SQL must
  * still restate those rows, and no `src/main` definition may be
  * left that only tests call.
  *
  * The digests below are (row count, wrapping sum of `xxhash64` over
  * every column) at sf0.001, taken from the hand-written per-query
  * versions these queries replaced. The digest is order-insensitive,
  * so partition layout cannot move it; any changed cell does. */
class CollapseGuardSpec extends SparkTestBase {

  private val digests: Seq[(String, Long, Long)] = Seq(
    ("m2_png_decode", 500L, -1599733907547022232L),
    ("m3_wav_decode", 500L, -7955499499851113925L),
    ("m4_gif_decode", 500L, -6719246966650544710L),
    ("m5_audio_features", 1974L, 4486495784890232000L),
    ("m6_image_stats", 500L, 3667029513446953000L),
    ("m7_frame_sample", 750L, 8233709706292188310L),
    ("m9_scene_cuts", 750L, 8866754977219318911L),
    ("m11_thumbnail", 500L, 3089189556993485742L),
    ("m12_resample", 500L, -7563699469339604499L),
    ("m13_color_hist", 6000L, 8937387848953987755L),
    ("m14_normalize", 500L, 5469755688466505694L),
    ("m15_downmix", 500L, -2190412127502517261L),
    ("m19_video_neardup", 6L, -1219506431072671169L),
    ("m22_patch_grid", 2000L, 6732729898570725260L),
    ("m23_gif_motion", 500L, 8338129815816500229L),
    ("m25_shot_keyframes", 1706L, -8134437282127835531L),
    ("m26_palette", 2000L, 3614900953630873261L),
    ("m33_pcm_decode", 500L, 3134991251008309541L),
    ("m34_cavlc_dc_decode", 500L, -8890522358344574044L),
    ("m35_cavlc_full_decode", 500L, 3041363104871182175L),
    ("m36_mixed_intra_decode", 500L, -8421471239248579774L),
    ("m37_intra_modes", 500L, 232667716101932637L),
    ("m38_chroma_residuals", 500L, 5970676852806625626L),
    ("m39_deblocking", 500L, 284690836905208975L),
    ("m40_cabac_decode", 500L, 3041363104871182175L),
    ("m41_inter_decode", 500L, -8398917334202845753L),
    ("m42_qpel_decode", 500L, -8485214742167020323L),
    ("m43_inter_residual", 500L, 6699486788283604640L),
    ("m44_cabac_chroma", 500L, -1374306632954729115L),
    ("g7_bfs_layers", 298L, -868131842949082470L))

  private def digest(name: String): (Long, Long) = {
    import testImplicits._
    val df = SparkEntry.queries(name)(spark, sf)
    val hashes = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*))
      .as[Long].collect()
    (hashes.length.toLong, hashes.sum)
  }

  test("media queries on the shared synthetic clips and decode digest " +
    "keep their row digests") {
    val got = digests.map { case (name, _, _) => (name, digest(name)) }
    val wrong = digests.zip(got).collect {
      case ((name, n, h), (_, d)) if d != ((n, h)) =>
        s"""("$name", ${d._1}L, ${d._2}L)"""
    }
    assert(wrong.isEmpty, wrong.mkString("digest changed:\n", ",\n", ""))
  }

  test("the oracle SQL of the queries on the shared H.264 fixtures " +
    "matches their dump under tools/check_oracle.py") {
    import scala.sys.process._
    val names = Seq("m35_cavlc_full_decode", "m40_cabac_decode",
      "m41_inter_decode", "m42_qpel_decode", "m43_inter_residual")
    val base = new java.io.File(sys.props("user.dir"))
    val out = java.nio.file.Files.createTempDirectory("graft-oracle-").toFile
    try {
      Verify.dump(spark, sf, out.getPath, Some(names.toSet))
      val log = new StringBuilder
      val code = Process(Seq("python3", "tools/check_oracle.py", sf,
        out.getPath), base).!(ProcessLogger(l => log ++= l + "\n",
        l => log ++= l + "\n"))
      val passed = log.toString.linesIterator.count(_.startsWith("PASS "))
      assert(code == 0 && passed == names.size,
        s"tools/check_oracle.py exited $code with $passed PASS:\n$log")
    } finally TmpPaths.deleteRecursively(out)
  }

  test("tools/orphans.py finds no src/main definition outside its " +
    "allowlist that only tests call or no file names") {
    import scala.sys.process._
    val base = new java.io.File(sys.props("user.dir"))
    assert(new java.io.File(base, "tools/orphans.py").isFile,
      s"tools/orphans.py not found under $base")
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n")
    val code = Process(Seq("python3", "tools/orphans.py"), base).!(log)
    assert(code == 0, s"tools/orphans.py exited $code:\n$out")
  }
}
