package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Frame
import graft.operators.{Detect, DetectionPipeline, StubDetector}
import org.scalatest.BeforeAndAfterAll
import graft.streaming.{DetectionStream, ForkFreeCheckpointFileManager, InMemoryStore, ObservedMetricsListener, PipelineConfig, VideoPipeline}

class StreamingSpec extends SparkTestBase with BeforeAndAfterAll {

  private def mkFrames(ids: Range): Seq[Frame] = ids.map { i =>
    Frame("vid", i.toLong, new Timestamp(1700000000000L + i * 1000L),
      480, 640, Array.empty[Byte])
  }

  private def labelsDf = {
    import testImplicits._
    (0 until 25).map(i => (i, s"label_$i")).toDF("label_id", "label")
  }

  /** Every temp dir and label file the tests make; all deleted once
    * the suite ends. */
  private val made = scala.collection.mutable.ListBuffer.empty[java.io.File]

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft-stream-").toFile
    made += d
    d.toString
  }

  private def tmpLabelFile(): java.nio.file.Path = {
    val f = Files.createTempFile("labels-", ".label")
    made += f.toFile
    f
  }

  override def afterAll(): Unit =
    try made.foreach(TmpPaths.deleteRecursively) finally super.afterAll()

  /** The local properties of every Spark job started while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.asScala.toSeq
  }

  /** Jobs that ran inside `q`'s triggers: StreamExecution tags them
    * with the query id. */
  private def jobsOf(q: StreamingQuery, jobs: Seq[java.util.Properties]): Int =
    jobs.count(_.getProperty(StreamExecution.QUERY_ID_KEY) == q.id.toString)

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Runs `body` with Spark's default checkpoint file manager. */
  private def withSparkManager[T](body: => T): T = {
    val engine = spark.conf.get(ManagerKey)
    spark.conf.unset(ManagerKey)
    try body finally spark.conf.set(ManagerKey, engine)
  }

  private def filesUnder(dir: String): Seq[java.io.File] =
    scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.map(_.toFile).filter(_.isFile).toList)

  test("availableNow: streaming pipeline matches batch pipeline output") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Frame]
    val frames = mkFrames(1 to 40)
    mem.addData(frames)
    val store = new InMemoryStore
    val q = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
      () => StubDetector, store, tmpDir())
    q.awaitTermination(60000)
    // the streaming planner plans detect through the same plan node
    val executed = q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(executed.contains("DetectExec(batchSize=32)"), executed)
    // batch reference: same operators on a static Dataset; multiset
    // compare — identical wire records from different frames are
    // distinct uploads
    val batchOut = DetectionStream.pipeline(
      frames.toDS(), labelsDf, () => StubDetector, 0.7)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(batchOut.nonEmpty)
    assert(InMemoryStore.all.sorted.toSeq === batchOut)
  }

  test("checkpoint restart: committed batches are not re-applied") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Frame]
    mem.addData(mkFrames(1 to 20))
    val store = new InMemoryStore
    val ckpt = tmpDir()
    val q1 = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
      () => StubDetector, store, ckpt)
    q1.awaitTermination(60000)
    val afterFirst = InMemoryStore.size
    assert(afterFirst > 0)
    // restart over the same checkpoint, no new data -> no change
    val q2 = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
      () => StubDetector, store, ckpt)
    q2.awaitTermination(60000)
    assert(InMemoryStore.size === afterFirst)
    // new data after restart is processed exactly once
    mem.addData(mkFrames(21 to 30))
    val q3 = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
      () => StubDetector, store, ckpt)
    q3.awaitTermination(60000)
    val batchAll = DetectionStream.pipeline(mkFrames(1 to 30).toDS(),
      labelsDf, () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === batchAll)
  }

  test("frame limit stops the query after N frames") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Frame]
    mem.addData(mkFrames(1 to 50))
    val store = new InMemoryStore
    val q = DetectionStream.runWithFrameLimit(spark, mem.toDS(), labelsDf,
      () => StubDetector, store, tmpDir(), frameLimit = 7)
    q.awaitTermination(60000)
    assert(!q.isActive)
    // exactly the first 7 frames' records (batch order = arrival order)
    val expected = DetectionStream.pipeline(mkFrames(1 to 7).toDS(),
      labelsDf, () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === expected)
  }

  test("file-based frame stream: parquet dir -> conform -> pipeline (S1/S3)") {
    import testImplicits._
    InMemoryStore.reset()
    val dir = tmpDir()
    val frames = mkFrames(1 to 12)
    frames.toDS().write.mode("overwrite").parquet(dir)
    val store = new InMemoryStore
    val q = DetectionStream.runAvailableNow(
      graft.sources.FrameSource.frameStream(spark, dir), labelsDf,
      () => StubDetector, store, tmpDir())
    q.awaitTermination(60000)
    val expected = DetectionStream.pipeline(frames.toDS(), labelsDf,
      () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === expected)
    // caps filter rejects a stream missing contract columns
    val bad = Seq((1L, "x")).toDF("frame_id", "video_id")
    val err = intercept[IllegalArgumentException](
      graft.sources.FrameSource.conform(bad))
    assert(err.getMessage.contains("missing columns"))
  }

  test("config-driven pipeline: settings.yaml shape end to end") {
    import testImplicits._
    InMemoryStore.reset()
    val framesDir = tmpDir(); val labelFile =
      tmpLabelFile()
    val frames = mkFrames(1 to 15)
    frames.toDS().write.mode("overwrite").parquet(framesDir)
    Files.writeString(labelFile,
      (0 until 25).map(i => s"$i:label_$i").mkString("\n"))
    val yaml =
      s"""# reference-shaped flat config
         |device: CPU
         |preproc_fw: cv2
         |data_type: FP32
         |face_threshold: 0.7
         |total_frames: -1
         |video_path: $framesDir
         |label_file: $labelFile
         |""".stripMargin
    val cfg = PipelineConfig.fromMap(PipelineConfig.fromYaml(yaml))
    assert(cfg.preprocFw === "cv2" && cfg.faceThreshold === 0.7)
    val store = new InMemoryStore
    val q = VideoPipeline.run(spark, cfg, store)
    q.awaitTermination(60000)
    val expected = DetectionStream.pipeline(frames.toDS(),
      graft.sources.Labels.fromIdNameFile(spark, labelFile.toString),
      () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === expected)
  }

  test("a run without checkpoint_dir deletes its own checkpoint; a named one stays") {
    import testImplicits._
    val framesDir = tmpDir()
    val labelFile = tmpLabelFile()
    mkFrames(1 to 5).toDS().write.mode("overwrite").parquet(framesDir)
    Files.writeString(labelFile, (0 until 25).map(i => s"$i:label_$i").mkString("\n"))
    def checkpointOf(q: org.apache.spark.sql.streaming.StreamingQuery): java.io.File =
      new java.io.File(new java.net.URI(
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot))
    val cfg = PipelineConfig(videoPath = framesDir, labelFile = labelFile.toString)
    val q = VideoPipeline.run(spark, cfg, new InMemoryStore)
    val own = checkpointOf(q)
    assert(own.getName.startsWith("graft-ckpt-"), own)
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    // the listener bus delivers the terminated event asynchronously
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (own.exists && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!own.exists, s"$own left behind")
    val named = tmpDir()
    try {
      val q2 = VideoPipeline.run(spark, cfg.copy(checkpointDir = named), new InMemoryStore)
      q2.awaitTermination(60000)
      assert(new java.io.File(named, "offsets").isDirectory)
    } finally TmpPaths.deleteRecursively(new java.io.File(named))
  }

  test("backpressure: maxFilesPerTrigger bounds each micro-batch") {
    import testImplicits._
    InMemoryStore.reset()
    val dir = tmpDir()
    mkFrames(1 to 32).toDS().repartition(8)
      .write.mode("overwrite").parquet(dir)
    val store = new InMemoryStore
    val q = DetectionStream.runAvailableNow(
      graft.sources.FrameSource.frameStream(spark, dir,
        maxFilesPerTrigger = 2),
      labelsDf, () => StubDetector, store, tmpDir())
    q.awaitTermination(60000)
    // 8+ data files / 2 per trigger -> at least 4 committed batches
    assert(InMemoryStore.committedCount >= 4)
    val expected = DetectionStream.pipeline(mkFrames(1 to 32).toDS(),
      labelsDf, () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === expected)
  }

  test("streaming session windows: gap-merged sessions finalize in append mode") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ts(s: Long) = new Timestamp(t0 + s * 1000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").option("checkpointLocation", tmpDir()).start()
    // user 1: events at 0s/3s/6s chain into ONE session (gaps < 5s);
    // the 100s event opens a separate session. user 2: one event.
    mem.addData((1L, ts(0)), (1L, ts(3)), (2L, ts(1)))
    q.processAllAvailable()
    mem.addData((1L, ts(6)), (1L, ts(100)))
    q.processAllAvailable()
    // push the watermark far past every session's close to finalize
    mem.addData((9L, ts(1000)))
    q.processAllAvailable()
    val got = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    q.stop()
    assert(got === Seq((1L, 1L), (1L, 3L), (2L, 1L)))
  }

  test("streaming session windows match the batch r20 sessions on the real events table") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    // same declared query as r20's core: incremental execution must
    // produce the identical session set (the parity property the
    // dedup/CDC/funnel paths already carry)
    val src = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("ts"))
      .as[(Long, Timestamp)].collect()
    val expected = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") < 30)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .as[(Long, Timestamp, Long)].collect().toSet
    // adversarial replay: deterministic shuffle across 3 micro-batches;
    // the huge watermark delay means no arrival order can drop events
    val shuffled = new scala.util.Random(7).shuffle(src.toSeq)
    val chunks = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    val mem = MemoryStream[(Long, Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "3650 days")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").option("checkpointLocation", tmpDir()).start()
    chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    // sentinel far past max_ts + gap + delay finalizes every session
    val maxTs = src.map(_._2.getTime).max
    mem.addData((999999L, new Timestamp(maxTs + 4000L * 86400 * 1000)))
    q.processAllAvailable()
    val got = spark.table("sess_parity")
      .filter(col("user_id") < 30)
      .as[(Long, Timestamp, Long)].collect().toSet
    q.stop()
    assert(got == expected && expected.nonEmpty)
  }

  test("streaming drift monitor: final streamed term counts reproduce batch x38") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("is_a", col("doc_id") % 2 === 0)
      .select(col("lang"), col("is_a"), col("text"))
      .as[(String, Boolean, String)].collect()
    val expected = graft.queries.CorpusQueries.x38Drift(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSet
    // replay shuffled across micro-batches: the running (lang, term)
    // count state is order-independent by construction
    val shuffled = new scala.util.Random(11).shuffle(docs.toSeq)
    val chunks = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    val mem = MemoryStream[(String, Boolean, String)]
    val counts = graft.queries.CorpusQueries.termCounts(
      mem.toDF().toDF("lang", "is_a", "text"))
    val q = counts.writeStream.format("memory").queryName("drift_counts")
      .outputMode("update").option("checkpointLocation", tmpDir()).start()
    chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    // update mode appends every state revision; counts are monotone,
    // so the final snapshot per (lang, term) is the max
    val snapshot = spark.table("drift_counts")
      .groupBy(col("lang"), col("term"))
      .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      // driftFromCounts self-joins the snapshot; cut the shared
      // memory-sink view lineage so the two sides resolve separately
      .localCheckpoint()
    val got = graft.queries.CorpusQueries.driftFromCounts(snapshot)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("streaming outlier monitor: final streamed per-source counts " +
    "reproduce batch x47") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.CorpusQueries
    // centroids train once on the standing corpus (batch side)
    val eBatch = graft.sources.Tables.embeddings(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), CorpusQueries.emQuantize(col("embedding")).as("em"))
    // materialize eagerly: the static build side of the stream-static
    // join should not recompute per micro-batch
    val cent = CorpusQueries.outlierCentroids(eBatch).localCheckpoint()
    val expected = CorpusQueries.x47SemanticOutliers(spark, sf)
      .select("source", "n_docs", "n_outliers")
      .as[(String, Long, Long)].collect().toSet
    // replay the corpus shuffled across micro-batches; the scored
    // stream aggregates per source in update mode (monotone counts)
    val src = eBatch.select(col("source"), col("em"))
      .as[(String, Seq[Long])].collect()
    val shuffled = new scala.util.Random(47).shuffle(src.toSeq)
    val chunks = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    val mem = MemoryStream[(String, Seq[Long])]
    val scored = CorpusQueries.outlierScores(
      mem.toDF().toDF("source", "em"), cent)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cos_micro") < 50000L, 1L).otherwise(0L))
          .as("n_outliers"))
    val q = scored.writeStream.format("memory").queryName("outlier_mon")
      .outputMode("update").option("checkpointLocation", tmpDir()).start()
    chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    val got = spark.table("outlier_mon")
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("n_outliers")).as("n_outliers"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("streaming exact dedup: duplicate frames across batches dropped") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Frame]
    val q = mem.toDS().dropDuplicates("video_id", "frame_id")
      .select(col("video_id"), col("frame_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").option("checkpointLocation", tmpDir()).start()
    mem.addData(mkFrames(1 to 5))
    q.processAllAvailable()
    mem.addData(mkFrames(3 to 8)) // 3..5 are cross-batch duplicates
    q.processAllAvailable()
    val n = spark.table("dedup_out").count()
    q.stop()
    assert(n === 8L)
  }

  test("frame limit executes the limited batch once (no double run)") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val inits = spark.sparkContext.longAccumulator("detector_factory_inits")
    val counting: () => graft.operators.Detector = () => {
      inits.add(1)
      StubDetector
    }
    val mem = MemoryStream[Frame]
    mem.addData(mkFrames(1 to 50))
    val store = new InMemoryStore
    val q = DetectionStream.runWithFrameLimit(spark, mem.toDS(), labelsDf,
      counting, store, tmpDir(), frameLimit = 7)
    q.awaitTermination(60000)
    assert(!q.isActive)
    val expected = DetectionStream.pipeline(mkFrames(1 to 7).toDS(),
      labelsDf, () => StubDetector, 0.7).collect().map(_.getString(0)).toSet
    assert(InMemoryStore.all.toSet === expected)
    // ONE batch hit the limit; the persisted limited batch is a single
    // partition, so the detector factory initialized exactly once —
    // the count() afterwards read the cache, not a second execution
    assert(inits.value === 1L)
  }

  test("frame limit: the listener leaves with a query stopped before its limit") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val before = spark.streams.listListeners().length
    val mem = MemoryStream[Frame]
    mem.addData(mkFrames(1 to 5))
    val q = DetectionStream.runWithFrameLimit(spark, mem.toDS(), labelsDf,
      () => StubDetector, new InMemoryStore, tmpDir(), frameLimit = 1000)
    q.processAllAvailable()
    assert(q.isActive) // 5 of 1000 frames: the limit never stops it
    q.stop()
    GraftSqlBridge.drainListenerBus(spark.sparkContext)
    assert(spark.streams.listListeners().length === before)
  }

  test("observed metrics reach the listener (A3/S5 analog)") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val listener = new ObservedMetricsListener
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[Frame]
      mem.addData(mkFrames(1 to 25))
      val store = new InMemoryStore
      val q = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
        () => StubDetector, store, tmpDir())
      q.awaitTermination(60000)
      assert(listener.metric("graft_pipeline", "n_records")
        .exists(_.asInstanceOf[Long] === InMemoryStore.size.toLong))
      assert(listener.totalInputRows === 25L)
    } finally spark.streams.removeListener(listener)
  }

  test("availableNow runs one Spark job per trigger: the label dim is not re-read") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Frame]
    val ckpt = tmpDir()
    var queries = Seq.empty[StreamingQuery]
    val jobs = jobsDuring {
      for (ids <- Seq(1 to 20, 21 to 40)) {
        mem.addData(mkFrames(ids))
        val q = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
          () => StubDetector, new InMemoryStore, ckpt)
        q.awaitTermination(60000)
        assert(q.exception.isEmpty)
        queries :+= q
      }
    }
    assert(InMemoryStore.committedCount === 2)
    // both runs share the checkpoint, so they are one query (one id)
    assert(queries.map(_.id).distinct.size === 1)
    assert(jobsOf(queries.head, jobs) === 2,
      "one decode+detect+sink job per trigger, and no label job")
  }

  test("the label dim is a filter on its ids: records equal the broadcast-join formulation") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    // even ids only, plus a null id, which matches no box
    val partial = (0 until 25 by 2).map(i => (Option(i), s"label_$i"))
      .:+((Option.empty[Int], "no id")).toDF("label_id", "label")
    val frames = mkFrames(1 to 40)
    val mem = MemoryStream[Frame]
    mem.addData(frames)
    val q = DetectionStream.runAvailableNow(mem.toDS(), partial,
      () => StubDetector, new InMemoryStore, tmpDir())
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    val boxes = DetectionPipeline.boxes(
      Detect.detect(frames.toDS(), () => StubDetector).toDF(), 0.7)
    val joined = DetectionPipeline.joinLabels(boxes, partial)
    val expected = joined.select(to_json(DetectionPipeline.vdmsRecord(joined)))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < boxes.count())
    assert(InMemoryStore.all.sorted === expected)
  }

  test("a duplicate label_id fails when the query is built, naming the id") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = Seq((1, "a"), (7, "b"), (7, "c")).toDF("label_id", "label")
    val mem = MemoryStream[Frame]
    mem.addData(mkFrames(1 to 5))
    val active = spark.streams.active.length
    for (run <- Seq(
        () => DetectionStream.runAvailableNow(mem.toDS(), dup,
          () => StubDetector, new InMemoryStore, tmpDir()),
        () => DetectionStream.runWithFrameLimit(spark, mem.toDS(), dup,
          () => StubDetector, new InMemoryStore, tmpDir(), frameLimit = 3))) {
      val err = intercept[IllegalArgumentException](run())
      assert(err.getMessage.contains("duplicate label_id 7"), err.getMessage)
    }
    assert(spark.streams.active.length === active)
  }

  test("frame limit reads the label dim once per query, not once per batch") {
    import testImplicits._
    InMemoryStore.reset()
    implicit val sqlCtx = spark.sqlContext
    // a file-backed dim, so reading it is a Spark job of its own
    val labelFile = tmpLabelFile()
    Files.writeString(labelFile, (0 until 25).map(i => s"$i:label_$i").mkString("\n"))
    val labels = graft.sources.Labels.fromIdNameFile(spark, labelFile.toString)
    val mem = MemoryStream[Frame]
    var q: StreamingQuery = null
    val jobs = jobsDuring {
      q = DetectionStream.runWithFrameLimit(spark, mem.toDS(), labels,
        () => StubDetector, new InMemoryStore, tmpDir(), frameLimit = 1000)
      for (ids <- Seq(1 to 10, 11 to 20, 21 to 30)) {
        mem.addData(mkFrames(ids))
        q.processAllAvailable()
      }
      q.stop()
    }
    assert(InMemoryStore.committedCount === 3)
    val inBatches = jobsOf(q, jobs)
    assert(jobs.size - inBatches === 1, "one label read, when the query is built")
    // each batch runs the sink's job and the frame count on its pinned
    // rows; none reads the labels
    assert(inBatches === 2 * 3, s"$inBatches jobs over 3 batches")
    val expected = DetectionStream.pipeline(mkFrames(1 to 30).toDS(), labels,
      () => StubDetector, 0.7).collect().map(_.getString(0)).sorted.toSeq
    assert(InMemoryStore.all.sorted === expected)
  }

  test("local checkpoints use the engine's file manager: no overwrite unless asked, Spark's checksums kept valid") {
    val dir = tmpDir()
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(new java.io.File(dir).toURI)
    val fm = CheckpointFileManager.create(root, hconf)
    assert(fm.isInstanceOf[ForkFreeCheckpointFileManager], fm.getClass)
    assert(fm.isLocal)
    val file = new Path(new java.io.File(dir, "0").toURI)
    def write(p: Path, text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(p, overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write(file, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(file, "second", overwrite = false))
    assert(read(file) === "first")
    write(file, "third", overwrite = true)
    assert(read(file) === "third")
    assert(fm.list(root).map(_.getPath.getName).toSeq === Seq("0"))
    // no temp file left by the refused write, and no checksum side file
    assert(filesUnder(dir).map(_.getName) === Seq("0"))
    // a file Spark's default manager wrote, with its checksum side
    // file, stays readable after this one overwrites it, also through
    // Hadoop's checksummed LocalFileSystem (Spark's FileSystem-based
    // manager), which verifies the side file on read
    val other = new Path(new java.io.File(dir, "1").toURI)
    val viaSpark = new FileContextBasedCheckpointFileManager(root, hconf)
      .createAtomic(other, false)
    viaSpark.write("spark".getBytes("UTF-8"))
    viaSpark.close()
    assert(filesUnder(dir).map(_.getName).contains(".1.crc"))
    write(other, "engine", overwrite = true)
    val in = new FileSystemBasedCheckpointFileManager(root, hconf).open(other)
    try assert(new String(in.readAllBytes(), "UTF-8") === "engine") finally in.close()
    fm.delete(other)
    assert(filesUnder(dir).map(_.getName) === Seq("0"))
  }

  test("a checkpoint resumes across Spark's and the engine's file managers, both ways") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    for (sparkFirst <- Seq(true, false)) {
      InMemoryStore.reset()
      val mem = MemoryStream[Frame]
      val ckpt = tmpDir()
      def run(): Unit = {
        val q = DetectionStream.runAvailableNow(mem.toDS(), labelsDf,
          () => StubDetector, new InMemoryStore, ckpt)
        q.awaitTermination(60000)
        assert(q.exception.isEmpty)
      }
      def runUnder(sparks: Boolean): Unit = if (sparks) withSparkManager(run()) else run()
      mem.addData(mkFrames(1 to 20))
      runUnder(sparkFirst)
      // Spark's manager writes Hadoop checksum files, the engine's none
      assert(filesUnder(ckpt).exists(_.getName.endsWith(".crc")) === sparkFirst)
      assert(InMemoryStore.committedCount === 1)
      mem.addData(mkFrames(21 to 30))
      runUnder(!sparkFirst)
      // batch 0 was not replayed, and batch 1 holds only the new frames
      assert(InMemoryStore.committedCount === 2)
      val expected = DetectionStream.pipeline(mkFrames(1 to 30).toDS(), labelsDf,
        () => StubDetector, 0.7).collect().map(_.getString(0)).sorted.toSeq
      assert(InMemoryStore.all.sorted === expected, s"sparkFirst = $sparkFirst")
      assert(!filesUnder(ckpt).exists(_.getName.endsWith(".tmp")))
    }
  }

  test("a finished query leaves no temp file in its checkpoint") {
    import testImplicits._
    InMemoryStore.reset()
    val dir = tmpDir()
    mkFrames(1 to 32).toDS().repartition(4).write.mode("overwrite").parquet(dir)
    val ckpt = tmpDir()
    val q = DetectionStream.runAvailableNow(
      graft.sources.FrameSource.frameStream(spark, dir, maxFilesPerTrigger = 2),
      labelsDf, () => StubDetector, new InMemoryStore, ckpt)
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    assert(InMemoryStore.committedCount >= 2)
    val names = filesUnder(ckpt).map(_.getName)
    assert(names.contains("metadata") && names.contains("0"), names)
    assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".crc")), names)
  }
}
