package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.Frame
import graft.operators.{Detect, DetectionPipeline, Detector}

/** §2.7: the reference's streaming execution model under Structured
  * Streaming. The gst-launch pipeline (`/root/reference/run.sh:53`)
  * becomes: frame stream → DetectExec inference → threshold →
  * explode → scale → label filter → VDMS-shaped foreachBatch sink,
  * with the semantics the reference implements imperatively:
  *
  *  - EOS flush (`gst-detection-tf.py:421-423`) → Trigger.AvailableNow
  *    (process everything available, then stop);
  *  - frame limit (`gst-detection-tf.py:149-152,406-408`) → stop the
  *    query once the observed row count reaches the limit;
  *  - crash-safety the reference lacks → checkpointLocation +
  *    idempotent-by-batch-id sink (VdmsSink).
  *
  * The whole transform chain is stateless + narrow, so micro-batches
  * scale exactly like the batch plan: no shuffle before the sink.
  *
  * The label dimension is read once, when the query is built, like
  * the reference's dict (`gst-detection-tf.py:114-121`): the wire
  * record carries only `label_id`, so per batch the dimension is a
  * membership test on its ids, and a trigger runs one job, not a label
  * job plus the main one. An edited label file takes effect when the
  * query is restarted.
  */
object DetectionStream {

  /** The per-batch transform: identical operators to the batch path
    * (same code, streaming DataFrame in), over the label ids read here,
    * once. The observe() metric is the A1/A3 analog — record counts
    * surface in every progress event via ObservedMetricsListener, no
    * timers in the data path. */
  def pipeline(frames: Dataset[Frame], labels: DataFrame,
      detectorFactory: () => Detector, threshold: Double): DataFrame =
    records(frames, labelIds(labels), detectorFactory, threshold)

  /** The ids of the label dimension, read once per query. Null ids
    * match no box (as in an inner join) and are dropped; a duplicate
    * id, which a join would have turned into duplicate records, is
    * refused. */
  private def labelIds(labels: DataFrame): Seq[Any] = {
    val ids = labels.select("label_id").where(col("label_id").isNotNull)
      .collect().map(_.get(0)).toSeq
    val dup = ids.diff(ids.distinct).headOption
    require(dup.isEmpty, s"duplicate label_id ${dup.get} in the label dimension")
    ids
  }

  private def records(frames: Dataset[Frame], ids: Seq[Any],
      detectorFactory: () => Detector, threshold: Double): DataFrame = {
    val dets = Detect.detect(frames, detectorFactory).toDF()
    val boxes = DetectionPipeline.boxes(dets, threshold)
      .where(col("label_id").isin(ids: _*))
    boxes.select(
        to_json(DetectionPipeline.vdmsRecord(boxes)).as("record"))
      .observe("graft_pipeline", count(lit(1)).as("n_records"))
  }

  /** Bounded run: process all available frames (EOS semantics), then
    * return. Restart with the same checkpoint is a no-op for already
    * committed batches. */
  def runAvailableNow(frames: Dataset[Frame], labels: DataFrame,
      detectorFactory: () => Detector, store: MetadataStore,
      checkpointDir: String, threshold: Double = 0.7): StreamingQuery = {
    val out = pipeline(frames, labels, detectorFactory, threshold)
    out.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(VdmsSink.writeBatch(store) _)
      .start()
  }

  /** F3: frame-limited run — the `total_frames` config of the
    * reference. The observed frame count is checked per micro-batch
    * and the query is stopped once the limit is reached (the
    * reference's quit_gracefully path). Limit granularity is the
    * micro-batch, exactly like the reference's per-buffer check. */
  def runWithFrameLimit(spark: SparkSession, frames: Dataset[Frame],
      labels: DataFrame, detectorFactory: () => Detector,
      store: MetadataStore, checkpointDir: String, frameLimit: Long,
      threshold: Double = 0.7): StreamingQuery = {
    val ids = labelIds(labels)
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val frameEnc = org.apache.spark.sql.Encoders.product[Frame]
    val query = frames.toDF().writeStream
      .trigger(Trigger.ProcessingTime(50))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!store.isCommitted(batchId)) {
          val remaining = frameLimit - seen.get()
          if (remaining > 0) {
            // respect the limit inside the batch, like the per-frame
            // check at gst-detection-tf.py:406-408; clamp so a
            // >2^31 limit can't overflow to a negative limit(n)
            val take = batch
              .limit(math.min(remaining, Int.MaxValue.toLong).toInt)
              .persist()
            try {
              // persist() pins ONE materialization of the limited
              // batch: the rows the pipeline writes and the rows
              // counted below are the same rows (limit over an
              // unordered source is otherwise free to pick a
              // different subset per execution), and the source +
              // detector run once per batch, not twice
              val out = records(take.as[Frame](frameEnc), ids,
                detectorFactory, threshold)
              VdmsSink.writeBatch(store)(out, batchId)
              seen.addAndGet(take.count())
            } finally take.unpersist()
          } else store.commit(batchId)
          ()
        }
      }
      .start()
    // quit_gracefully analog: a listener stops the query once the
    // limit is reached (stop() is safe from the listener thread,
    // unlike from inside foreachBatch). The listener leaves with its
    // query however that query ends: limit, failure or a user stop.
    val limiter = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == query.id && seen.get() >= frameLimit) query.stop()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) spark.streams.removeListener(this)
    }
    spark.streams.addListener(limiter)
    // the query may have ended before the listener was registered, so
    // its terminated event is never seen
    if (!query.isActive) spark.streams.removeListener(limiter)
    query
  }
}
