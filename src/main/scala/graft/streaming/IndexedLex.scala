package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.TextFunctions
import graft.queries.RetrievalQueries
import graft.Engine
import graft.Engine.SnapshotOps

/** Streaming ingest for the PERSISTED LEXICAL INDEX — x40/x41's
  * production arrival path, completing the index-lifecycle symmetry
  * the engine already ships for vectors (s17 append): documents
  * arrive as micro-batches, every batch is tokenized ONCE and lands
  * its postings (term-hash-bucket layout), doclen rows and
  * corpus-stats PARTIAL under its own `ingest_id=<batch>` partition;
  * the standing index is never read, rewritten or re-tokenized.
  * Serving aggregates the one-row stats partials (counts and sums add
  * — the x39 mergeable-profile property) and runs the exact x40
  * bucket-pruned BM25 plan, so a streamed index is bit-identical to a
  * fresh batch build — the x69 hash gate and the streaming parity
  * spec both certify it.
  *
  * Idempotence: every write is scoped to the batch's `ingest_id`
  * partition with overwrite semantics (an at-least-once replay
  * REPLACES its own partial output), and a `_ingested_<id>` marker
  * written last through the Hadoop FileSystem API short-circuits
  * completed batches. Beside the markers, `_lex_buckets` records the
  * term-hash bucket count B the postings were laid out with; every
  * entry point refuses an index whose B differs from
  * `SPARK_GRAFT_LEX_BUCKETS`, since the serve predicate would prune
  * to the wrong buckets.
  *
  * 100 TB shape: each micro-batch costs one narrow tokenize pass
  * over the BATCH plus three batch-sized writes; stats stay one row
  * per batch (compact on the s21 cadence if batch count ever
  * matters); serving prunes to the query terms' hash buckets across
  * all ingest partitions — the same foldable-predicate pruning as
  * x40, independent of how many batches built the index.
  */
object IndexedLex {

  /** One tokenize pass, pinned — postings, doclen and stats all read
    * the token arrays (the x40/x41 discipline). The caller frees the
    * pin with `Engine.release` once the batch's writes settle. */
  private def tokPin(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks")).snapshot()

  /** The three per-batch sink writes off a pinned token frame: they
    * land in DIFFERENT ingest_id-scoped directories, so they run as
    * concurrent jobs (the x40/x41 awaitAll shape); the caller writes
    * the marker strictly LAST. */
  private def sinkActions(path: String, tok: DataFrame,
      batchId: Long): Seq[() => Unit] = {
    val dl = tok.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"))
    Seq(
      () => tok.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .withColumn("tbkt",
          pmod(hash(col("term")), lit(RetrievalQueries.lexBuckets)))
        .repartition(RetrievalQueries.lexBuckets, col("tbkt"))
        .write.mode("overwrite").partitionBy("tbkt")
        .parquet(s"$path/postings/ingest_id=$batchId"),
      () => dl.write.mode("overwrite")
        .parquet(s"$path/doclen/ingest_id=$batchId"),
      () => dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
        .write.mode("overwrite").parquet(s"$path/stats/ingest_id=$batchId"))
  }

  private def markerOf(path: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(path, s"_ingested_$batchId")

  /** Check the index's recorded bucket count against
    * [[RetrievalQueries.lexBuckets]]. The write paths (`record`)
    * record B on a fresh index; serve and compact refuse an index
    * with no record. */
  private def checkBuckets(fs: org.apache.hadoop.fs.FileSystem,
      path: String, record: Boolean): Unit = {
    val f = new org.apache.hadoop.fs.Path(path, "_lex_buckets")
    val b = RetrievalQueries.lexBuckets
    if (fs.exists(f)) {
      val in = fs.open(f)
      val built =
        try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      require(built == b.toString,
        s"lexical index $path was built with $built term-hash buckets " +
          s"but SPARK_GRAFT_LEX_BUCKETS gives $b — use " +
          s"SPARK_GRAFT_LEX_BUCKETS=$built or rebuild the index")
    } else {
      require(record, s"lexical index $path records no term-hash " +
        "bucket count (_lex_buckets) — rebuild it with ingestBatch " +
        "or backfill")
      val out = fs.create(f, false)
      try out.write(b.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One ingest step (the foreachBatch body and the x69 gate's unit):
    * tokenize `batch` once, write postings/doclen/stats under
    * `ingest_id=<batchId>`, marker last. */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Long): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val marker = markerOf(path, batchId)
    val fs = marker.getFileSystem(hconf)
    checkBuckets(fs, path, record = true)
    if (fs.exists(marker)) return
    val tok = tokPin(batch)
    try {
      RetrievalQueries.awaitAll(sinkActions(path, tok, batchId): _*)
      fs.create(marker, true).close()
    } finally Engine.release(tok)
    ()
  }

  /** Batch BACKFILL of several corpus slices: identical artifacts,
    * markers and replay idempotence as per-batch [[ingestBatch]]
    * calls, but PIPELINED — batch i+1's tokenize pin rides the same
    * concurrent wave as batch i's sink writes (the marker ordering
    * only constrains writes WITHIN a batch; a tokenize has no
    * on-disk effect), collapsing the backfill's two barriers per
    * batch to one. Completed batches (marker present) are skipped,
    * same as the streaming path. */
  def backfill(spark: SparkSession, path: String,
      batches: Seq[(DataFrame, Long)]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    checkBuckets(fs, path, record = true)
    val todo = batches.filter { case (_, id) =>
      !fs.exists(markerOf(path, id))
    }
    if (todo.isEmpty) return
    val first = (tokPin(todo.head._1), todo.head._2)
    // failure discipline: a sink failure must not leak pinned token
    // frames — batch i's tok is always released (finally), and the
    // eagerly-pinned batch i+1 frame is captured through a box so the
    // catch can release it even though awaitAllWith lost the value
    // when it rethrew (awaitAllWith settles ALL actions first, so the
    // box write is visible here)
    val lastPinned = todo.tail.foldLeft(first) {
      case ((tok, id), (nextDf, nextId)) =>
        val pinned = new java.util.concurrent.atomic.AtomicReference[DataFrame]
        val nextTok =
          try RetrievalQueries.awaitAllWith { () =>
            val t = tokPin(nextDf); pinned.set(t); t
          }(sinkActions(path, tok, id): _*)
          catch {
            case t: Throwable =>
              Option(pinned.get()).foreach(Engine.release)
              throw t
          } finally Engine.release(tok)
        fs.create(markerOf(path, id), true).close()
        (nextTok, nextId)
    }
    try {
      RetrievalQueries.awaitAll(
        sinkActions(path, lastPinned._1, lastPinned._2): _*)
      fs.create(markerOf(path, lastPinned._2), true).close()
    } finally Engine.release(lastPinned._1)
    ()
  }

  /** The streaming wrapper (foreachBatch — the index is a
    * cross-batch external store, the VdmsSink shape);
    * AvailableNow drains the source and stops. */
  def start(docs: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch.sparkSession, path, batch, id)
      }
      .start()

  /** COMPACTION (the s21 cadence the stats note above names): many
    * ingests leave one postings/doclen/stats partial per batch —
    * stats grow one row per batch and the postings accumulate
    * per-ingest small files inside each term bucket. Compacting
    * rewrites all three as single collapsed layouts (postings
    * re-co-located per term bucket exactly like the x40 build,
    * stats summed to ONE row) and swaps them in with the staged,
    * marker-certified rename discipline of [[CompactSwap]]: a crash
    * before `_stage_complete` leaves the live index untouched; a crash mid-swap is repaired by the
    * next compact(). Serving is unchanged — the bucket-pruning
    * predicate never depended on how many batches built the index.
    *
    * 100 TB shape: one repartition-by-bucket write over the postings
    * (no re-tokenize — the stored rows already carry tf), one
    * doclen rewrite, one ≤|batches|-row stats fold; O(1) metadata
    * renames for the swap.
    *
    * CONCURRENCY CONTRACT: compact() must not run while an ingest
    * batch is IN FLIGHT against the same index — the swap renames
    * the live directories out from under the batch's open writers,
    * so its output would land in (and be deleted with) the trash
    * while its marker still certifies it. Schedule compactions on
    * the ingest thread: a foreachBatch streaming query serializes
    * micro-batches, so invoking compact between batches (the
    * Round12/Round13 spec shape) satisfies the contract with no
    * lock. A CRASHED batch is handled WITHOUT external help: its
    * partitions carry no `_ingested` marker, are excluded from the
    * rebuild and dropped by the swap, and the at-least-once replay
    * re-ingests them from source (spec-gated: crash → compact →
    * replay ≡ fresh build). */
  def compact(spark: SparkSession, path: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    checkBuckets(fs, path, record = false)
    finishSwap(fs, path)
    val stage = new org.apache.hadoop.fs.Path(s"$path/_compact_stage")
    fs.delete(stage, true)
    val uncert = CompactSwap.uncertifiedIds(fs, path,
      Seq("postings", "doclen", "stats"))
    def withIngestId(df: DataFrame): DataFrame = {
      // a non-partitioned legacy table is certified by construction —
      // stamp it with the RESERVED base id, never a batch id
      val withId = if (df.columns.contains("ingest_id")) df
        else df.withColumn("ingest_id", lit(CompactSwap.CompactedBaseId))
      if (uncert.isEmpty) withId
      else withId.filter(!col("ingest_id").isin(uncert: _*))
    }
    val post = withIngestId(spark.read.parquet(s"$path/postings"))
      .select(col("term"), col("doc_id"), col("tf"),
        col("tbkt").cast("int").as("tbkt"), col("ingest_id"))
    val dl = withIngestId(spark.read.parquet(s"$path/doclen"))
      .select(col("doc_id"), col("dl"), col("ingest_id"))
    val stats = withIngestId(spark.read.parquet(s"$path/stats"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
      // the merged base row lives under the reserved id: batch id 0
      // (a fresh query, or a crashed batch 0's replay) overwrites
      // ONLY its own ingest_id=0 partition, never the base totals
      .withColumn("ingest_id", lit(CompactSwap.CompactedBaseId))
    RetrievalQueries.awaitAll(
      () => post.repartition(RetrievalQueries.lexBuckets, col("tbkt"))
        .write.mode("overwrite").partitionBy("ingest_id", "tbkt")
        .parquet(s"$path/_compact_stage/postings"),
      () => dl.write.mode("overwrite").partitionBy("ingest_id")
        .parquet(s"$path/_compact_stage/doclen"),
      () => stats.write.mode("overwrite").partitionBy("ingest_id")
        .parquet(s"$path/_compact_stage/stats"))
    fs.create(new org.apache.hadoop.fs.Path(stage, "_stage_complete"),
      true).close()
    finishSwap(fs, path)
  }

  /** Apply (or re-apply after a crash) a certified staged
    * compaction — the [[CompactSwap]] discipline (rename
    * booleans checked, cleanup gated on live-table existence) for
    * the three lexical tables. No-op without the stage marker. */
  private def finishSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    CompactSwap.finishSwap(fs, path, Seq("postings", "doclen", "stats"))

  /** Serve the streamed index: the exact x40 bucket-pruned BM25 plan
    * over all ingest partitions, with the corpus stats assembled by
    * summing the per-batch one-row partials. */
  def serve(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    checkBuckets(root.getFileSystem(spark.sessionState.newHadoopConf()),
      path, record = false)
    val ts = terms.sorted
    val post = spark.read.parquet(s"$path/postings")
      .where(RetrievalQueries.bucketPredFor(ts) && col("term").isin(ts: _*))
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
    RetrievalQueries.bm25ServeFrom(post,
      spark.read.parquet(s"$path/doclen"), stats, ts)
  }
}
