package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Components, Dedup}

/** Streaming near-dedup against the PERSISTED d13 index — the
  * production incremental-ingest lifecycle, completing what
  * `StreamingDedup` (LSH-keyed in-query state) and `Dedup.
  * nearDupIndexBuild/Probe` (batch build/probe halves) each cover
  * alone: documents arrive as micro-batches, every batch probes the
  * ON-DISK band table + feature store, and its surviving
  * representatives are APPENDED to that same index, so later batches
  * dedup against everything that came before without the corpus ever
  * living in query state or being rescanned.
  *
  * Per-batch semantics (deterministic, order-free within a batch):
  *  1. WITHIN-batch near-dup pairs (the exact d2 LSH + Jaccard
  *     pipeline) collapse transitively — each connected family keeps
  *     its min-doc_id representative, the rest are dups with reason
  *     'batch' (what a production ingest does: batch-local dedup
  *     before touching the shared index);
  *  2. representatives probe the persisted index
  *     (Dedup.nearDupIndexProbe — batch side is the only thing
  *     scanned); any hit is a dup with reason 'corpus';
  *  3. survivors' band rows + feature sets append to the index
  *     (probe BEFORE append, so a doc never matches itself), and the
  *     per-doc verdicts land under `path/verdicts/ingest_id=<batch>`.
  *
  * Idempotence: two independent guards. (a) Every write the step
  * makes is scoped to THIS batch's `ingest_id=<id>` partition and
  * uses overwrite — bands, features and verdicts alike — so an
  * at-least-once foreachBatch replay that crashed mid-step REPLACES
  * its own partial output instead of appending next to it; nothing
  * can double up no matter where the crash landed. (b) A
  * `_ingested_<id>` marker written LAST short-circuits the replay of
  * a COMPLETED batch entirely (the VdmsSink batch-id discipline).
  * Marker and existence checks go through the Hadoop FileSystem API
  * resolved from the index path, so the same code is cluster-true on
  * HDFS/S3, not just the local FS.
  *
  * Note on the mega-bucket cap: the build-time cap is a
  * corpus-population property; appends are uncapped (a batch can't
  * see the population). [[compact]] is the periodic re-build (the
  * s21 analog) that re-applies it over everything ingested and
  * swaps the rebuilt index in atomically, marker-guarded.
  *
  * 100 TB shape: each micro-batch costs (batch-sized LSH + CC over
  * batch-local pairs) + two keyed joins against the band/feature
  * tables pruned to the batch's band hashes — the standing corpus is
  * only ever touched through the posting-list join, never rescanned.
  */
object IndexedDedup {

  /** One ingest step (exposed for the parity spec and for batch
    * backfills): probe-then-append `batch` against the index at
    * `path`, writing verdicts (doc_id, is_dup, reason) under
    * `path/verdicts`. */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double, batchId: Long): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(path, s"_ingested_$batchId")
    val fs = marker.getFileSystem(hconf)
    if (fs.exists(marker)) return
    val docs = batch.select(col("doc_id"), col("text"))
      .localCheckpoint(true) // a streaming micro-batch frame is
                             // re-evaluated per action; pin it once
    // 1. within-batch transitive collapse to min-id representatives
    val pairs = Dedup.nearDupPairs(docs, threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val batchDups = Components.connectedComponents(pairs)
      .filter(col("cluster") =!= col("node"))
      .select(col("node").as("doc_id"))
    val reps = docs.join(batchDups, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // 2. representatives probe the standing index
    val corpusHits =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands")))
        Dedup.nearDupIndexProbe(spark, path, reps, threshold)
          .select(col("doc_batch").as("doc_id")).distinct()
      else docs.filter(lit(false)).select(col("doc_id"))
    val verdicts = docs.select(col("doc_id"))
      .join(batchDups.withColumn("batch_dup", lit(true)),
        Seq("doc_id"), "left")
      .join(corpusHits.withColumn("corpus_dup", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("batch_dup"), lit(false)) ||
          coalesce(col("corpus_dup"), lit(false))).as("is_dup"),
        when(col("batch_dup"), "batch")
          .when(col("corpus_dup"), "corpus").as("reason"))
      .localCheckpoint(true)
    // 3. append survivors to the index, then verdicts, then marker.
    // Every write lands under THIS batch's ingest_id partition with
    // overwrite semantics — a replay of a half-finished batch
    // replaces its own partial output (see the idempotence note).
    val survivors = reps.join(
      verdicts.filter(col("is_dup")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    // pin the feature frame once (two sinks read it), then land all
    // three ingest_id-scoped sinks as CONCURRENT jobs (different
    // directories; the x40/x41/IndexedLex awaitAll shape). The
    // marker still writes strictly last.
    val features = Dedup.shingleFeatures(survivors).localCheckpoint(true)
    graft.queries.RetrievalQueries.awaitAll(
      () => graft.sources.Writers.writePartitioned(
        Dedup.bandRowsOf(features), s"$path/bands/ingest_id=$batchId",
        Seq("band"), mode = "overwrite"),
      () => features.select(col("doc_id"), col("hashes"))
        .write.mode("overwrite")
        .parquet(s"$path/features/ingest_id=$batchId"),
      () => verdicts.write.mode("overwrite")
        .parquet(s"$path/verdicts/ingest_id=$batchId"))
    fs.create(marker, true).close()
  }

  /** COMPACTION — the periodic re-build the mega-bucket note above
    * documents (the s21 analog for the near-dup index): appends are
    * uncapped because a single batch cannot see the corpus
    * population, so over many ingests a hot band hash can grow an
    * unbounded posting bucket that metastasizes every future probe
    * join. Compacting re-reads ALL ingested band rows, re-applies
    * the build-time cap (keep rows only in buckets whose population
    * ≤ `maxBucket` — byte-identical semantics to
    * Dedup.bandRowsOf's window filter), collapses the per-ingest
    * small files into one write, and SWAPS the result in place:
    * the rebuild stages under `_compact_stage` and only after a
    * `_stage_complete` marker lands do the live directories move
    * aside and the staged ones rename in. A crash before the marker
    * leaves the live index untouched; a crash mid-swap is repaired
    * by the recovery pass the next compact() runs first (the staged
    * output is complete by marker, so finishing the renames is
    * idempotent). The ingest_id partition layer is preserved, so
    * probes and future ingests see the exact same layout.
    *
    * 100 TB shape: one keyed count over the band table + one
    * population-filter join + two partitioned writes — no feature
    * re-hash, no corpus rescan; the swap is O(1) metadata renames
    * through the Hadoop FileSystem API (cluster-true on HDFS).
    *
    * CONCURRENCY CONTRACT: compact() must not run while an ingest
    * batch is IN FLIGHT against the same index (the swap would
    * rename the live tables out from under the batch's writers);
    * schedule it on the ingest thread — foreachBatch serializes
    * micro-batches, so between-batch compaction needs no lock. A
    * CRASHED batch is safe without external help: its markerless
    * `ingest_id` partitions are excluded from the rebuild, dropped
    * by the swap, and rewritten whole by the at-least-once replay
    * (see CompactSwap.uncertifiedIds). */
  def compact(spark: SparkSession, path: String,
      maxBucket: Int = 64): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    finishSwap(fs, path) // repair a crashed previous compaction
    val bandsP = new org.apache.hadoop.fs.Path(s"$path/bands")
    val featsP = new org.apache.hadoop.fs.Path(s"$path/features")
    require(fs.exists(bandsP) && fs.exists(featsP),
      s"no index to compact at $path")
    val stage = new org.apache.hadoop.fs.Path(s"$path/_compact_stage")
    fs.delete(stage, true)
    val uncert = CompactSwap.uncertifiedIds(fs, path,
      Seq("bands", "features"))
    def withIngestId(df: DataFrame): DataFrame = {
      // a non-partitioned legacy table is certified by construction —
      // stamp it with the RESERVED base id, never a batch id (a
      // later batch 0 would otherwise overwrite it)
      val withId = if (df.columns.contains("ingest_id")) df
        else df.withColumn("ingest_id", lit(CompactSwap.CompactedBaseId))
      if (uncert.isEmpty) withId
      else withId.filter(!col("ingest_id").isin(uncert: _*))
    }
    val bands = withIngestId(spark.read.parquet(s"$path/bands"))
      .select(col("doc_id"), col("ingest_id"),
        col("band").cast("int").as("band"), col("band_hash"))
    val keep = bands.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_hash"))
    val capped = bands.join(keep, Seq("band", "band_hash"))
      .select(col("doc_id"), col("ingest_id"), col("band"),
        col("band_hash"))
    val feats = withIngestId(spark.read.parquet(s"$path/features"))
      .select(col("doc_id"), col("hashes"), col("ingest_id"))
    // stage both rebuilt tables, then certify the stage — the two
    // writes are independent directories → concurrent jobs
    graft.queries.RetrievalQueries.awaitAll(
      () => graft.sources.Writers.writePartitioned(capped,
        s"$path/_compact_stage/bands", Seq("ingest_id", "band")),
      () => graft.sources.Writers.writePartitioned(feats,
        s"$path/_compact_stage/features", Seq("ingest_id")))
    fs.create(new org.apache.hadoop.fs.Path(stage, "_stage_complete"),
      true).close()
    finishSwap(fs, path)
  }

  /** Apply (or re-apply after a crash) a certified staged
    * compaction: move the live directories aside, rename the staged
    * ones in, clear stage + trash — with every rename's boolean
    * checked and destructive cleanup gated on the live tables
    * existing (see [[CompactSwap]]). No-op without the stage
    * marker. */
  private def finishSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    CompactSwap.finishSwap(fs, path, Seq("bands", "features"))

  /** The streaming wrapper: every micro-batch runs `ingestBatch`
    * with its batch id (foreachBatch — the index is a cross-batch
    * external store, exactly the VdmsSink sink shape). AvailableNow
    * drains the source and stops, the batch-friendly trigger the
    * parity spec relies on. */
  def start(docs: DataFrame, path: String, threshold: Double,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch.sparkSession, path, batch, threshold, id)
      }
      .start()
}
