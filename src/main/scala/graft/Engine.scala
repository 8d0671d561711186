package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * Local-mode knobs mirror the reference's physical-exec config
  * (`/root/reference/config/settings.yaml:10-11`,
  * `/root/reference/run.sh:43-55`: N pipelines x 4 cores, compact
  * affinity): here parallelism = `local[N]` task slots and
  * `spark.sql.shuffle.partitions`, sized to the machine rather than
  * Spark's default 200. On a real cluster these come from
  * spark-submit; everything else (AQE, broadcast threshold) is
  * scale-oriented and carries over unchanged.
  */
object Engine {
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(appName: String = "graft", master: String = ""): SparkSession = {
    val m = if (master.nonEmpty) master else s"local[$cpus]"
    SparkSession.builder()
      .master(m)
      .appName(appName)
      // custom codegen'd expressions (poly_hash, cosine_sim)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // spill-aware sizing: scan splits capped so a task's working
      // set (columns read × rows per split) stays well inside
      // executor memory at any SF; shuffle partition count above is
      // the cluster-side knob (cores here, data/200MB-ish on a real
      // cluster), with AQE coalescing the small ones
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // janino's class cache (static, JVM-wide): d16, d18 and v13
      // compile ~160 generated classes at sf0.01 (d18 alone 45), so
      // at Spark's 100 d18 recompiled ~120 on every execution.
      // Without the codegen stage id in the class name, one plan
      // shape hits the cache under whatever id AQE gave it this time.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // streaming checkpoint logs on local paths without Hadoop's
      // per-file readlink/chmod forks; other schemes keep Spark's manager
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.ForkFreeCheckpointFileManager].getName)
      // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
      // default; read as long and convert at the loader (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Emit micros (not INT96/nanos) so dumped timestamps carry the
      // same physical type as the DuckDB oracle's TIMESTAMP
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The one lineage-truncating materialization point: every pin in
    * iterative operators (connected components, k-core/k-truss
    * peels, label propagation, LSH index builds) and in queries that
    * share a relation between consumers goes through here. By default
    * `localCheckpoint` (executor-local shuffle files — the fast, right
    * choice in local mode and on a stable cluster), or, when
    * `spark.graft.reliableSnapshots=true`, a RELIABLE snapshot:
    * the frame is persisted as parquet under
    * `spark.graft.snapshotDir` (default: a per-application temp dir)
    * and read back, so a 30-round iterative job survives executor
    * loss — localCheckpoint'ed blocks die with their executor and
    * kill the lineage-truncated job with them. Cluster-mode
    * recommendation: set reliableSnapshots=true and point
    * snapshotDir at the job's scratch space on the shared FS
    * (cleaned by the job's temp-dir lifecycle). The read passes the
    * writer's schema explicitly so empty frames (round-0
    * accumulators, converged frontiers) round-trip instead of
    * failing schema inference.
    *
    * Lifecycle: the base dir (per-application by default) registers
    * for recursive deletion when the application ends — once per
    * base, through the Hadoop FileSystem API so the cleanup is
    * cluster-true on HDFS/S3 scratch space too. [[release]] frees a
    * local-mode snapshot's blocks at once; a reliable snapshot's
    * files stay until the end-of-app hook, so within a run their
    * volume is bounded by rounds × frame size. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def snapshot(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get("spark.graft.reliableSnapshots", "false").toBoolean) {
      val base = spark.conf.get("spark.graft.snapshotDir",
        sys.props("java.io.tmpdir") + "/graft-snapshots/" +
          spark.sparkContext.applicationId)
      if (cleanupRegistered.add(base)) {
        val hconf = spark.sparkContext.hadoopConfiguration
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit = {
              val p = new org.apache.hadoop.fs.Path(base)
              val fs = p.getFileSystem(hconf)
              if (fs.exists(p)) { fs.delete(p, true); () }
            }
          })
      }
      val path = base + "/" + java.util.UUID.randomUUID().toString
      df.write.parquet(path)
      spark.read.schema(df.schema).parquet(path)
    } else df.localCheckpoint(true)
  }

  /** Frees a superseded [[snapshot]] now; the frame must not be read
    * again. `Dataset.unpersist()` cannot: a local checkpoint is not in
    * the CacheManager, so its blocks stay until the driver's
    * ContextCleaner happens to GC the RDD. This unpersists the RDD
    * behind a local-mode snapshot. It is a no-op on a lazy frame, and
    * in reliable mode, whose files go at application end. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** The one round loop over [[snapshot]]s. Round `i` (1-based, at
    * most `maxRounds`) pins `step(prev, i)` as `next`, then asks
    * `done(prev, next)` while `prev` is still readable, then frees
    * `prev` with [[release]]. It stops after the first round `done`
    * accepts and returns the last frame with whether `done` accepted
    * it; zero rounds return `init` itself, unconverged.
    *
    * Contract: the loop pins one frame per round and frees the one it
    * replaces, so of its pins only the returned frame survives. It
    * never frees `init` (often a lazy view over the caller's own
    * pins) nor the frame it returns: the caller frees what it pinned
    * once nothing it returns reads it.
    *
    * Signal contract: a step that needs a convergence signal attaches
    * a fresh `Observation` to the frame it returns
    * (`Dataset.observe`), and `done` reads it with `get`. The metric
    * rides the pin's result stage, so it costs no job of its own, and
    * Spark applies a result task's metric once however often the task
    * is retried. It is read once the eager pin has returned, so it is
    * final. The hand-rolled peel loops (`Graph.kCorePeel`,
    * `Graph.kTruss`) observe their pins the same way. */
  def iterate(init: DataFrame, maxRounds: Int,
      done: (DataFrame, DataFrame) => Boolean = (_, _) => false)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    var cur = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val next = snapshot(step(cur, round))
      converged = done(cur, next)
      if (cur ne init) release(cur)
      cur = next
    }
    (cur, converged)
  }

  /** Restore task fan-out after a lineage-truncating snapshot.
    * AQE legitimately coalesces a small shuffle to few partitions,
    * but a checkpoint FREEZES that layout: heavy narrow work
    * downstream (a prefix explode + self-join probe side, say) then
    * runs as one task while the other cores idle — measured on d19
    * at sf0.1 as a single 21 CPU-second task. Round-robin
    * repartition to the default parallelism when the snapshot
    * landed below it; a no-op at scale, where any data-sized
    * snapshot already carries >= cores partitions (AQE never
    * re-splits an explicit repartition count). `df` must be a snapshot
    * the caller does not keep: a replaced one is released. */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) {
      // re-snapshot so multi-consumer plans read the fanned-out
      // layout directly instead of re-planning the repartition
      // exchange once per consumer
      val fanned = snapshot(df.repartition(target))
      release(df)
      fanned
    } else df
  }

  /** postfix sugar: `frame.snapshot()` pins a frame where it is
    * built. */
  implicit class SnapshotOps(private val df: DataFrame)
      extends AnyVal {
    def snapshot(): DataFrame = Engine.snapshot(df)
    def ensureParallelism(): DataFrame = Engine.ensureParallelism(df)
  }

  /** S9: the debug-graph-dump sink analog
    * (`/root/reference/run.sh:26-28`, `gst_graph=1` → .dot file):
    * writes the formatted physical plan — Exchange/Sort/codegen
    * boundaries visible — to a file for plan audits. */
  def dumpPlan(df: DataFrame, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
}
