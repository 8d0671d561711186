package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** The staged-compaction swap of the persisted lexical index
  * (IndexedLex postings/doclen/stats): apply — or re-apply after a
  * crash — a CERTIFIED staged rebuild by moving each live table
  * aside to `_compact_trash` and renaming the staged one in. No-op
  * (stage cleared) when the `_stage_complete` marker is absent.
  *
  * Failure discipline: Hadoop's FileSystem.rename signals failure by
  * RETURNING FALSE, not throwing — so every rename's boolean is
  * checked and a false THROWS with stage and trash left in place
  * (the staged output is complete by marker and the live bytes are
  * still in trash, so the next compact()'s repair pass finishes the
  * swap idempotently; nothing is ever deleted until every table is
  * verified live). The old code ignored the booleans, so a failed
  * staged→live rename followed by the trash delete could destroy
  * both remaining copies of a table — silent total index loss.
  */
private[streaming] object CompactSwap {

  /** The reserved ingest id the compacted BASE is written under.
    * Never a legitimate micro-batch id (foreachBatch ids start at
    * 0), so a replayed or fresh batch 0 can't overwrite the merged
    * base with its partial, and [[uncertifiedIds]] never classifies
    * the base as a crashed batch for lack of an `_ingested_0`
    * marker (ADVICE r13: the old base id 0 collided with batch 0 —
    * crash → compact → replay broke exactly there). */
  val CompactedBaseId: Long = -1L

  /** Swap the staged tables named `names` in at `path`. Destructive
    * cleanup (delete stage + trash) happens ONLY after verifying
    * every table exists at its live location. */
  def finishSwap(fs: FileSystem, path: String, names: Seq[String]): Unit = {
    val stage = new Path(s"$path/_compact_stage")
    val done = new Path(stage, "_stage_complete")
    if (!fs.exists(done)) { fs.delete(stage, true); return }
    val trash = new Path(s"$path/_compact_trash")
    fs.mkdirs(trash)
    names.foreach { name =>
      val staged = new Path(stage, name)
      val live = new Path(s"$path/$name")
      if (fs.exists(staged)) { // not yet swapped in
        if (fs.exists(live)) {
          val aside = new Path(trash, name)
          fs.delete(aside, true)
          require(fs.rename(live, aside),
            s"compaction swap: rename $live -> $aside returned false; " +
              "stage and trash left in place for repair")
        }
        require(fs.rename(staged, live),
          s"compaction swap: rename $staged -> $live returned false; " +
            "stage and trash left in place for repair")
      }
    }
    // every table must be live before destroying the only other copies
    names.foreach { name =>
      require(fs.exists(new Path(s"$path/$name")),
        s"compaction swap: $name missing at $path after swap; " +
          "stage and trash left in place for repair")
    }
    fs.delete(stage, true)
    fs.delete(trash, true)
    ()
  }

  /** Ingest ids that have an `ingest_id=<id>` partition under any of
    * `tables` but no `_ingested_<id>` marker at the index root — a
    * CRASHED batch's partial output. Compaction excludes these rows
    * and the swap drops their partitions: the marker is written
    * strictly last, so its absence means the at-least-once source
    * WILL replay the batch, and the replay rewrites every one of its
    * partitions from scratch (folding an uncertified partial into
    * the rebuild instead would double-count it against the replay —
    * e.g. a merged stats row plus the replayed per-batch partial).
    * Rows with no partition directory (a synchronous batch build
    * that predates per-ingest partitioning) are certified by
    * construction and never excluded — as is the reserved
    * [[CompactedBaseId]] partition, which is certified by the
    * `_stage_complete`-gated swap that created it, not by a batch
    * marker. */
  def uncertifiedIds(fs: FileSystem, path: String,
      tables: Seq[String]): Seq[Long] = {
    val ids = tables.flatMap { t =>
      val d = new Path(s"$path/$t")
      if (!fs.exists(d)) Seq.empty[Long]
      else fs.listStatus(d).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("ingest_id="))
        .map(_.stripPrefix("ingest_id=").toLong)
    }.distinct
    ids.filter(_ != CompactedBaseId)
      .filterNot(id => fs.exists(new Path(path, s"_ingested_$id")))
  }
}
