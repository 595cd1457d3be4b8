package graft.operators

import org.apache.spark.sql.functions._
import graft.sources.{FsUtil, ParquetDataset, Swap, WriteConfig, WritePipeline}

/** Result of a row-level delete — mirrors MergeResult's file
  * accounting.
  */
final case class DeleteResult(
    deleted: Long,
    rewrittenFiles: Seq[String],
    preservedFiles: Seq[String])

/** Result of a retention (TTL) delete: whole-file drops are separated
  * from row-level rewrites because they cost only metadata I/O.
  */
final case class RetentionResult(
    deleted: Long,
    droppedFiles: Seq[String],
    rewrittenFiles: Seq[String],
    preservedFiles: Seq[String])

/** Row-level DELETE WHERE with copy-on-write file rewrites — the
  * mutation the reference reaches via filter-scan + overwrite
  * (pydala/dataset.py delete_files is file-granular only); here rows
  * matching the predicate are removed and ONLY the files containing
  * them are rewritten, the merge machinery's discovery pattern.
  *
  * Null semantics are SQL DELETE's: a row is deleted when the
  * predicate is TRUE; FALSE and NULL rows survive.
  *
  * Failure contract: the journaled swap of [[graft.sources.Swap]]
  * (`_tmp_delete`, `_graft_delete_journal`) —
  *  - a failure before the swap (discovery or the staged write) leaves
  *    the dataset unchanged; a staged-write failure raises
  *    [[StagedRewriteException]];
  *  - a failed promote raises `FsUtil.PromoteFailedException` and a
  *    failed original-delete [[MaintenanceCleanupError]]: kept rows may
  *    show twice, never vanish, and the NEXT `Delete.where` (or any
  *    swapping operator, or an explicit [[Delete.recover]]) completes
  *    the swap from the journal.
  *
  * Scale notes: the discovery pass reads only the files the sidecar
  * cannot rule out (`ds.pruneFiles`) and filters on the predicate,
  * which pushes down to parquet — files whose row-group stats exclude
  * the predicate are never decoded, so deleting a key range from a
  * key-sorted 100 TB dataset reads only the matching slab. The
  * rewrite reads exactly the affected files. No shuffle anywhere —
  * both passes are narrow scans.
  */
object Delete {

  /** Complete a swap interrupted mid-flight, if a journal exists.
    * Safe to call any time; no-op without a journal. Returns true if
    * a pending swap was completed.
    */
  def recover(ds: ParquetDataset): Boolean = Swap.recover(ds)

  def where(ds: ParquetDataset, predicate: String): DeleteResult = {
    Swap.recover(ds) // complete any interrupted prior swap FIRST
    if (ds.isEmpty) return DeleteResult(0, Nil, Nil)

    val pred = expr(graft.sources.Sanitize(predicate))
    // only files the sidecar cannot rule out can hold a pred-TRUE row
    val all = ds.relFiles
    val candidates = ds.pruneFiles(predicate)
    if (candidates.isEmpty) return DeleteResult(0, Nil, all)
    // the discovery pass traverses exactly the pred-TRUE rows, which
    // ARE the deleted rows: per-file counts give both the affected
    // files and the deleted total
    val perFile = ds.read(candidates).withColumn("__file", input_file_name())
      .filter(pred).groupBy("__file").count().collect()
    val deleted = perFile.map(_.getLong(1)).sum
    val affectedRel = perFile
      .map(r => FsUtil.relativize(ds.path, r.getString(0))).sorted.toSeq
    val preserved = all.filterNot(affectedRel.contains)
    if (affectedRel.isEmpty) return DeleteResult(0, Nil, preserved)

    Swap(ds, "delete", affectedRel) { tmp =>
      // TRUE deletes; FALSE and NULL survive
      WritePipeline.write(ds.read(affectedRel).filter(!coalesce(pred, lit(false))), tmp,
        WriteConfig(partitionBy = ds.partitionColumns))
    }
    if (ds.hasStats) ds.updateStats()
    DeleteResult(deleted, affectedRel, preserved)
  }

  /** Retention (TTL) delete: remove every row whose `tsCol` is
    * strictly below `cutoffMicros`, deciding per FILE from the stats
    * sidecar's exact integer bounds:
    *
    *  - `max < cutoff` → the file is expired whole and dropped with a
    *    metadata-only delete — never decoded, never rewritten;
    *  - `min ≥ cutoff` → untouched (and the row-level pass's pushdown
    *    never decodes it either);
    *  - straddling (or bounds missing — conservative) → the journaled
    *    row-level [[where]] rewrites just those files.
    *
    * On a ts-sorted or date-partitioned 100 TB dataset almost every
    * expired byte leaves via the metadata-only lane: the daily
    * retention job costs one sidecar scan plus at most one straddling
    * file rewrite per partition — this is why retention is not just
    * `DELETE WHERE ts < cutoff`.
    */
  def retention(ds: ParquetDataset, tsCol: String,
                cutoffMicros: Long): RetentionResult = {
    // a prior interrupted swap leaves the sidecar stale — complete it
    // (recovery refreshes the sidecar) BEFORE classifying from those
    // stats, or the metadata lane would drop files whose kept rows were
    // already promoted and double-count
    Swap.recover(ds)
    val s = ds.stats.getOrElse(throw new IllegalStateException(
      "retention needs the stats sidecar — call updateStats() first"))
    // one row per (file, row_group) after the column filter, so the
    // sums are file totals and min/max the file's exact bounds
    val perFile = s
      .filter(col("column") === tsCol && col("typ") === "timestamp")
      .groupBy("file_path")
      .agg(min("min_int").as("lo"), max("max_int").as("hi"),
        sum("rg_num_rows").as("rows"), sum("null_count").as("nulls"),
        count(lit(1)).as("groups"), count("max_int").as("bounded"))
      .collect()
    // metadata lane only when the stats PROVE every row is expired:
    // all row groups carry bounds, max < cutoff, and zero nulls (a
    // NULL ts never matches the predicate, so NULL rows must survive
    // exactly as they do in the row-level lane)
    val dead = perFile.filter { r => // file_path, lo, hi, rows, nulls, groups, bounded
      !r.isNullAt(2) && r.getLong(2) < cutoffMicros &&
        r.getLong(4) == 0L && r.getLong(6) == r.getLong(5)
    }
    val deadSet = dead.map(_.getString(0)).toSet
    val deadFiles = deadSet.toSeq.sorted
    val deadRows = dead.map(_.getLong(3)).sum
    if (deadFiles.nonEmpty) ds.deleteFiles(deadFiles)
    // the row-level lane runs only if some surviving file CAN hold an
    // expired row (lo < cutoff, or bounds unknown — conservative);
    // otherwise the daily retention job is the sidecar scan alone.
    // Coverage guard: a live file with NO sidecar row for (tsCol,
    // timestamp) — schema-evolved file missing the column, or the
    // column stored under another typ — is invisible to perFile, so
    // it must be routed through the row-level lane rather than
    // silently kept with its expired rows intact.
    val covered = perFile.map(_.getString(0)).toSet
    val uncovered = ds.relFiles.exists(f => !covered.contains(f))
    val straddler = uncovered ||
      perFile.exists(r => !deadSet.contains(r.getString(0)) &&
        (r.isNullAt(1) || r.getLong(1) < cutoffMicros ||
          r.getLong(6) != r.getLong(5)))
    val res =
      if (straddler) where(ds, s"$tsCol < timestamp_micros(${cutoffMicros}L)")
      else DeleteResult(0, Nil, ds.relFiles)
    RetentionResult(deadRows + res.deleted, deadFiles,
      res.rewrittenFiles, res.preservedFiles)
  }
}
