package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path

import graft.operators.{MaintenanceCleanupError, StagedRewriteException}

/** The journaled copy-on-write swap behind every rewriting operator
  * (Merge, Delete, Maintenance) — the reference's PartialWriteError
  * recovery contract (pydala/io.py:41-64, pydala/dataset.py:172-203)
  * in one place. No filesystem has a multi-file atomic rename, so one
  * swap runs, every step on the dataset's Hadoop `FileSystem` through
  * [[FsUtil]] (a `false` from rename or delete throws):
  *
  *  1. clear the staging dir `_tmp_<op>`;
  *  2. stage: the caller writes the replacement files under it, laid
  *     out like the dataset (partition dirs included); zero-row files
  *     are dropped, so an empty rewrite promotes nothing;
  *  3. journal `_graft_<op>_journal`, listing the dataset-relative
  *     originals to retire;
  *  4. promote the staged files into the dataset root;
  *  5. delete the originals;
  *  6. drop the journal;
  *  7. `refreshByPath` and `refreshSchema` with the staged footers. The
  *     stats sidecar is the caller's to refresh, once per operation.
  *
  * Failure contract:
  *  - in step 2: the staging dir is removed and
  *    [[graft.operators.StagedRewriteException]] is raised — the
  *    dataset is unchanged;
  *  - in step 4: [[FsUtil.PromoteFailedException]] (landed and still
  *    staged files); originals untouched, so rows may show twice but
  *    are never lost;
  *  - in step 5: [[graft.operators.MaintenanceCleanupError]] with the
  *    originals that still exist — the rewrite is complete, their rows
  *    show twice.
  *
  * After a failure in step 4 or 5 (or a crash anywhere from step 3 on)
  * the journal stays, and [[recover]] — which every swapping operator
  * calls first — completes the swap: promote what is still staged,
  * delete the journaled originals, drop the journal. Replay is
  * idempotent because the journal is only written once the staged
  * files are complete, and recovery never re-derives anything from the
  * (possibly half-swapped) data files. The filesystem needs only that
  * one renamed file lands whole: atomic rename on `file:`/hdfs and an
  * object store's copy+delete both do, and a listing may see a promote
  * half done, which the contract above already allows.
  */
object Swap {

  /** Dataset-relative files the swap promoted, and their rows (from
    * the staged footers).
    */
  final case class Result(files: Seq[String], rows: Long)

  private val Journal = "_graft_(\\w+)_journal".r
  private val Staging = "_tmp_(\\w+)".r

  private def stagingPath(root: String, op: String) = s"$root/_tmp_$op"
  private def journalPath(root: String, op: String) = s"$root/_graft_${op}_journal"

  def apply(ds: ParquetDataset, op: String, originals: Seq[String])(
      stage: String => Unit): Result = {
    val root = ds.path
    val tmp = stagingPath(root, op)
    FsUtil.deleteRecursively(tmp)
    val staged =
      try { stage(tmp); dropEmpty(ds, tmp) }
      catch { case e: Exception =>
        FsUtil.deleteRecursively(tmp)
        throw new StagedRewriteException(originals,
          s"staged $op rewrite failed before swap; dataset unchanged: ${e.getMessage}", e)
      }
    // written beside the staged files, then renamed into place: a torn
    // journal would retire only some originals on replay
    val jp = journalPath(root, op)
    val draft = s"$tmp/_journal"
    val out = FsUtil.fs(draft).create(new Path(draft), true)
    try out.write(originals.map(_ + "\n").mkString.getBytes(UTF_8)) finally out.close()
    FsUtil.rename(draft, jp)
    val landed = FsUtil.promote(tmp, root)
    retire(root, originals)
    FsUtil.delete(root, Seq(jp))
    ds.spark.catalog.refreshByPath(root)
    ds.refreshSchema(staged)
    Result(landed.map(FsUtil.relativize(root, _)), staged.values.map(_.rows).sum)
  }

  /** Complete every swap a journal records as pending, discard staging
    * dirs no journal covers (a swap that failed or crashed before its
    * journal: nothing was promoted), and finish a sidecar swap a crash
    * cut short (`StatsSidecar.restore`). Refreshes the sidecar,
    * if there is one, after completing a swap. Safe to call any time;
    * returns true if a pending swap was completed.
    */
  def recover(ds: ParquetDataset): Boolean = {
    val root = ds.path
    val names = FsUtil.children(root)
    StatsSidecar.restore(root)
    val pending = names.collect { case Journal(op) => op }
    names.foreach {
      case n @ Staging(op) if !pending.contains(op) => FsUtil.deleteRecursively(s"$root/$n")
      case _ =>
    }
    pending.foreach { op =>
      val jp = journalPath(root, op)
      val in = FsUtil.fs(jp).open(new Path(jp))
      val originals =
        try new String(in.readAllBytes(), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
        finally in.close()
      if (FsUtil.exists(stagingPath(root, op))) FsUtil.promote(stagingPath(root, op), root)
      FsUtil.delete(root, originals.map(r => s"$root/$r"))
      FsUtil.delete(root, Seq(jp))
    }
    if (pending.isEmpty) return false
    ds.spark.catalog.refreshByPath(root)
    ds.refreshSchema()
    if (ds.hasStats) ds.updateStats()
    true
  }

  /** The staged files' footers by (dataset-relative name, length), the
    * one read of them; zero-row files are deleted (a non-partitioned
    * Spark write leaves one even when it has no rows).
    */
  private def dropEmpty(ds: ParquetDataset, tmp: String): Map[(String, Long), ParquetDataset.FileFooter] = {
    val files = FsUtil.dataFiles(tmp)
    val staged = files.zip(ParquetDataset.footers(ds.spark, tmp, files.map(_._1), StatsSidecar.HeldStatRows))
    FsUtil.delete(tmp, staged.collect { case ((f, _, _), m) if m.rows == 0 => f })
    staged.collect { case ((_, len, _), m) if m.rows > 0 => (m.rel, len) -> m }.toMap
  }

  /** Step 5; a failure reports the originals that still exist (all of
    * them if the filesystem cannot even answer that — over-reporting
    * is safe, the cleanup delete is idempotent).
    */
  private def retire(root: String, originals: Seq[String]): Unit =
    try FsUtil.delete(root, originals.map(r => s"$root/$r"))
    catch { case e: Throwable =>
      val remaining =
        try originals.filter(r => FsUtil.exists(s"$root/$r"))
        catch { case _: Throwable => originals }
      throw new MaintenanceCleanupError(remaining.sorted, e)
    }
}
