package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SchemaOps
import graft.sources.{FsUtil, ParquetDataset, Swap, WriteConfig, WritePipeline}

/** Result of a keyed merge — same fields as the reference's
  * MergeResult (pydala/dataset.py:1671-1684).
  */
final case class MergeResult(
    sourceCount: Long,
    inserted: Long,
    updated: Long,
    rewrittenFiles: Seq[String],
    insertedFiles: Seq[String],
    preservedFiles: Seq[String])

/** Mid-swap merge failure. DIVERGES from the reference error it is
  * named after, deliberately: the reference's PartialMergeError
  * (pydala/io.py:41-64, tests/test_dataset_merge.py:705-757) fires
  * AFTER the merge physically succeeded, when only the metadata
  * refresh fails, and carries the successful MergeResult. This engine
  * has no post-merge refresh step that can fail independently (the
  * sidecar update is part of the same call), so the error instead
  * covers the failure mode this engine DOES have — a mid-PROMOTE
  * physical failure — and carries file-level recovery payload:
  * partial results are preserved on disk, managed metadata is NOT
  * refreshed, originals are untouched (the swap promotes strictly
  * before deleting), `promoted` lists rewrite files that landed in
  * the dataset and `remaining` those still staged under `_tmp_merge`.
  * The swap's journal stays, so the next merge, delete or maintenance
  * call on the dataset completes the swap. The post-promote cleanup
  * half of the swap has its own sibling contract, [[MergeCleanupError]].
  */
final class PartialMergeError(
    val affectedFiles: Seq[String],
    val promoted: Seq[String],
    val remaining: Seq[String],
    cause: Throwable)
  extends RuntimeException(
    s"merge swap failed after ${promoted.size} rewrite file(s) landed; " +
      s"${remaining.size} still staged; originals untouched", cause)

/** Post-promote cleanup failure — the other half of the swap
  * (round-10, advisor finding): every staged file landed, so the
  * merge's DATA is durable and complete, but deleting the superseded
  * originals failed partway. Until `remainingOriginals` are removed,
  * their rows are visible TWICE (original + rewrite) — never lost or
  * torn. `result` is the completed merge's result (mirroring the
  * reference's succeeded-but-unclean payload shape). The swap's
  * journal stays, so the next merge, delete or maintenance call on the
  * dataset (or `Delete.recover`) finishes the cleanup and refreshes
  * the stats; operators can also delete `remainingOriginals` by hand.
  */
final class MergeCleanupError(
    val result: MergeResult,
    val remainingOriginals: Seq[String],
    cause: Throwable)
  extends RuntimeException(
    s"merge promote succeeded but ${remainingOriginals.size} superseded " +
      s"original file(s) could not be deleted; their rows are duplicated " +
      s"until cleanup", cause)

/** Keyed merge (insert / update / upsert) with copy-on-write file
  * rewrites — reference pydala/dataset.py:1549-1777 and the contract
  * pinned by tests/test_dataset_merge.py:
  *
  *  - null-safe key equality (`<=>`);
  *  - duplicate source keys → last row wins;
  *  - omitted keys → every column common to source and target
  *    (whole-row identity);
  *  - update rewrites ONLY the files containing matched rows;
  *  - an update that would change a partition value is rejected.
  *
  * Every strategy is ONE journaled swap ([[graft.sources.Swap]],
  * `_tmp_merge`): update stages `keep ∪ matched source`, upsert
  * `keep ∪ source` — every target row whose key the source carries
  * lies in an affected file, so the unmatched source rows are exactly
  * the inserts — and insert stages the anti-join and retires nothing.
  * Counts come from passes the merge runs anyway: `updated` is the
  * discovery pass's distinct matched source keys, `inserted` is
  * `sourceCount − updated` for upsert and the staged files' footer row
  * counts for insert.
  *
  * Scale notes: the only shuffles are the key joins; matched-file
  * discovery rides on `input_file_name()` so no extra pass over the
  * target is needed; unmatched files are never read past their footer
  * (semi-join probes push the key filter down).
  *
  * Source-reads-target rule: a `source` may read this same dataset
  * (incremental index maintenance — new values computed from current
  * values). Every read of the source, and of the target, finishes in
  * the staged write, before anything is promoted. Once the swap
  * promotes, `refreshByPath` invalidates every cached plan over the
  * target path, so a caller that reuses such a frame after the merge
  * sees the new state, not the one the merge read.
  */
object Merge {

  def apply(ds: ParquetDataset, source: DataFrame, keys: Seq[String],
            strategy: String): MergeResult = {
    require(Seq("insert", "update", "upsert").contains(strategy),
      s"unknown merge strategy: $strategy")
    Swap.recover(ds) // complete any interrupted prior swap FIRST
    val partCols = ds.partitionColumns

    // empty target: everything inserts
    if (ds.isEmpty) {
      val src = dedupLastWins(source, effectiveKeys(source.columns.toSeq, source.columns.toSeq, keys))
      if (strategy == "update")
        return MergeResult(src.count(), 0, 0, Nil, Nil, Nil)
      val ins = swap(ds, Nil, src, partCols)
      return MergeResult(ins.rows, ins.rows, 0, Nil, ins.files, Nil)
    }

    val ks = effectiveKeys(source.columns.toSeq, ds.schema.fieldNames.toSeq, keys)
    require(ks.nonEmpty, "no common key columns between source and target")
    val src = dedupLastWins(source, ks).cache()

    try {
      // every target-side scan is range-bounded by the source's key
      // min/max (the reference's delta pre-filter) — the predicates
      // push down to parquet, so target row groups outside the merge's
      // key range are never decoded
      val (bounds, srcCount) = keyBounds(src, ks)
      val tgtB = rangeBound(ds.df, ks, bounds)
      if (strategy == "insert") {
        val before = ds.relFiles
        val newRows = src.join(keysOf(tgtB, ks).distinct(), keyCond(src, ks), "left_anti")
        val ins = swap(ds, Nil, SchemaOps.align(newRows, ds.schema), partCols)
        MergeResult(srcCount, ins.rows, 0, Nil, ins.files, before)
      } else rewrite(ds, src, ks, partCols, strategy == "upsert", tgtB, srcCount)
    } finally {
      // a long-lived session runs many merges — don't let per-merge
      // caches accumulate executor memory
      src.unpersist()
    }
  }

  /** Multi-source form: a list of sources is ONE logical batch
    * (reference pydala/dataset.py:1636-1639) — relaxed union-by-name
    * first, then a single merge, so last-row-wins dedup sees the later
    * list elements as later rows.
    */
  def apply(ds: ParquetDataset, sources: Seq[DataFrame], keys: Seq[String],
            strategy: String): MergeResult = {
    require(sources.nonEmpty, "merge needs at least one source")
    apply(ds, sources.reduce(_.unionByName(_, allowMissingColumns = true)),
      keys, strategy)
  }

  /** Omitted keys ⇒ all columns common to source and target
    * (pydala/dataset.py:1729-1744).
    */
  private def effectiveKeys(srcCols: Seq[String], tgtCols: Seq[String],
                            keys: Seq[String]): Seq[String] =
    if (keys.nonEmpty) keys else srcCols.filter(tgtCols.contains)

  /** Duplicate source keys → last row wins, in source row order
    * (pydala/dataset.py last-row-wins; tests/test_dataset_merge.py:429).
    * The order id is captured before any shuffle.
    */
  private[operators] def dedupLastWins(source: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__ord").desc)
    source.withColumn("__ord", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__ord", "__rn")
  }

  /** The reference's delta pre-filter (_get_delta_other_df,
    * pydala/dataset.py:808-863): bound the target's key read with
    * `key BETWEEN src.min AND src.max OR key IS NULL` range predicates
    * from the source — at scale this prunes target row groups before
    * the anti-join probe even runs (the ranges push down to parquet).
    * The same aggregate pass also carries `count(1)` — the merge needs
    * the post-dedup source count anyway (MergeResult), and folding it
    * here removes a whole extra pass over the source.
    */
  private def keyBounds(src: DataFrame, ks: Seq[String])
      : (org.apache.spark.sql.Row, Long) = {
    val aggs = count(lit(1)).as("__n") +:
      ks.flatMap(k => Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    val row = src.agg(aggs.head, aggs.tail: _*).collect()(0)
    (row, row.getLong(0))
  }

  /** Bound a target read by the source's key min/max — rows outside
    * the range can never match a source key (null keys keep the
    * isNull arm for `<=>` matches), so every merge-side target scan
    * is safe to range-restrict and the predicates push down to
    * parquet row groups. `row` is the [[keyBounds]] row (count first,
    * then min/max pairs).
    */
  private def rangeBound(tgt: DataFrame, ks: Seq[String],
                         row: org.apache.spark.sql.Row): DataFrame =
    ks.zipWithIndex.foldLeft(tgt) { case (t, (k, i)) =>
      val (mn, mx) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      if (mn == null || mx == null) t
      else t.filter(col(k).isNull || col(k).between(lit(mn), lit(mx)))
    }

  /** Key columns renamed `__k_<key>`, the probe side of [[keyCond]]. */
  private def keysOf(d: DataFrame, ks: Seq[String]): DataFrame =
    d.select(ks.map(k => col(k).as(s"__k_$k")): _*)

  /** Null-safe key equality of `t` against a [[keysOf]] frame. */
  private def keyCond(t: DataFrame, ks: Seq[String]): Column =
    ks.map(k => t(k) <=> col(s"__k_$k")).reduce(_ && _)

  /** The merge's one swap: stage `data` under `_tmp_merge`, retire
    * `originals`. A failed promote surfaces as [[PartialMergeError]].
    */
  private def swap(ds: ParquetDataset, originals: Seq[String], data: DataFrame,
                   partCols: Seq[String]): Swap.Result = {
    val res =
      try Swap(ds, "merge", originals) { tmp =>
        WritePipeline.write(data, tmp, WriteConfig(partitionBy = partCols))
      } catch { case e: FsUtil.PromoteFailedException =>
        throw new PartialMergeError(originals, e.promoted, e.remaining, e)
      }
    if (ds.stats.nonEmpty) ds.updateStats()
    res
  }

  private def rewrite(ds: ParquetDataset, src: DataFrame, ks: Seq[String],
                      partCols: Seq[String], upsert: Boolean,
                      tgtB: DataFrame, srcCount: Long): MergeResult = {
    val tgtF = tgtB.withColumn("__file", input_file_name())

    // ONE bounded pass over the target, one global aggregate: the
    // matched-file set (only these are rewritten), the distinct
    // matched source keys (`updated`; source keys are unique after
    // dedupLastWins) and the partition-change rejection
    // (tests/test_dataset_merge.py:400-427: a source row's partition
    // value must equal the matched target row's)
    val srcPartCols = partCols.filter(src.columns.contains)
    val srcProj = src.select(ks.map(k => col(k).as(s"__k_$k")) ++
      srcPartCols.map(p => col(p).as(s"__p_$p")): _*)
    val violFlag: Column =
      if (srcPartCols.isEmpty) lit(false)
      else srcPartCols.map(p => !(col(p) <=> col(s"__p_$p"))).reduce(_ || _)
    val found = tgtF.join(srcProj, keyCond(tgtF, ks), "inner")
      .agg(collect_set("__file"),
        count_distinct(struct(ks.map(k => col(s"__k_$k")): _*)),
        coalesce(max(violFlag), lit(false)))
      .collect()(0)
    if (found.getBoolean(2))
      throw new IllegalArgumentException(
        "merge update would change a partition value; rewrite rejected")
    val affectedRel = found.getSeq[String](0)
      .map(f => FsUtil.relativize(ds.path, f)).sorted
    val updated = found.getLong(1)
    val inserted = if (upsert) srcCount - updated else 0L
    val allRel = ds.relFiles
    val preserved = allRel.filterNot(affectedRel.contains)
    if (affectedRel.isEmpty && !upsert)
      return MergeResult(srcCount, 0, 0, Nil, Nil, preserved)

    val affected = Option.when(affectedRel.nonEmpty)(ds.read(affectedRel))
    // upsert stages the whole source; update only its matched rows
    val incoming =
      if (upsert) src
      else src.join(keysOf(affected.get, ks).distinct(), keyCond(src, ks), "left_semi")
    // rows whose key is NOT being merged survive as-is
    val data = affected.foldLeft(SchemaOps.align(incoming, ds.schema)) { (in, a) =>
      SchemaOps.align(a.join(keysOf(src, ks), keyCond(a, ks), "left_anti"), ds.schema)
        .unionByName(in)
    }
    val staged =
      try swap(ds, affectedRel, data, partCols)
      catch { case e: MaintenanceCleanupError =>
        // the rewrite landed; only the superseded originals remain
        val landed = scala.util.Try(ds.relFiles.filterNot(allRel.contains)).getOrElse(Nil)
        throw new MergeCleanupError(
          MergeResult(srcCount, inserted, updated, affectedRel, landed, preserved),
          e.remainingOriginals, e)
      }
    MergeResult(srcCount, inserted, updated, affectedRel, staged.files, preserved)
  }
}
