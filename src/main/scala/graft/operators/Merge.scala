package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._
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
  * the inserts — and insert stages the unmatched source rows and
  * retires nothing.
  *
  * Two paths with one contract. A source whose deduplicated plan Spark
  * estimates at or below `spark.sql.autoBroadcastJoinThreshold` (the
  * bound Spark broadcasts a join side under; `-1` turns this path off
  * too) and that holds at most [[SmallSourceKeys]] distinct keys is
  * held on the driver: collected once, deduplicated there, and
  * matched against the target by a null-safe IN set of its keys
  * that pushes into the parquet scan — one job returns the file, key
  * and partition values of every matched row, and the staged rows
  * reach the write as a local relation. Its key and partition columns
  * must have the same exactly comparable types on both sides, and the
  * match job's distinct (file, key) rows must stay within a small
  * multiple of the source (`MatchRowsPerKey`). Any other source takes
  * the distributed path: a cached window dedup, key-range bounds, and
  * joins.
  *
  * Counts come from passes the merge runs anyway: `updated` is the
  * number of distinct matched source keys (from the driver's matched
  * rows, or the distributed discovery aggregate), `inserted` is
  * `sourceCount − updated` for upsert and the staged files' footer row
  * counts for insert.
  *
  * Source-reads-target rule: a `source` may read this same dataset
  * (incremental index maintenance — new values computed from current
  * values). Every read of the source, and of the target, finishes in
  * the staged write (on the driver path, before it), before anything
  * is promoted. Once the swap promotes, `refreshByPath` invalidates
  * every cached plan over the target path, so a caller that reuses
  * such a frame after the merge sees the new state, not the one the
  * merge read.
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
    val deduped = dedupLastWins(source, ks)
    val small =
      if (onDriver(deduped, source.schema, ds.schema, ks, partCols)) local(ds, source, ks, partCols, strategy)
      else None
    small.getOrElse(distributed(ds, deduped.cache(), ks, partCols, strategy))
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

  // ---- driver path ---------------------------------------------------

  /** The deduplicated source is within the broadcast threshold, it
    * names every key, and each key and partition column it carries has
    * one type on both sides that Scala equality compares as Spark's
    * `<=>` does.
    */
  private def onDriver(deduped: DataFrame, src: StructType, tgt: StructType,
                       ks: Seq[String], partCols: Seq[String]): Boolean = {
    def exact(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case t => t == StringType // the default collation compares bytes
    }
    Bridge.withinBroadcastThreshold(deduped) && ks.forall(src.fieldNames.contains) &&
      (ks ++ partCols).filter(src.fieldNames.contains).forall(c => tgt.fieldNames.contains(c) &&
        src(c).dataType == tgt(c).dataType && exact(src(c).dataType))
  }

  /** The most distinct keys a source merges with on the driver path.
    * Its cost grows with the keys (collected, deduplicated, and carried
    * as an IN set by the match scan and the staged write); the
    * distributed path's is mostly fixed jobs. MEASURED, not chosen: in
    * the upsert sweep in docs/SCALE.md the driver path wins up to
    * 10,000 keys, breaks even there for a two-column key, and loses
    * from 30,000, well inside what the broadcast threshold admits (a
    * 10 MB estimate is ~150k rows of a local relation, ~1M of parquet).
    */
  val SmallSourceKeys = 10000

  /** The driver path's match job returns distinct (file, key, partition
    * values) rows, at most `MatchRowsPerKey` per source key and at
    * least `MatchRowsFloor` in all. Target keys need not be unique,
    * so a few source keys can match a key in every file; past the cap
    * the merge takes the distributed path, which reduces its matches on
    * the executors, and the driver holds a small multiple of the source
    * it has already collected.
    */
  private val MatchRowsPerKey = 4
  private val MatchRowsFloor = 1024

  /** The merge of a source held on the driver (see the class doc), or
    * None past [[SmallSourceKeys]] or the match cap above. The source's
    * rows come back in its row order, so the last of each key wins as
    * in [[dedupLastWins]].
    */
  private def local(ds: ParquetDataset, source: DataFrame, ks: Seq[String],
                    partCols: Seq[String], strategy: String): Option[MergeResult] = {
    val schema = source.schema
    val ki = ks.map(schema.fieldIndex)
    def keyOf(r: Row): Seq[Any] = ki.map(r.get)
    val src = source.collect().toSeq.reverse.distinctBy(keyOf).reverse
    if (src.size > SmallSourceKeys) return None
    val srcCount = src.size.toLong
    val hit = keyIn(ks, ki.map(schema(_).dataType), src.map(keyOf))
    def frame(rows: Seq[Row]) =
      SchemaOps.align(ds.spark.createDataFrame(rows.asJava, schema), ds.schema)

    // the one target job: file, key and partition values per matched
    // row, repeats dropped and capped within each scan task
    val cap = math.max(MatchRowsPerKey * src.size, MatchRowsFloor)
    val srcPartCols = partCols.filter(schema.fieldNames.contains)
    val found = ds.df.filter(hit)
      .select(input_file_name() +: (ks ++ srcPartCols).map(col): _*)
      .rdd.mapPartitions(_.distinct.take(cap + 1)).collect().distinct
    if (found.length > cap) return None
    def foundKey(r: Row): Seq[Any] = ks.indices.map(i => r.get(1 + i))
    val matched = found.iterator.map(foundKey).toSet

    if (strategy == "insert") {
      val before = ds.relFiles
      val ins = swap(ds, Nil, frame(src.filterNot(r => matched(keyOf(r)))), partCols)
      return Some(MergeResult(srcCount, ins.rows, 0, Nil, ins.files, before))
    }
    val bySrcKey = src.map(r => keyOf(r) -> r).toMap
    val pi = srcPartCols.map(schema.fieldIndex)
    if (found.exists(r => pi.zipWithIndex.exists { case (i, j) =>
        bySrcKey(foundKey(r)).get(i) != r.get(1 + ks.size + j) }))
      throw new IllegalArgumentException(
        "merge update would change a partition value; rewrite rejected")
    val affectedRel = found.map(r => FsUtil.relativize(ds.path, r.getString(0))).distinct.sorted.toSeq
    val upsert = strategy == "upsert"
    val updated = matched.size.toLong
    Some(rewrite(ds, partCols, affectedRel, upsert, srcCount, updated) { affected =>
      val incoming = frame(if (upsert) src else src.filter(r => matched(keyOf(r))))
      affected.foldLeft(incoming) { (in, a) =>
        SchemaOps.align(a.filter(!coalesce(hit, lit(false))), ds.schema).unionByName(in)
      }
    })
  }

  /** A target row's key is among `keys` (tuples in `ks` order, of the
    * column types `types`), null-safe: an IN set per column, which the
    * parquet scan can push down, made exact for a compound key by an IN
    * set of key structs (struct ordering matches null fields).
    */
  private def keyIn(ks: Seq[String], types: Seq[DataType], keys: Seq[Seq[Any]]): Column = {
    if (keys.isEmpty) return lit(false)
    val perColumn = ks.indices.map { i =>
      val (nulls, vals) = keys.map(_(i)).distinct.partition(_ == null)
      val in = Option.when(vals.nonEmpty)(Bridge.inSet(col(ks(i)), types(i), vals))
      (in ++ Option.when(nulls.nonEmpty)(col(ks(i)).isNull)).reduce(_ || _)
    }.reduce(_ && _)
    if (ks.size == 1) perColumn
    else perColumn && Bridge.inSet(struct(ks.map(col): _*),
      StructType(ks.indices.map(i => StructField(ks(i), types(i)))), keys.map(Row.fromSeq))
  }

  // ---- distributed path ----------------------------------------------

  private def distributed(ds: ParquetDataset, src: DataFrame, ks: Seq[String],
                          partCols: Seq[String], strategy: String): MergeResult =
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
      } else discover(ds, src, ks, partCols, strategy == "upsert", tgtB, srcCount)
    } finally {
      // a long-lived session runs many merges — don't let per-merge
      // caches accumulate executor memory
      src.unpersist()
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

  /** Matched-file discovery for update and upsert: ONE bounded pass
    * over the target, one global aggregate giving the matched-file set
    * (only these are rewritten), the distinct matched source keys
    * (`updated`; source keys are unique after dedupLastWins) and the
    * partition-change rejection (tests/test_dataset_merge.py:400-427: a
    * source row's partition value must equal the matched target row's).
    * Discovery rides on `input_file_name()`, so unmatched files are
    * never read past their footer.
    */
  private def discover(ds: ParquetDataset, src: DataFrame, ks: Seq[String],
                       partCols: Seq[String], upsert: Boolean,
                       tgtB: DataFrame, srcCount: Long): MergeResult = {
    val tgtF = tgtB.withColumn("__file", input_file_name())
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
    rewrite(ds, partCols, affectedRel, upsert, srcCount, found.getLong(1)) { affected =>
      // upsert stages the whole source; update only its matched rows
      val incoming =
        if (upsert) src
        else src.join(keysOf(affected.get, ks).distinct(), keyCond(src, ks), "left_semi")
      // rows whose key is NOT being merged survive as-is
      affected.foldLeft(SchemaOps.align(incoming, ds.schema)) { (in, a) =>
        SchemaOps.align(a.join(keysOf(src, ks), keyCond(a, ks), "left_anti"), ds.schema)
          .unionByName(in)
      }
    }
  }

  // ---- the swap --------------------------------------------------------

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
    if (ds.hasStats) ds.updateStats()
    res
  }

  /** Update and upsert's swap: the `affectedRel` files are replaced by
    * `stage` of their read (None without an affected file, where
    * update has nothing to do and upsert stages the source alone).
    */
  private def rewrite(ds: ParquetDataset, partCols: Seq[String], affectedRel: Seq[String],
                      upsert: Boolean, srcCount: Long, updated: Long)(
                      stage: Option[DataFrame] => DataFrame): MergeResult = {
    val inserted = if (upsert) srcCount - updated else 0L
    val allRel = ds.relFiles
    val preserved = allRel.filterNot(affectedRel.contains)
    if (affectedRel.isEmpty && !upsert)
      return MergeResult(srcCount, 0, 0, Nil, Nil, preserved)
    val staged =
      try swap(ds, affectedRel, stage(Option.when(affectedRel.nonEmpty)(ds.read(affectedRel))), partCols)
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
