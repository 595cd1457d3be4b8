package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.SchemaOps
import graft.sources.{FsUtil, ParquetDataset, SortKey, Swap, UniqueAll, UniqueOff, WriteConfig, WritePipeline}

/** Dry-run plan shapes (reference pydala/dataset.py:129-219: every
  * maintenance op returns a plain plan when dry_run=True).
  */
final case class CompactGroup(partition: String, files: Seq[String], rows: Long)
final case class CompactPlan(groups: Seq[CompactGroup]) {
  def plannedFiles: Seq[String] = groups.flatMap(_.files)
}
final case class DtypeChange(column: String, from: String, to: String)
final case class DtypePlan(changes: Seq[DtypeChange])
final case class RepairPlan(targetSchema: String, candidates: Seq[String])

/** A staged rewrite failed before the swap: the dataset's original
  * files and sidecar are untouched; the payload says what was
  * attempted — the reference's PartialWriteError recovery contract
  * (pydala/io.py:41-64, pydala/dataset.py:172-203).
  */
final class StagedRewriteException(
    val plannedFiles: Seq[String],
    message: String,
    cause: Throwable) extends RuntimeException(message, cause)

/** Post-promote cleanup failure of a swap ([[graft.sources.Swap]]
  * step 5; Merge wraps it in [[MergeCleanupError]]): the staged rewrite
  * fully promoted — data is durable and complete — but deleting
  * superseded originals failed partway, so their rows are visible
  * TWICE until `remainingOriginals` (dataset-relative) are removed;
  * never lost or torn. Stats were NOT refreshed. The swap's journal
  * stays, so the next swapping call on the dataset (or
  * `Delete.recover`) finishes the cleanup.
  */
final class MaintenanceCleanupError(
    val remainingOriginals: Seq[String],
    cause: Throwable)
  extends RuntimeException(
    s"maintenance rewrite promoted but ${remainingOriginals.size} " +
      "superseded original file(s) could not be deleted; their rows are " +
      "duplicated until cleanup", cause)

/** Maintenance operators: compaction (rows / partitions / time window,
  * optionally ordered), repartitioning, dtype optimization, schema
  * repair, vacuum — reference pydala/dataset.py:1802-2603.
  *
  * Failure contract (pydala/dataset.py:172-203): every rewrite is one
  * journaled swap ([[graft.sources.Swap]], `_tmp_maint`) — a failure
  * in the staged write raises [[StagedRewriteException]] with the
  * dataset unchanged, a failed promote `FsUtil.PromoteFailedException`,
  * a failed original-delete [[MaintenanceCleanupError]]; after the
  * latter two the next swapping call completes the swap from its
  * journal. The stats sidecar refreshes only after a successful swap.
  *
  * Scale notes: planning is metadata-only: compaction plans from the
  * rows and `tsCol` bounds the dataset version read from each footer
  * once (`ParquetDataset.footers`), so a held version plans with no
  * footer opened and no Spark job (past its bounds a version keeps the
  * timestamp lane's bounds alone, and a `tsCol` of another lane is read
  * again); execution reads exactly the planned
  * file groups; the whole-dataset paths (repartition, optimize) are
  * single read→write jobs whose parallelism is the cluster's, not the
  * driver's.
  */
object Maintenance {

  /** Swap tag: stages under `_tmp_maint`. */
  private val TmpOp = "maint"

  private def partitionOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  // ---- compaction ---------------------------------------------------

  /** Merge small multi-file partitions (files>1, total rows<max) into
    * ≤ maxRows-per-file files; optional ordered rewrite.
    */
  def compactPartitions(ds: ParquetDataset, maxRowsPerFile: Long = 10000000L,
                        sortBy: Seq[SortKey] = Nil,
                        dryRun: Boolean = false): CompactPlan = {
    if (!dryRun) Swap.recover(ds) // a pending swap would skew the plan
    val groups = ds.footers.filter(_.rows > 0).groupBy(f => partitionOf(f.rel)).toSeq
      .map { case (p, fs) => CompactGroup(p, fs.map(_.rel).sorted, fs.map(_.rows).sum) }
      .filter(g => g.files.size > 1 && g.rows < maxRowsPerFile)
      .sortBy(_.partition)
    val plan = CompactPlan(groups)
    if (!dryRun) execute(ds, plan, maxRowsPerFile, sortBy)
    plan
  }

  /** Whole-dataset rewrite to ≤ maxRows-per-file files; partitioned
    * datasets delegate to per-partition compaction.
    */
  def compactByRows(ds: ParquetDataset, maxRowsPerFile: Long = 10000000L,
                    sortBy: Seq[SortKey] = Nil,
                    dryRun: Boolean = false): CompactPlan = {
    if (ds.partitionColumns.nonEmpty)
      return compactPartitions(ds, maxRowsPerFile, sortBy, dryRun)
    if (!dryRun) Swap.recover(ds) // a pending swap would skew the plan
    val fs = ds.footers.filter(_.rows > 0)
    val plan =
      if (fs.size <= 1) CompactPlan(Nil)
      else CompactPlan(Seq(CompactGroup("", fs.map(_.rel).sorted, fs.map(_.rows).sum)))
    if (!dryRun) execute(ds, plan, maxRowsPerFile, sortBy)
    plan
  }

  /** Split the dataset's time range into `interval` windows (from the
    * footers' min/max of `tsCol`, as the dataset version holds them)
    * and rewrite each window's files, grouped by partition, in place.
    * Bounds come from the exact bigint lanes: the double lanes round
    * past 2^53 (nanosecond timestamps), and a rounded window bound
    * could misassign files.
    */
  def compactByTimeperiod(ds: ParquetDataset, tsCol: String, intervalMicros: Long,
                          maxRowsPerFile: Long = 10000000L,
                          dryRun: Boolean = false): CompactPlan = {
    if (!dryRun) Swap.recover(ds) // a pending swap would skew the plan
    val files = ds.footersWith(tsCol)
    val chunks = files.map(f => f.rel -> f.stats.filter(_.column == tsCol))
    val range = chunks.map { case (f, ts) =>
      f -> ts.flatMap(s => s.min_int.orElse(s.min_num.map(_.toLong))).minOption
        .zip(ts.flatMap(s => s.max_int.orElse(s.max_num.map(_.toLong))).maxOption)
    }.toMap
    // a file whose tsCol carries NO usable bounds (stats disabled by a
    // third-party writer, an all-NULL chunk) or — after schema
    // evolution — no tsCol chunk AT ALL cannot be assigned to a window:
    // fail LOUDLY rather than silently skipping it forever (the planner
    // must never return a clean-looking partial plan)
    val unbounded = chunks.collect { case (f, ts) if ts.nonEmpty && range(f).isEmpty => f }.take(5)
    require(unbounded.isEmpty,
      s"compactByTimeperiod: ${unbounded.length}+ file(s) have no usable " +
        s"$tsCol min/max statistics and cannot be window-assigned " +
        s"(e.g. ${unbounded.take(2).mkString(", ")}); repair stats or " +
        "compact by rows instead")
    val unlisted = chunks.collect { case (f, ts) if ts.isEmpty => f }.take(5)
    require(unlisted.isEmpty,
      s"compactByTimeperiod: ${unlisted.length}+ file(s) carry no $tsCol " +
        s"column chunk at all (schema evolution?) and cannot be " +
        s"window-assigned (e.g. ${unlisted.take(2).mkString(", ")}); " +
        "repair_schema or compact by rows instead")
    if (files.isEmpty) return CompactPlan(Nil)
    val fileRange = range.map { case (f, r) => f -> r.get }
    val lo = fileRange.values.map(_._1).min
    val hi = fileRange.values.map(_._2).max
    val rows = files.map(f => f.rel -> f.rows).toMap
    val assigned = scala.collection.mutable.Set[String]()
    val groups = Iterator.iterate(lo)(_ + intervalMicros).takeWhile(_ <= hi).flatMap { start =>
      val end = start + intervalMicros
      val fs = fileRange.collect {
        case (f, (mn, mx)) if !assigned(f) && mn < end && mx >= start => f
      }.toSeq.sorted
      assigned ++= fs
      fs.groupBy(partitionOf).toSeq.sortBy(_._1).collect {
        case (p, gfs) if gfs.size > 1 =>
          CompactGroup(s"$p@t=$start", gfs, gfs.map(rows).sum)
      }
    }.toSeq
    val plan = CompactPlan(groups)
    if (!dryRun) execute(ds, plan, maxRowsPerFile, Seq(SortKey(tsCol)))
    plan
  }

  /** Rewrite every planned group in one swap: each group stages under
    * `_tmp_maint/<partition dir>/`, read in the unified schema of its
    * own files — a column a later append added survives compaction.
    */
  private def execute(ds: ParquetDataset, plan: CompactPlan,
                      maxRowsPerFile: Long, sortBy: Seq[SortKey]): Unit = {
    if (plan.groups.isEmpty) return
    val spark = ds.spark
    // partition values live in the directory names, not the footers,
    // so file schemas carry only data columns
    val schemaOf = ds.schemaOf _
    Swap(ds, TmpOp, plan.plannedFiles) { tmp =>
      plan.groups.foreach { g =>
        val partDir = g.partition.split("@t=")(0)
        val abs = g.files.map(f => s"${ds.path}/$f")
        val target = SchemaOps.unify(abs.map(schemaOf))
        var d = abs.groupBy(schemaOf).values.toSeq.sortBy(_.head)
          .map(fs => SchemaOps.align(spark.read.schema(schemaOf(fs.head)).parquet(fs: _*), target))
          .reduce(_ unionByName _)
        if (sortBy.nonEmpty) d = d.orderBy(sortBy.map(_.toColumn): _*)
        // coalesce (narrow, no shuffle) down to the target file count;
        // after an orderBy the range partitions are adjacent, so each
        // merged output file stays internally ordered
        val nFiles = math.max(1, math.ceil(g.rows.toDouble / maxRowsPerFile).toInt)
        WritePipeline.write(d.coalesce(nFiles), if (partDir.isEmpty) tmp else s"$tmp/$partDir",
          WriteConfig(maxRowsPerFile = maxRowsPerFile))
      }
    }
    if (ds.hasStats) ds.updateStats()
  }

  // ---- repartition --------------------------------------------------

  /** Rewrite the dataset into a new hive layout, optionally deriving
    * date-part partition columns and deduplicating.
    */
  def repartition(ds: ParquetDataset, partitionBy: Seq[String],
                  datepartsFrom: Option[String] = None,
                  dateparts: Seq[String] = Nil,
                  maxRowsPerFile: Long = 10000000L,
                  unique: Boolean = false): Unit = {
    Swap.recover(ds)
    val cfg = WriteConfig(
      partitionBy = partitionBy,
      unique = if (unique) UniqueAll else UniqueOff,
      datepartsFrom = datepartsFrom,
      dateparts = dateparts,
      maxRowsPerFile = maxRowsPerFile)
    Swap(ds, TmpOp, ds.relFiles)(WritePipeline.write(ds.df, _, cfg))
    if (ds.hasStats) ds.updateStats()
  }

  // ---- dtype optimization ------------------------------------------

  /** Exact-bounds narrowing (reference optimize_dtypes,
    * pydala/dataset.py:2490-2603). Lossiness is impossible by
    * construction: every proposal is confirmed from EXACT full-frame
    * bounds (not a sample), and a racing concurrent writer still
    * fails closed — the staged write's ANSI casts throw →
    * [[StagedRewriteException]], originals untouched. `strict` is
    * retained as the reference-parity knob only (pydala's SAMPLED
    * planner needs a pre-publish recount; this planner doesn't) and
    * currently has no effect. The optional `tz`/`removeTz`
    * pair normalizes timestamp columns in the SAME rewrite (the
    * reference's ts unit/tz args on this path, pydala/io.py:325-351):
    * `removeTz=true` strips instants to wall clocks rendered in `tz`
    * (default UTC); `removeTz=false` with `tz` localizes NTZ wall
    * clocks into instants. See [[graft.functions.TsConvert]].
    */
  def optimizeDtypes(ds: ParquetDataset, sampleRows: Int = 10000,
                     strict: Boolean = true,
                     dryRun: Boolean = false,
                     tz: Option[String] = None,
                     removeTz: Boolean = false): DtypePlan = {
    if (!dryRun) Swap.recover(ds) // a pending swap would skew the plan
    val raw = ds.df
    // tz normalization is an EXPRESSION, not a schema cast: a plain
    // TIMESTAMP↔NTZ cast renders wall clocks in the session zone,
    // while strip/localize honor the requested zone
    val tsConvert: DataFrame => DataFrame =
      if (removeTz) graft.functions.TsConvert.strip(_, tz.getOrElse("UTC"))
      else tz.map(t => (df: DataFrame) => graft.functions.TsConvert.localize(df, t))
        .getOrElse(identity[DataFrame] _)
    val d = tsConvert(raw)
    val tsChanges = raw.schema.fields.flatMap { f =>
      val to = d.schema(f.name).dataType
      if (to != f.dataType)
        Some(DtypeChange(f.name, f.dataType.simpleString, to.simpleString))
      else None
    }.toSeq
    val proposal = SchemaOps.optDtype(d, sampleRows, exclude = ds.partitionColumns)
    val plan = DtypePlan(tsChanges ++ proposal.toSeq.sortBy(_._1).map { case (c, t) =>
      DtypeChange(c, d.schema(c).dataType.simpleString, t.simpleString)
    })
    if (dryRun || (proposal.isEmpty && tsChanges.isEmpty)) return plan

    // no pre-rewrite recount: optDtype confirms every proposal from
    // EXACT full-frame bounds, so a lossy plan is impossible by
    // construction; a concurrent writer racing the rewrite still
    // fails closed — align's plain casts throw under ANSI inside the
    // staged write → StagedRewriteException, originals untouched.
    // `strict` is retained in the signature as the reference-parity
    // knob (pydala's sampled planner needs the recount; ours doesn't).
    val _ = strict

    val target = StructType(d.schema.fields.map { f =>
      proposal.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)
    })
    rewriteAll(ds, target, tsConvert)
    plan
  }

  // ---- schema repair ------------------------------------------------

  /** Rediscover per-file physical schemas, plan the permissive-unified
    * target, rewrite only divergent files, each in isolation — a
    * failed cast leaves the original intact (pydala/schema.py:406-578).
    */
  def repairSchema(ds: ParquetDataset, dryRun: Boolean = false): RepairPlan = {
    if (!dryRun) Swap.recover(ds) // a pending swap would skew the plan
    val spark = ds.spark
    val files = ds.files
    // captured once: each repair swap drops the dataset's resolved schema
    val schemaOf = files.map(f => f -> ds.schemaOf(f)).toMap
    val target = SchemaOps.unify(files.map(schemaOf))
    val candidates = files.filter(schemaOf(_) != target)
    val plan = RepairPlan(target.simpleString,
      candidates.map(f => FsUtil.relativize(ds.path, f)))
    if (dryRun) return plan

    // each divergent file is its own swap, so a failed cast leaves that
    // one file intact and the others proceed; a failure after promote
    // is loud (MaintenanceCleanupError) like every swap's
    candidates.foreach { f =>
      val rel = FsUtil.relativize(ds.path, f)
      try Swap(ds, TmpOp, Seq(rel)) { tmp =>
        val p = partitionOf(rel)
        WritePipeline.write(SchemaOps.align(spark.read.schema(schemaOf(f)).parquet(f), target)
          .coalesce(1), if (p.isEmpty) tmp else s"$tmp/$p", WriteConfig())
      } catch { case e: StagedRewriteException =>
        System.err.println(s"[repair] $f left intact: ${e.getCause.getMessage}")
      }
    }
    if (ds.hasStats) ds.updateStats()
    plan
  }

  /** Whole-dataset rewrite (one swap): the dataset's rows through a
    * row `transform` (tz normalization, a z-order sort), aligned to
    * `target`, in the same hive layout.
    */
  private def rewriteAll(ds: ParquetDataset, target: StructType,
                         transform: DataFrame => DataFrame,
                         maxRowsPerFile: Long = 10000000L): Unit = {
    Swap(ds, TmpOp, ds.relFiles) { tmp =>
      WritePipeline.write(SchemaOps.align(transform(ds.df), target), tmp,
        WriteConfig(partitionBy = ds.partitionColumns, maxRowsPerFile = maxRowsPerFile))
    }
    if (ds.hasStats) ds.updateStats()
  }

  // ---- z-order clustering ------------------------------------------

  /** Bit-spread a 32-bit value so its bits occupy even positions of a
    * 64-bit lane (the classic Morton magic-mask ladder) — pure integer
    * Column ops, fully codegen'd.
    */
  private def spreadBits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    var x = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton (Z-curve) key over two non-negative integer columns. */
  def mortonKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.shiftleft
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))
  }

  /** Morton key over N ≥ 2 non-negative integer columns: each column
    * contributes its low 64/N bits, interleaved round-robin (bit i of
    * column j lands at position i*N + j), so EVERY clustered column
    * gets locality in the curve order — the general form a lakehouse
    * OPTIMIZE ZORDER BY (c1..cN) offers. The 2-column case routes to
    * the magic-mask ladder (6 ops/column vs 64/N explicit bit moves);
    * for N > 2 the explicit interleave is still a flat integer
    * expression tree — ~21 shift/and/or triples per column at N=3 —
    * comfortably inside whole-stage codegen.
    */
  def mortonKeyN(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(cols.size >= 2, s"mortonKeyN needs >= 2 columns, got ${cols.size}")
    // past ~16 columns each gets < 4 bits of the curve — clustering on
    // value parity, a useless layout; fail loudly instead of degrading
    require(cols.size <= 16,
      s"mortonKeyN supports 2..16 columns (64/N bits each), got ${cols.size}")
    if (cols.size == 2) return mortonKey(cols(0), cols(1))
    val n = cols.size
    val bitsPer = 64 / n
    cols.zipWithIndex.map { case (c, j) =>
      val x = c.cast("long").bitwiseAND(lit((1L << bitsPer) - 1))
      (0 until bitsPer).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * n + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order rewrite: cluster the dataset along the space-filling curve
    * of two integer columns so EVERY clustered column gets tight
    * per-file min/max envelopes — multi-dimensional file pruning from
    * the same stats sidecar (a linear sort only tightens its leading
    * column). Staged + swapped like every rewrite. At scale this is a
    * range-partitioned sort on the morton key: one shuffle, and the
    * curve locality is preserved across output files.
    */
  def zorder(ds: ParquetDataset, colA: String, colB: String,
             maxRowsPerFile: Long = 10000000L): Unit =
    zorderN(ds, Seq(colA, colB), maxRowsPerFile)

  /** N-column z-order rewrite (see [[mortonKeyN]]); `zorder` is the
    * two-column special case.
    */
  def zorderN(ds: ParquetDataset, cols: Seq[String],
              maxRowsPerFile: Long = 10000000L): Unit = {
    Swap.recover(ds)
    // hive layout preserved: z-ordering re-clusters WITHIN the
    // existing partitioning, it must not flatten it
    rewriteAll(ds, ds.df.schema,
      _.orderBy(mortonKeyN(cols.map(org.apache.spark.sql.functions.col))), maxRowsPerFile)
  }

  /** Parse "1d" / "6h" / "30m" / "10s" interval specs to micros. */
  def parseInterval(spec: String): Long = {
    val m = """(\d+)([dhms])""".r.findFirstMatchIn(spec.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad interval: $spec"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "d" => n * 86400000000L
      case "h" => n * 3600000000L
      case "m" => n * 60000000L
      case "s" => n * 1000000L
    }
  }
}
