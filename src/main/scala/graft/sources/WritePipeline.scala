package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.SchemaOps

/** Sort key with the reference's defaults (nulls last both directions,
  * pydala/dataset.py:111-113).
  */
final case class SortKey(column: String, desc: Boolean = false) {
  def toColumn: Column =
    if (desc) col(column).desc_nulls_last else col(column).asc_nulls_last
}

object SortKey {
  /** Parse "a desc, b" / "a,b" style sort specs (pydala/table.py:131-235). */
  def parse(spec: String): Seq[SortKey] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).map { part =>
      val ws = part.split("\\s+")
      SortKey(ws(0), ws.length > 1 && ws(1).equalsIgnoreCase("desc"))
    }.toSeq
}

sealed trait UniqueSpec
case object UniqueOff extends UniqueSpec
case object UniqueAll extends UniqueSpec
final case class UniqueOn(columns: Seq[String]) extends UniqueSpec

/** The normalizing write pipeline: sort → dedupe → schema cast/evolve →
  * derived date-part partition columns → hive-partitioned parquet write
  * (reference pydala/io.py:381-437 prepare, 533-664 write).
  *
  * Scale notes: every stage is a narrow/declarative DataFrame op —
  * Catalyst fuses the casts and dateparts into the write scan; the
  * shuffles are the optional global sort (range partitioner), the
  * dedup (hash partition on the key subset) and, for a partitioned
  * write, one rebalance on the partition columns, so each partition
  * value lands in one file per advisory-size slice rather than one per
  * write task. `maxRecordsPerFile` still caps every file.
  */
final case class WriteConfig(
    mode: String = "append", // append | overwrite
    partitionBy: Seq[String] = Nil,
    sortBy: Seq[SortKey] = Nil,
    unique: UniqueSpec = UniqueOff,
    targetSchema: Option[StructType] = None,
    keepExtraColumns: Boolean = false,
    datepartsFrom: Option[String] = None,
    dateparts: Seq[String] = Nil,
    maxRowsPerFile: Long = 10000000L,
    compression: String = "zstd",
    /** Parquet row-group target in bytes. The reference sizes groups
      * by exact row count (256k rows, pydala/dataset.py:887); Spark
      * controls bytes — an accepted divergence (SURVEY §7.5).
      */
    rowGroupBytes: Option[Long] = None,
    /** Parquet timestamp unit for the written files ("us" | "ms" |
      * "int96") — the reference's `ts_unit` (pydala/dataset.py:891);
      * "ms" truncates like the reference allows (pydala/io.py:106).
      */
    tsUnit: Option[String] = None,
    /** Time zone for [[removeTz]] / localization — the reference's
      * `tz` arg. With `removeTz=true`, TIMESTAMP columns are written
      * as TIMESTAMP_NTZ wall clocks rendered in this zone (default
      * UTC, matching the reference's arrow zone-drop); with
      * `removeTz=false`, TIMESTAMP_NTZ columns are interpreted as wall
      * clocks IN this zone and written as instants.
      */
    tz: Option[String] = None,
    /** Strip zones (reference `remove_tz`, pydala/schema.py:74). */
    removeTz: Boolean = false,
    /** Columns to write parquet bloom filters for. Point-lookup /
      * IN-list scans then skip whole row groups on non-matching
      * files — the scan-side pruning lever for high-cardinality keys
      * that min/max sidecar stats can't serve (a uniformly
      * distributed key spans every file's [min, max]). Readers get
      * this for free: Spark's parquet scan consults row-group bloom
      * metadata whenever the equality predicate is pushed down.
      */
    bloomFilterCols: Seq[String] = Nil)

object WritePipeline {

  /** Date-part derivations (reference pydala/io.py:289-300). */
  val DatepartFns: Map[String, Column => Column] = Map(
    "year" -> (c => year(c)),
    "quarter" -> (c => quarter(c)),
    "month" -> (c => month(c)),
    "week" -> (c => weekofyear(c)),
    "yearday" -> (c => dayofyear(c)),
    "monthday" -> (c => dayofmonth(c)),
    "day" -> (c => dayofmonth(c)),
    "weekday" -> (c => weekday(c)),
    "hour" -> (c => hour(c)),
    "minute" -> (c => minute(c)))

  /** Bucketed managed-table write — the co-located-join layout for
    * recurring key joins: two tables bucketed on the same key join
    * with NO shuffle exchange (pinned by PlanShapeSpec). Bucketing
    * rides the session catalog (`saveAsTable`), not a bare path —
    * Spark's analogue of pre-partitioning the reference lacks. At
    * 100 TB this turns every recurring fact-fact join into a local
    * zip of pre-sorted buckets.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil,
                    mode: String = "overwrite"): Unit = {
    require(keys.nonEmpty, "writeBucketed: at least one bucket key")
    var w = df.write.mode(mode).bucketBy(buckets, keys.head, keys.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** prepare = sort → unique (first-occurrence-wins in the sorted
    * order, matching polars maintain_order=True) → schema align →
    * dateparts. Pure transformation: performs no I/O (pinned by the
    * reference's no-write guarantee, tests/test_writer_prepare.py:281).
    */
  def prepare(df: DataFrame, cfg: WriteConfig): DataFrame = {
    var out = df

    if (cfg.sortBy.nonEmpty)
      out = out.orderBy(cfg.sortBy.map(_.toColumn): _*)

    out = cfg.unique match {
      case UniqueOff => out
      case spec =>
        val subset = spec match {
          case UniqueOn(cols) => cols
          case _ => out.columns.toSeq
        }
        // monotonically_increasing_id after a sort preserves the sorted
        // order (range partitions are ordered), so rn=1 keeps the first
        // occurrence — polars unique(maintain_order=True) semantics.
        val w = Window.partitionBy(subset.map(col): _*).orderBy(col("__ord"))
        out.withColumn("__ord", monotonically_increasing_id())
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__ord", "__rn")
    }

    out = cfg.targetSchema match {
      case Some(t) => SchemaOps.align(out, t, cfg.keepExtraColumns)
      case None => out
    }

    // tz conversion BEFORE dateparts: a partition derived from a
    // tz-converted write must reflect the converted wall clock
    // (reference convert_timestamp runs in write prepare,
    // pydala/io.py:346-351)
    if (cfg.removeTz)
      out = graft.functions.TsConvert.strip(out, cfg.tz.getOrElse("UTC"))
    else for (t <- cfg.tz)
      out = graft.functions.TsConvert.localize(out, t)

    for (tsCol <- cfg.datepartsFrom; dp <- cfg.dateparts) {
      val fn = DatepartFns.getOrElse(dp,
        throw new IllegalArgumentException(s"unknown datepart: $dp"))
      out = out.withColumn(dp, fn(col(tsCol)))
    }
    out
  }

  /** Execute the pipeline and write. `overwrite` reproduces the
    * reference's write-new-then-delete-old crash semantics
    * (pydala/dataset.py:995-1002).
    *
    * A partitioned write is clustered by its partition columns with
    * Spark's `REBALANCE`: AQE splits a partition value past the
    * advisory partition size and merges small ones, so a write leaves
    * one file per partition value it touches (per advisory-size slice
    * of it), not one per task and value.
    */
  def write(df: DataFrame, path: String, cfg: WriteConfig): Unit = {
    val prepared = clustered(df, cfg)
    val before: Set[String] =
      if (cfg.mode == "overwrite") FsUtil.listParquet(path).toSet else Set.empty

    var w = prepared.write
      .mode("append")
      .option("compression", cfg.compression)
      .option("maxRecordsPerFile", cfg.maxRowsPerFile)
    cfg.rowGroupBytes.foreach(n => w = w.option("parquet.block.size", n))
    cfg.bloomFilterCols.foreach(c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    // the parquet unit is a session conf, not a writer option — scope
    // it to this write and restore whatever the session had
    val unitKey = "spark.sql.parquet.outputTimestampType"
    val prevUnit = cfg.tsUnit.map(_ => df.sparkSession.conf.get(unitKey))
    cfg.tsUnit.foreach(u => df.sparkSession.conf.set(
      unitKey, graft.functions.TsConvert.outputTimestampType(u)))
    try (if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*) else w)
      .parquet(path)
    finally prevUnit.foreach(df.sparkSession.conf.set(unitKey, _))

    if (cfg.mode == "overwrite") FsUtil.delete(path, before.toSeq)
    // drop the session's cached file listing for this path — Spark's
    // shared FileStatusCache otherwise serves the pre-write listing
    df.sparkSession.catalog.refreshByPath(path)
  }

  /** [[prepare]], rebalanced on the partition columns for a
    * partitioned write. A `sortBy` order is then a sort within each
    * rebalanced task, which gives every file its order; prepare's
    * global sort, a range shuffle the rebalance would undo, runs only
    * where `unique` keeps the first row of that order. A write that
    * drops a sort column keeps the global sort and is not rebalanced.
    */
  private def clustered(df: DataFrame, cfg: WriteConfig): DataFrame = {
    val parts = cfg.partitionBy.map(col)
    lazy val unsorted = prepare(df, cfg.copy(sortBy = Nil))
    if (parts.isEmpty) prepare(df, cfg)
    else if (cfg.sortBy.isEmpty) unsorted.hint("rebalance", parts: _*)
    else if (cfg.sortBy.forall(k => unsorted.columns.contains(k.column)))
      (if (cfg.unique == UniqueOff) unsorted else prepare(df, cfg))
        .hint("rebalance", parts: _*)
        .sortWithinPartitions(parts ++ cfg.sortBy.map(_.toColumn): _*)
    else prepare(df, cfg)
  }

  /** List-of-sources write: each element is written as its own batch —
    * the reference treats a list per-item on the WRITE path
    * (pydala/dataset.py:954-962), unlike merge's one-logical-batch rule.
    * `overwrite` applies to the LIST, not each element: the first item
    * replaces the dataset, the rest append (otherwise only dfs.last
    * would survive).
    */
  def writeAll(dfs: Seq[DataFrame], path: String, cfg: WriteConfig): Unit =
    dfs.zipWithIndex.foreach { case (d, i) =>
      write(d, path, if (i == 0) cfg else cfg.copy(mode = "append"))
    }
}
