package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.StructType
import graft.functions.SchemaOps
import graft.plans.ScanPruner

/** Managed parquet dataset: a directory of parquet files with optional
  * hive partitioning and a statistics sidecar — the Spark-native
  * `ParquetDataset` (reference pydala/dataset.py:1010-1177).
  *
  * Everything relational (filter/sort/agg/join) happens on the plain
  * `DataFrame` from [[df]]; the class adds the management layer:
  * sidecar statistics, explicit file-level scan pruning, the
  * normalizing write pipeline, keyed merge, and maintenance. Each
  * dataset version has one [[schema]], decided here and nowhere else.
  */
final class ParquetDataset(val spark: SparkSession, rawPath: String) {

  /** The root, named as [[files]] name its data files: a plain path on
    * `file:`, the URI on any other scheme.
    */
  val path: String = FsUtil.name(rawPath)

  /** Physical data files, absolute paths — authoritative (ADR 0001). */
  def files: Seq[String] = FsUtil.listParquet(path)

  /** Dataset-relative file names (hive segments included). */
  def relFiles: Seq[String] = files.map(f => FsUtil.relativize(path, f))

  def isEmpty: Boolean = files.isEmpty

  /** Hive partition column names, inferred from the first file's path
    * (partitioning is uniform across a dataset).
    */
  def partitionColumns: Seq[String] = relFiles.headOption
    .map(f => f.split("/").dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(seg.substring(0, i)) else None
    })
    .getOrElse(Nil)

  /** This version's footer schemas, resolved once; dropped by
    * [[refreshSchema]], which every mutating path (write, swap) calls.
    * An EXTERNAL writer to the same path must use its own instance.
    */
  @volatile private var resolved: Option[ParquetDataset.Resolved] = None

  /** Forget the resolved schema — called after every mutation of the
    * underlying files (the schema can evolve on append, repartition's
    * dateparts, dtype optimization, schema repair).
    */
  def refreshSchema(): Unit = resolved = None

  private def resolve(): ParquetDataset.Resolved = resolved.getOrElse {
    val fs = files
    val perFile = fs.zip(ParquetDataset.footerSchemas(spark, fs)).toMap
    // no files: Spark's own "unable to infer schema" error, as before
    val reader = if (fs.isEmpty) spark.read else spark.read.schema(SchemaOps.unify(fs.map(perFile)))
    val r = ParquetDataset.Resolved(perFile, reader.parquet(path).schema)
    resolved = Some(r)
    r
  }

  /** The [[SchemaOps.unify]] of every file's footer schema in path
    * order, then the hive partition columns: what `spark.read.parquet`
    * infers when the files agree. [[df]], [[scan]], Delete, Merge and
    * compaction all read in it, so a column only a later file carries
    * survives; types Spark cannot read under it fail at read time
    * (`Maintenance.repairSchema` rewrites them). Cost per version: one
    * footer read per file and no Spark job up to
    * `StatsSidecar.SmallSidecarFiles` files, one executor pass beyond.
    */
  def schema: StructType = resolve().schema

  /** Footer schema of one data file (absolute path); a file this
    * version does not know yet re-resolves.
    */
  def schemaOf(file: String): StructType =
    resolve().files.getOrElse(file, { refreshSchema(); resolve().files(file) })

  /** The full lazy scan. Partition discovery and row-group pruning
    * are native; this is the entry point for all relational work.
    */
  def df: DataFrame = spark.read.schema(schema).parquet(path)

  /** The given dataset-relative files, with their partition columns. */
  def read(rel: Seq[String]): DataFrame =
    spark.read.option("basePath", path).schema(schema).parquet(rel.map(f => s"$path/$f"): _*)

  /** SQL-string filter — the reference's whole predicate-translation
    * subsystem collapses into Catalyst (SURVEY §2.2).
    */
  def filter(sql: String): DataFrame = df.filter(Sanitize(sql))

  def count(): Long = stats match {
    // metadata-only count from the sidecar when available (one row
    // group appears once per column — dedupe first)
    case Some(s) =>
      val r = s.select("file_path", "row_group", "rg_num_rows").distinct()
        .agg(sum("rg_num_rows")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    case None => df.count()
  }

  // ---- stats sidecar ------------------------------------------------

  def stats: Option[DataFrame] = StatsSidecar.read(spark, path)

  /** Reconcile the sidecar with the physical files. */
  def updateStats(): DataFrame = StatsSidecar.update(spark, path)

  /** File-level pruned scan: translate the row predicate into a
    * conservative range predicate over the sidecar, read only the
    * surviving files (ALL their rows — no row filtering, matching the
    * reference scan(), pydala/dataset.py:1200-1246).
    */
  def scan(filterSql: String): DataFrame = {
    val all = relFiles
    if (all.isEmpty) return df.limit(0)
    val chosen = ScanPruner.selectFiles(stats, all, Sanitize(filterSql)).getOrElse(all)
    if (chosen.isEmpty) df.limit(0)
    else if (chosen.size == all.size) df
    else read(chosen)
  }

  /** Files a scan(filter) would read — the dry-run face of pruning. */
  def pruneFiles(filterSql: String): Seq[String] = {
    val all = relFiles
    ScanPruner.selectFiles(stats, all, Sanitize(filterSql)).getOrElse(all)
  }

  /** Dataset time range for a timestamp column, metadata-only from the
    * sidecar (reference `SELECT MIN(ts.min), MAX(ts.max)`,
    * pydala/dataset.py:2303-2307). Epoch-micros bounds, None when the
    * sidecar or stats are missing.
    */
  def timeRange(column: String): Option[(Long, Long)] = stats.flatMap { s =>
    // exact lanes; sidecars written before them read back with null
    // min_int/max_int and fall back to the double lane
    def bound(exact: String, num: String) = coalesce(col(exact), col(num).cast("long"))
    val r = s.filter(col("column") === column && col("typ") === "timestamp")
      .agg(min(bound("min_int", "min_num")), max(bound("max_int", "max_num"))).collect()(0)
    if (r.isNullAt(0) || r.isNullAt(1)) None
    else Some((r.getLong(0), r.getLong(1)))
  }

  /** First timestamp column of the schema (reference timestamp-column
    * autodetection, pydala/dataset.py:497-500).
    */
  def timestampColumn: Option[String] =
    schema.fields.find(f =>
      f.dataType == org.apache.spark.sql.types.TimestampType ||
        f.dataType == org.apache.spark.sql.types.TimestampNTZType).map(_.name)

  // ---- write --------------------------------------------------------

  /** Normalizing write (sort → dedupe → cast → dateparts → partitioned
    * parquet) followed by a sidecar refresh.
    */
  def write(data: DataFrame, cfg: WriteConfig = WriteConfig()): Unit = {
    WritePipeline.write(data, path, cfg)
    refreshSchema() // appends can evolve the unified schema
    if (stats.nonEmpty || cfg.mode == "overwrite") updateStats()
  }

  // ---- maintenance --------------------------------------------------

  def vacuum(): Unit = {
    FsUtil.delete(path, files)
    FsUtil.deleteRecursively(StatsSidecar.sidecarPath(path))
    spark.catalog.refreshByPath(path)
    refreshSchema()
  }

  def deleteFiles(rel: Seq[String]): Unit = {
    rel.foreach(Sanitize.relPath)
    FsUtil.delete(path, rel.map(f => s"$path/$f"))
    spark.catalog.refreshByPath(path)
    refreshSchema()
    // keep the sidecar in sync: count()/timeRange()/scan() prefer it, so a
    // stale sidecar would keep serving rows for the files just deleted
    if (stats.nonEmpty) updateStats()
  }
}

object ParquetDataset {

  private final case class Resolved(files: Map[String, StructType], schema: StructType)

  /** Spark schema of each file's footer (`Bridge.footerSchema`), in
    * `files` order, through `StatsSidecar.footers`. The converter is
    * built where the footers are read: a serialized `SQLConf` loses its
    * reader.
    */
  def footerSchemas(spark: SparkSession, files: Seq[String]): Seq[StructType] = {
    val conf = spark.conf.getAll
    StatsSidecar.footers(spark, files) {
      val toSchema = Bridge.footerSchema(conf)
      (_, m) => toSchema(m)
    }
  }
}

/** Filter sanitization (reference pydala/helpers/security.py:118-140):
  * strip comments and NULs, require balanced quotes.
  */
object Sanitize {
  def apply(sql: String): String = {
    val cleaned = stripComments(sql)
      .replace("\u0000", "")
      .trim
    val quotes = cleaned.count(_ == '\'')
    require(quotes % 2 == 0, s"unbalanced quotes in filter: $sql")
    cleaned
  }

  /** Quote-aware comment strip: line/block comment markers INSIDE a
    * quoted region are data, not comments — a blind regex corrupted
    * `name = 'a--b'` to `name = 'a` and then rejected it for the
    * unbalanced quote it had just created. (The reference's sanitizer
    * shares the naive regex; this is a deliberate divergence.) All
    * three SQL quoting forms are tracked: string literals ('…'),
    * backtick identifiers (`…`), and double-quoted identifiers ("…").
    * Escaped quotes follow the doubling convention, which a parity
    * scan handles for free (each half toggles once).
    */
  private def stripComments(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    var quote: Char = 0 // 0 = outside any quoted region
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        out.append(c)
        if (c == quote) quote = 0
        i += 1
      } else if (c == '\'' || c == '`' || c == '"') {
        out.append(c); quote = c; i += 1
      } else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        // line comment: drop to end of line (newline itself survives)
        val nl = sql.indexOf('\n', i)
        i = if (nl < 0) sql.length else nl
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        // a removed block comment leaves a SPACE: plain removal would
        // join its neighbors and could SYNTHESIZE a marker the scan
        // already passed (`-/**/-` → `--`), re-opening the bypass this
        // function exists to close
        out.append(' ')
        val end = sql.indexOf("*/", i + 2)
        i = if (end < 0) sql.length else end + 2
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  /** Dataset-relative path guard (reference security.py:143-244): a
    * user-supplied relative file name must stay inside the dataset
    * root — no traversal segments, no NULs, no absolute paths.
    */
  def relPath(p: String): String = {
    require(!p.contains("\u0000"), "NUL byte in path")
    require(!p.startsWith("/") && !p.matches("^[A-Za-z]:.*"),
      s"absolute path where dataset-relative expected: $p")
    require(!p.split("[/\\\\]").contains(".."), s"path traversal rejected: $p")
    p
  }
}
