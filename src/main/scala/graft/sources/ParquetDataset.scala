package graft.sources

import scala.jdk.CollectionConverters._

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

  /** The version last resolved: its files, what each file's footer
    * says, and the one frame (and Spark `FileIndex`) every read uses.
    * [[df]], [[read]] and [[scan]] check it against a fresh listing;
    * [[schema]] and [[schemaOf]] re-check only after [[refreshSchema]],
    * which every mutating path (write, swap) calls.
    */
  @volatile private var version: Option[ParquetDataset.Version] = None
  @volatile private var checked = false

  private var handed = Map.empty[(String, Long), ParquetDataset.FileFooter]

  /** Forget the resolved schema — called after every mutation of the
    * underlying files (the schema can evolve on append, repartition's
    * dateparts, dtype optimization, schema repair). The footers of
    * files that did not change are carried into the next version, and
    * it adopts those a swap read of the files it `staged`.
    */
  def refreshSchema(staged: Map[(String, Long), ParquetDataset.FileFooter] = Map.empty): Unit =
    synchronized { handed ++= staged; checked = false }

  private def resolve(): ParquetDataset.Version =
    version.filter(_ => checked).getOrElse(current())

  /** The version of the files on disk now: the held one if the listing
    * still matches its key, else a new one that reads only the footers
    * no version or swap has read. A footer the last version held is
    * known by (path, length, modification time); one a swap read while
    * staging by (dataset-relative name, length), since the promoting
    * rename keeps content but not, on an object store, the time. Within
    * `StatsSidecar.SmallSidecarFiles` files and
    * `StatsSidecar.HeldStatRows` stat rows it holds every file's stats,
    * past them the timestamp lane's.
    */
  private def current(): ParquetDataset.Version = synchronized {
    val key = FsUtil.dataFiles(path)
    val v = version.filter(v => v.key == key && v.full == ParquetDataset.fits(key.size, v.statRows)).getOrElse {
      val rel = key.map(k => FsUtil.relativize(path, k._1))
      val had = version.fold(Map.empty[(String, Long, Long), ParquetDataset.FileFooter])(v => v.key.zip(v.footers).toMap)
      val known = key.zip(rel).map { case (k, r) => had.get(k).orElse(handed.get((r, k._2))) }
      // a trimmed footer is read again once the dataset is back within the bounds
      val fits = ParquetDataset.fits(key.size, known.flatten.map(_.statRows).sum)
      val again = key.indices.filter(i => known(i).forall(f => fits && !f.full))
      val budget = if (fits) StatsSidecar.HeldStatRows - known.flatten.filter(_.full).map(_.statRows).sum else 0L
      val read = again.zip(ParquetDataset.footers(spark, path, again.map(key(_)._1), budget)).toMap
      val footers = key.indices.map(i => read.getOrElse(i, known(i).get))
      handed = Map.empty
      // a read comes back full only inside the budget, so all full means it fits
      val held = if (fits && footers.forall(_.full)) footers else footers.map(_.lean)
      new ParquetDataset.Version(key, rel, held,
        // no files: Spark's own "unable to infer schema" error, as before
        if (key.isEmpty) spark.read.parquet(path)
        else spark.read.schema(SchemaOps.unify(held.map(_.schema))).parquet(path))
    }
    version = Some(v)
    checked = true
    v
  }

  /** The [[SchemaOps.unify]] of every file's footer schema in path
    * order, then the hive partition columns: what `spark.read.parquet`
    * infers when the files agree. [[df]], [[scan]], Delete, Merge and
    * compaction all read in it, so a column only a later file carries
    * survives; types Spark cannot read under it fail at read time
    * (`Maintenance.repairSchema` rewrites them). Cost per version: one
    * footer read per new file and no Spark job up to
    * `StatsSidecar.SmallSidecarFiles` files, one executor pass beyond.
    */
  def schema: StructType = resolve().frame.schema

  /** Footer schema of one data file (absolute path); a file this
    * version does not know yet re-resolves.
    */
  def schemaOf(file: String): StructType =
    resolve().schemaOf.getOrElse(file, current().schemaOf(file))

  /** The full lazy scan. Partition discovery and row-group pruning
    * are native; this is the entry point for all relational work.
    */
  def df: DataFrame = Bridge.fileRelation(current().frame, None)

  /** The given dataset-relative files, with their partition columns,
    * through the version's `FileIndex`: no listing and no Spark job
    * however many files.
    */
  def read(rel: Seq[String]): DataFrame = subset(current(), rel)

  private def subset(v: ParquetDataset.Version, rel: Seq[String]): DataFrame = {
    val want = rel.toSet
    val missing = want -- v.relSet
    if (missing.nonEmpty)
      throw new java.io.FileNotFoundException(s"not in dataset $path: ${missing.toSeq.sorted.mkString(", ")}")
    Bridge.fileRelation(v.frame, Option.when(want.size < v.relSet.size) { p =>
      want(FsUtil.relativize(qualifiedPath, FsUtil.name(p)))
    })
  }

  /** The root as Spark's file index names it (absolute, qualified). */
  private lazy val qualifiedPath: String = {
    val p = new org.apache.hadoop.fs.Path(path)
    FsUtil.name(FsUtil.fs(path).makeQualified(p))
  }

  /** SQL-string filter — the reference's whole predicate-translation
    * subsystem collapses into Catalyst (SURVEY §2.2).
    */
  def filter(sql: String): DataFrame = df.filter(Sanitize(sql))

  def count(): Long = sidecarRows() match {
    // metadata-only count from the sidecar when available (one row
    // group appears once per column — dedupe first)
    case Some(Right(rows)) =>
      rows.map(r => (r.file_path, r.row_group, r.rg_num_rows)).distinct.map(_._3).sum
    case Some(Left(s)) =>
      val r = s.select("file_path", "row_group", "rg_num_rows").distinct()
        .agg(sum("rg_num_rows")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    case None => df.count()
  }

  // ---- stats sidecar ------------------------------------------------

  /** The sidecar this instance holds, keyed by the sidecar's part-file
    * listing: handed over by [[updateStats]] or read once on first use.
    * Its rows are held only within `StatsSidecar.SmallSidecarFiles` data
    * files and `StatsSidecar.HeldSidecarBytes`; past them it holds the
    * listing alone, so the bounds are judged once per sidecar.
    */
  @volatile private var held: Option[StatsSidecar.Held] = None

  /** The rows of the sidecar at `key` for a dataset of `files` data
    * files: the held ones, else read in one job and held; None past the
    * bounds. `files` is evaluated only for a sidecar not held.
    */
  private def rowsAt(key: Seq[(String, Long, Long)], files: => Int): Option[Seq[ColStat]] = {
    val h = held.filter(_.key == key).getOrElse(StatsSidecar.load(spark, path, key, files))
    held = Some(h)
    h.rows
  }

  /** The sidecar's held rows, or past the bounds its frame; None
    * without a sidecar.
    */
  private def sidecarRows(): Option[Either[DataFrame, Seq[ColStat]]] =
    StatsSidecar.listing(path).map(key => rowsAt(key, files.size).toRight(StatsSidecar.frame(spark, path)))

  /** The sidecar as a parquet read; None without one. */
  def stats: Option[DataFrame] = StatsSidecar.listing(path).map(_ => StatsSidecar.frame(spark, path))

  /** Whether the dataset has a sidecar (or its aside): a listing, no parquet relation. */
  def hasStats: Boolean =
    StatsSidecar.listing(path).nonEmpty || FsUtil.exists(StatsSidecar.asidePath(path))

  /** Reconcile the sidecar with the physical files of this version. */
  def updateStats(): DataFrame = {
    val v = current()
    val (frame, h) = StatsSidecar.update(spark, path, v.key.map(_._1), v.rows)
    held = h
    frame
  }

  /** What each data file's footer says, in listing order: no footer
    * read for a held version.
    */
  private[graft] def footers: Seq[ParquetDataset.FileFooter] = current().footers

  /** [[footers]] with `column`'s sidecar rows wherever a file has the
    * column: a footer trimmed to the timestamp lane is read again for a
    * column of another lane.
    */
  private[graft] def footersWith(column: String): Seq[ParquetDataset.FileFooter] = {
    val v = current()
    val again = v.footers.indices.filter(i => !v.footers(i).full && !v.footers(i).stats.exists(_.column == column))
    val read = again.zip(ParquetDataset.footers(spark, path, again.map(v.key(_)._1), 0, _.column == column)).toMap
    v.footers.indices.map(i => read.getOrElse(i, v.footers(i)))
  }

  /** The sidecar rows of some columns for [[ScanPruner.select]], read
    * only when it asks; None without a sidecar. `files` is the data-file
    * count the caller has listed.
    */
  private def statRows(files: Int): Option[Seq[String] => Seq[ColStat]] =
    StatsSidecar.listing(path).map(key => cols => rowsAt(key, files) match {
      case Some(rows) =>
        val cs = cols.toSet
        rows.filter(r => cs(r.column))
      case None => StatsSidecar.rows(StatsSidecar.frame(spark, path), Some(cols)).toSeq
    })

  /** File-level pruned scan: translate the row predicate into a
    * conservative range predicate over the sidecar, read only the
    * surviving files (ALL their rows — no row filtering, matching the
    * reference scan(), pydala/dataset.py:1200-1246).
    */
  def scan(filterSql: String): DataFrame = {
    val v = current()
    val chosen = ScanPruner.select(statRows(v.rel.size), v.rel, Sanitize(filterSql)).getOrElse(v.rel)
    if (chosen.isEmpty) subset(v, v.rel).limit(0) else subset(v, chosen)
  }

  /** Files a scan(filter) would read — the dry-run face of pruning. */
  def pruneFiles(filterSql: String): Seq[String] = {
    val all = relFiles
    ScanPruner.select(statRows(all.size), all, Sanitize(filterSql)).getOrElse(all)
  }

  /** Dataset time range for a timestamp column, metadata-only from the
    * sidecar (reference `SELECT MIN(ts.min), MAX(ts.max)`,
    * pydala/dataset.py:2303-2307). Epoch-micros bounds, None when the
    * sidecar or stats are missing.
    */
  def timeRange(column: String): Option[(Long, Long)] = sidecarRows().flatMap {
    // exact lanes; sidecars written before them read back with null
    // min_int/max_int and fall back to the double lane
    case Right(rows) =>
      val ts = rows.filter(r => r.column == column && r.typ == "timestamp")
      val lo = ts.flatMap(r => r.min_int.orElse(r.min_num.map(_.toLong)))
      val hi = ts.flatMap(r => r.max_int.orElse(r.max_num.map(_.toLong)))
      if (lo.isEmpty || hi.isEmpty) None else Some((lo.min, hi.max))
    case Left(s) =>
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
    if (hasStats || cfg.mode == "overwrite") updateStats()
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
    if (hasStats) updateStats()
  }
}

object ParquetDataset {

  /** What one footer says of a data file: its name under the root it
    * was read from, schema, rows, how many sidecar rows its stats make
    * (`statRows`, row groups × columns) and those rows: all of them
    * (`full`) or, past a version's bounds, one lane's alone.
    */
  final case class FileFooter(rel: String, schema: StructType, rows: Long, statRows: Long,
                              stats: Seq[ColStat], full: Boolean) {
    def lean: FileFooter = if (full) copy(stats = stats.filter(Timestamps), full = false) else this
  }

  /** The lane a trimmed footer keeps: compaction's usual `tsCol` bounds. */
  private val Timestamps: ColStat => Boolean = _.typ == "timestamp"

  /** Whether a version of `files` files whose stats make `statRows`
    * rows holds them all.
    */
  private def fits(files: Int, statRows: Long): Boolean =
    files <= StatsSidecar.SmallSidecarFiles && statRows <= StatsSidecar.HeldStatRows

  /** One version of the files on disk: its listing (`key`, with the
    * dataset-relative names `rel`), what each file's footer says, and
    * the frame read in their unified schema, built on first use.
    */
  private final class Version(val key: Seq[(String, Long, Long)], val rel: Seq[String],
                              val footers: Seq[FileFooter], frameOf: => DataFrame) {
    lazy val frame: DataFrame = frameOf
    lazy val relSet: Set[String] = rel.toSet
    lazy val schemaOf: Map[String, StructType] = key.map(_._1).zip(footers.map(_.schema)).toMap
    lazy val full: Boolean = footers.forall(_.full)
    lazy val statRows: Long = footers.map(_.statRows).sum
    /** Every file's sidecar rows, when the version holds them. */
    def rows: Option[Seq[ColStat]] = Option.when(full)(footers.flatMap(_.stats))
  }

  /** Each file's [[FileFooter]], named under `root`, in `files` order,
    * from one `StatsSidecar.footers` pass: full while the stat rows built
    * so far stay within `budget` (none past the driver bound), `lane`'s
    * rows alone after. The schema converter is built where the footers
    * are read: a serialized `SQLConf` loses its reader.
    */
  def footers(spark: SparkSession, root: String, files: Seq[String], budget: Long,
              lane: ColStat => Boolean = Timestamps): Seq[FileFooter] = {
    val conf = spark.conf.getAll
    val room = if (files.size <= StatsSidecar.SmallSidecarFiles) budget else 0L
    StatsSidecar.footers(spark, files) {
      val toSchema = Bridge.footerSchema(conf)
      var left = room
      (f, m) =>
        val blocks = m.getBlocks.asScala
        val n = blocks.map(_.getColumns.size.toLong).sum
        left -= n
        val stats = StatsSidecar.colStats(root, f, m)
        FileFooter(FsUtil.relativize(root, f), toSchema(m), blocks.map(_.getRowCount).sum, n,
          if (left >= 0) stats else stats.filter(lane), left >= 0)
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
