package graft.sources

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.util.SerializableConfiguration

/** One row of the stats sidecar: file × row-group × column min/max
  * statistics — the Spark-native replacement for the reference's
  * `_metadata` / `_file_metadata` sidecars and DuckDB metadata view
  * (pydala/metadata.py:261-262, 1130-1205).
  *
  * min/max are stored in three lanes: `min_num`/`max_num` (double) for
  * numeric, boolean (0/1), date (days) and timestamp (epoch micros)
  * columns; `min_int`/`max_int` keep the EXACT bigint bounds for
  * integral lanes (long/date/timestamp/bool) — the double lane rounds
  * past 2^53 (e.g. nanosecond timestamps), and file pruning must never
  * exclude a file because of that rounding; `min_str`/`max_str` for
  * strings. `typ` records which lane applies and, for temporal types,
  * the unit.
  */
final case class ColStat(
    file_path: String, // dataset-relative
    row_group: Int,
    rg_num_rows: Long,
    rg_bytes: Long,
    column: String,
    typ: String,
    num_values: Long,
    null_count: Long,
    min_num: Option[Double],
    max_num: Option[Double],
    min_str: Option[String],
    max_str: Option[String],
    min_int: Option[Long],
    max_int: Option[Long])

/** Builds and reconciles the `_graft_stats.parquet` sidecar, and owns
  * the management layer's one footer reader, [[footers]].
  *
  * Scale notes: footer collection is metadata I/O, never a data scan —
  * the reference's threaded footer collection (pydala/metadata.py:
  * 105-145) as one size rule: on the driver up to [[SmallSidecarFiles]]
  * files, in one executor pass beyond. Within it, [[update]] writes the
  * rows the dataset version read from each footer once.
  */
object StatsSidecar {

  val SidecarName = "_graft_stats.parquet"

  /** Driver bound: [[footers]] reads up to `SmallSidecarFiles` footers
    * on the driver, and a dataset within it has its sidecar written
    * driver-side by [[update]] (one part file written on the driver)
    * instead of paying the distributed reconcile's per-call fixed cost.
    * The bound is MEASURED, not chosen (the archived sweep in
    * docs/SCALE.md at 256/512/1024/2048 files, min of 9 reps): the fast
    * path wins at every size through 2048 (276–305 ms vs the
    * distributed path's 409–444 ms fixed cost) with a ~16 µs/file
    * slope, so the wall crossover extrapolates to ~10⁴ files — far
    * above this bound; the limit stays 2048 because past it the
    * DRIVER-MEMORY argument (the reason the distributed path exists)
    * starts to matter before the wall does.
    */
  def SmallSidecarFiles: Int =
    sys.props.get("graft.sidecar.small.files").map(_.toInt).getOrElse(2048)

  /** The sidecar rows a `ParquetDataset` holds for its lifetime
    * ([[Held]]) stay under a byte bound: a sidecar decodes to ~17
    * bytes of driver heap per part-file byte
    * (measured in docs/SCALE.md: 264 MiB for a 15.7 MiB sidecar), so
    * 2 MiB holds at most ~35 MiB per instance, beside the dataset
    * version's [[HeldStatRows]].
    */
  val HeldSidecarBytes: Long = 2L * 1024 * 1024

  /** The sidecar rows a dataset version builds from footers and holds
    * (`ParquetDataset.FileFooter`) stay under a row bound, judged before
    * they are built from each footer's row groups × columns: a row
    * retains ~330 B of driver heap (measured in docs/SCALE.md), so
    * 100,000 rows hold about 32 MiB, the heap [[HeldSidecarBytes]]
    * allows held rows. Past it the refresh takes the distributed path.
    */
  val HeldStatRows: Long = 100000L

  def sidecarPath(root: String): String = root.stripSuffix("/") + "/" + SidecarName

  /** Where [[update]] moves the old sidecar while the new one lands. */
  def asidePath(root: String): String = sidecarPath(root) + ".aside"

  /** Finish a sidecar swap a crash cut short: a lone aside goes back
    * into place, one beside a sidecar (the new one landed) is dropped.
    */
  def restore(root: String): Unit =
    if (FsUtil.exists(asidePath(root))) {
      if (FsUtil.exists(sidecarPath(root))) FsUtil.deleteRecursively(asidePath(root))
      else FsUtil.rename(asidePath(root), sidecarPath(root))
    }

  /** Footer-read task count: one task per ~64 files once the listing
    * outgrows 32 tasks. Footer reads are small metadata I/O, and a task
    * per file at 10⁶ files would be pure scheduler overhead (a
    * min(files, 32) cap goes the other way — 30k files per task on huge
    * listings).
    */
  private def footerTasks(files: Int): Int =
    math.max(1, math.min(files, math.max(32, files / 64)))

  /** `reader` applied to every file and its footer, in `files` order —
    * the one footer reader. Up to [[SmallSidecarFiles]] files the footers are read on
    * the driver with no Spark job; beyond, in one executor pass whose
    * tasks get the session's Hadoop configuration. `reader` is
    * evaluated once on the driver or once per task, so a reader can
    * build per-call state (a schema converter) where it runs.
    */
  def footers[T: ClassTag](spark: SparkSession, files: Seq[String])(
      reader: => (String, ParquetMetadata) => T): Seq[T] =
    if (files.size <= SmallSidecarFiles) {
      val (conf, read) = (spark.sparkContext.hadoopConfiguration, reader)
      files.map(f => read(f, footer(conf, f)))
    } else inTasks(spark, files)(reader).collect().toSeq

  /** The executor pass of [[footers]], left distributed. Its tasks get
    * the session's Hadoop configuration: a fresh one there lacks the
    * `spark.hadoop.*` settings (a scheme's filesystem class, an object
    * store's endpoint and credentials).
    */
  private def inTasks[T: ClassTag](spark: SparkSession, files: Seq[String])(
      reader: => (String, ParquetMetadata) => T): RDD[T] = {
    val hadoop = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files, footerTasks(files.size)).mapPartitions { it =>
      val (conf, read) = (hadoop.value, reader)
      it.map(f => read(f, footer(conf, f)))
    }
  }

  /** Bloom-filter footer offsets for `column`: one entry per row
    * group per data file under `root` (−1 = no bloom stamped), in
    * listing order, then block order. Empty-row-group files contribute
    * nothing. Metadata-only — used by the bloom write gate
    * (WriteConfig.bloomFilterCols) and its specs to pin the physical
    * effect across ALL files, not just the lexicographically first.
    */
  def bloomFilterOffsets(spark: SparkSession, root: String,
                         column: String): Seq[Long] =
    footers(spark, FsUtil.listParquet(root)) { (_, m) =>
      m.getBlocks.asScala.toSeq.flatMap { blk =>
        blk.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getBloomFilterOffset)
      }
    }.flatten

  /** One data file's footer — the only place the management layer
    * opens parquet files for metadata. The read options come from
    * `conf`, so callers pass one configuration per driver call or
    * executor task: `ParquetFileReader.open(inputFile)` alone builds a
    * fresh one per file, which costs more than the footer read.
    */
  private def footer(conf: Configuration, file: String): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** The sidecar rows of one data file's footer `m`. */
  def colStats(root: String, absFile: String, m: ParquetMetadata): Seq[ColStat] = {
    val rel = FsUtil.relativize(root, absFile)
    m.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (blk, rg) =>
      blk.getColumns.asScala.toSeq.map { cc =>
        val name = cc.getPath.toDotString
        val pt = cc.getPrimitiveType
        val logical = pt.getLogicalTypeAnnotation
        val stats = cc.getStatistics
        val has = stats != null && stats.hasNonNullValue
        val nulls = if (stats == null || stats.getNumNulls < 0) -1L else stats.getNumNulls

        // integral lanes go through Long EXACTLY; the double lane is a
        // rounded convenience view (exact only below 2^53)
        def ints(f: Any => Long): (Option[Long], Option[Long]) =
          if (has) (Some(f(stats.genericGetMin)), Some(f(stats.genericGetMax))) else (None, None)

        val (typ, minInt, maxInt, minStr, maxStr) = pt.getPrimitiveTypeName match {
          case INT32 =>
            val lane = if (logical.isInstanceOf[DateLogicalTypeAnnotation]) "date" else "long"
            val (mn, mx) = ints(_.asInstanceOf[Integer].toLong)
            (lane, mn, mx, None, None)
          case INT64 =>
            logical match {
              case ts: TimestampLogicalTypeAnnotation =>
                val toMicros: Long => Long = ts.getUnit match {
                  case TimeUnit.MILLIS => v => v * 1000L
                  case TimeUnit.MICROS => v => v
                  case TimeUnit.NANOS => v => v / 1000L
                }
                val (mn, mx) = ints(v => toMicros(v.asInstanceOf[java.lang.Long]))
                ("timestamp", mn, mx, None, None)
              case _ =>
                val (mn, mx) = ints(_.asInstanceOf[java.lang.Long].longValue())
                ("long", mn, mx, None, None)
            }
          case BOOLEAN =>
            val (mn, mx) = ints(v => if (v.asInstanceOf[java.lang.Boolean]) 1L else 0L)
            ("bool", mn, mx, None, None)
          case FLOAT | DOUBLE =>
            ("double", None, None, None, None)
          case BINARY if logical.isInstanceOf[StringLogicalTypeAnnotation] =>
            val (mn, mx) =
              if (has)
                (Some(stats.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8),
                  Some(stats.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
              else (None, None)
            ("string", None, None, mn, mx)
          case other =>
            (other.toString.toLowerCase, None, None, None, None)
        }
        val (minNum, maxNum) = pt.getPrimitiveTypeName match {
          case FLOAT =>
            val (mn, mx) = (if (has) Some(stats.genericGetMin.asInstanceOf[java.lang.Float].toDouble) else None,
              if (has) Some(stats.genericGetMax.asInstanceOf[java.lang.Float].toDouble) else None)
            (mn, mx)
          case DOUBLE =>
            (if (has) Some(stats.genericGetMin.asInstanceOf[java.lang.Double].doubleValue()) else None,
              if (has) Some(stats.genericGetMax.asInstanceOf[java.lang.Double].doubleValue()) else None)
          case _ => (minInt.map(_.toDouble), maxInt.map(_.toDouble))
        }
        ColStat(rel, rg, blk.getRowCount, blk.getTotalByteSize, name, typ,
          cc.getValueCount, nulls, minNum, maxNum, minStr, maxStr, minInt, maxInt)
      }
    }
  }

  /** The sidecar's schema is the fixed [[ColStat]] layout, so reads
    * supply it explicitly: `spark.read.parquet` would otherwise run a
    * footer-inference job per call, and `ds.stats` is consulted on
    * every managed write, scan-prune, and maintenance pass.
    * `asNullable` matches parquet read semantics (Spark reads all
    * parquet columns as nullable).
    */
  private val colStatSchema = org.apache.spark.sql.types.StructType(
    Encoders.product[ColStat].schema.map(f => f.copy(nullable = true)))

  /** The sidecar as a parquet read. */
  def frame(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(colStatSchema).parquet(sidecarPath(root))

  /** The sidecar's part files with their length and modification time
    * (the key its rows are held under), or None without a sidecar.
    * Part file names are never reused, so a sidecar rewritten by anyone
    * lists differently.
    */
  def listing(root: String): Option[Seq[(String, Long, Long)]] = {
    val key = FsUtil.dataFiles(sidecarPath(root))
    Option.when(key.nonEmpty || FsUtil.exists(sidecarPath(root)))(key)
  }

  /** A sidecar's part-file listing and, within the file bound and
    * [[HeldSidecarBytes]], its rows on the driver; past them `rows` is
    * None, so the bounds are judged once per listing.
    */
  final case class Held(key: Seq[(String, Long, Long)], rows: Option[Seq[ColStat]])

  /** A sidecar listed as `key` for a dataset of `files` data files is
    * within the file bound and [[HeldSidecarBytes]].
    */
  private def holdable(key: Seq[(String, Long, Long)], files: => Int): Boolean =
    key.map(_._2).sum <= HeldSidecarBytes && files <= SmallSidecarFiles

  /** The sidecar at `key` for a dataset of `files` data files: its rows
    * read in one job within the bounds for holding them, none past them.
    */
  def load(spark: SparkSession, root: String, key: Seq[(String, Long, Long)], files: => Int): Held =
    Held(key, Option.when(holdable(key, files))(rows(frame(spark, root)).toSeq))

  private val colStatEncoder: Encoder[ColStat] = Encoders.product[ColStat]

  /** Stats rows on the driver, in one job — the reader behind [[load]]
    * and the scan pruner past the driver bound. With `columns`, only
    * those leaf columns' rows are read (an IN filter pushed into the
    * parquet scan).
    */
  def rows(sidecar: DataFrame, columns: Option[Seq[String]] = None): Array[ColStat] =
    columns.fold(sidecar)(cs => sidecar.filter(col("column").isin(cs: _*)))
      .as(colStatEncoder).collect()

  /** `rows` as one snappy part file under `dir`, written on the driver
    * with parquet-hadoop's writer: the parquet schema Spark's writer
    * gives the [[ColStat]] encoder's schema, in Spark's default codec,
    * without its job. Fields are set by name.
    */
  private def writeOnDriver(spark: SparkSession, dir: String, rows: Seq[ColStat]): Unit = {
    val file = new HPath(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Bridge.parquetSchema(spark, colStatEncoder.schema)
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      r.productElementNames.zip(r.productIterator).foreach {
        case (_, None) =>
        case (f, Some(v)) => add(g, f, v)
        case (f, v) => add(g, f, v)
      }
      out.write(g)
    } finally out.close()
  }

  private def add(g: SimpleGroup, f: String, v: Any): Unit = v match {
    case s: String => g.add(f, s)
    case n: Int => g.add(f, n)
    case n: Long => g.add(f, n)
    case d: Double => g.add(f, d)
  }

  /** Reconcile the sidecar with the physical `files` — physical
    * discovery is authoritative (ADR 0001; pydala/metadata.py:809-862):
    * stats for removed files are dropped, new files get footers read,
    * and an empty dataset removes the stale sidecar entirely. `rows`,
    * when the dataset version holds every file's, are written as they
    * are on the driver: no footer and no old sidecar is read. Without
    * them the reconcile is distributed. Returns the new sidecar and its
    * [[Held]] (rows only from the driver path); None once the sidecar is
    * removed.
    */
  def update(spark: SparkSession, root: String, files: Seq[String],
             rows: Option[Seq[ColStat]]): (DataFrame, Option[Held]) = {
    import spark.implicits._
    val p = sidecarPath(root)
    restore(root)
    if (files.isEmpty) {
      FsUtil.deleteRecursively(p)
      return (spark.emptyDataset[ColStat].toDF(), None)
    }
    // staged, then swapped in, so a crash never leaves a torn sidecar.
    // The driver path writes its rows as one part file with no Spark
    // job. The distributed path is DataFrame end-to-end (no ColStat row
    // lands on the driver, only file paths, which it already holds); it
    // reads the old sidecar, still in place, for the retained rows, and
    // its write is sharded for huge listings: ~4k files of stats per
    // output shard keeps each write task bounded without funneling a
    // 10⁶-file dataset's stats through one task.
    val tmp = p + ".tmp"
    FsUtil.deleteRecursively(tmp)
    rows match {
      case Some(rs) => writeOnDriver(spark, tmp, rs)
      case None =>
        val rel = files.map(f => FsUtil.relativize(root, f))
        val existing = listing(root).map(_ => frame(spark, root).join(rel.toDF("file_path"), Seq("file_path"),
          "left_semi")).getOrElse(spark.emptyDataset[ColStat].toDF())
        val known = existing.select("file_path").distinct().as[String]
          .collect().toSet // file-count-sized, not stats-sized
        val freshFiles = files.filterNot(f => known.contains(FsUtil.relativize(root, f)))
        // the fresh files' rows are built on executors and never
        // collected: at 10⁵–10⁶ files a collect is a multi-GB driver load
        val fresh = inTasks(spark, freshFiles)(colStats(root, _, _)).flatMap(identity)
        existing.unionByName(spark.createDataset(fresh).toDF())
          .coalesce(math.max(1, files.size / 4096)).write.mode("overwrite").parquet(tmp)
    }
    // the old sidecar goes aside until the new one is in place, so a
    // crash between the renames leaves one [[restore]] puts back
    if (FsUtil.exists(p)) FsUtil.rename(p, asidePath(root))
    FsUtil.rename(tmp, p)
    FsUtil.deleteRecursively(asidePath(root))
    val now = FsUtil.dataFiles(p)
    (frame(spark, root), Some(Held(now, rows.filter(_ => holdable(now, files.size)))))
  }
}
