package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Thin table handle preserving the reference's PydalaTable semantics
  * (reference pydala/table.py:15-51): a unified lazy relation with
  * sort / distinct / limit / select / filter helpers. The reference's
  * backend conversions (to_polars / to_duckdb / to_arrow) all collapse
  * into the one `DataFrame`; `collect`/`toLocalIterator` are the
  * eager exports.
  */
final case class Table(df: DataFrame) {

  def select(cols: String*): Table = Table(df.select(cols.map(col): _*))

  /** SQL-string filter through Catalyst (sanitized). */
  def filter(sql: String): Table = Table(df.filter(Sanitize(sql)))

  /** "a desc, b" style sort, nulls last (pydala/dataset.py:111-113). */
  def sort(spec: String): Table =
    Table(df.orderBy(SortKey.parse(spec).map(_.toColumn): _*))

  /** DISTINCT is applied BEFORE any ORDER BY the caller adds next —
    * the reference pins this ordering guarantee
    * (pydala/table.py:503-513).
    */
  def distinct(): Table = Table(df.dropDuplicates())

  def distinct(subset: Seq[String]): Table = Table(df.dropDuplicates(subset))

  def limit(n: Int): Table = Table(df.limit(n))

  def count(): Long = df.count()

  def collect(): Array[Row] = df.collect()

  /** Incremental batch reader (reference to_batch_reader,
    * pydala/table.py:538-589): a pull-based iterator that fetches one
    * partition at a time — no full materialization on the driver.
    */
  def batchIterator(): Iterator[Row] = df.toLocalIterator().asScala

  /** SQL passthrough with this table registered under `name`
    * (reference PydalaTable.sql, pydala/table.py:940-958).
    */
  def sql(query: String, name: String = "t"): DataFrame = {
    df.createOrReplaceTempView(name)
    df.sparkSession.sql(query)
  }

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}

/** CSV dataset (reference CSVDataset, pydala/dataset.py:2656-2700). */
final class CsvDataset(val spark: SparkSession, val path: String,
                       header: Boolean = true, inferSchema: Boolean = true) {
  def df: DataFrame = spark.read
    .option("header", header.toString)
    .option("inferSchema", inferSchema.toString)
    .csv(path)
  def table: Table = Table(df)
  /** Convert in place to a managed parquet dataset. */
  def toParquet(dest: String, cfg: WriteConfig = WriteConfig()): ParquetDataset = {
    WritePipeline.write(df, dest, cfg)
    new ParquetDataset(spark, dest)
  }
}

/** ORC dataset — same thin handle as CSV/JSON (the reference is
  * parquet-centric; ORC is the columnar sibling Spark supports
  * natively, so a lake that mixes formats reads through one API).
  * Schema, predicate pushdown, and column pruning are native to
  * Spark's ORC source, so every scan-side property documented for
  * parquet (SCALE.md) carries over.
  */
final class OrcDataset(val spark: SparkSession, val path: String) {
  def df: DataFrame = spark.read.orc(path)
  def table: Table = Table(df)
  /** Convert in place to a managed parquet dataset. */
  def toParquet(dest: String, cfg: WriteConfig = WriteConfig()): ParquetDataset = {
    WritePipeline.write(df, dest, cfg)
    new ParquetDataset(spark, dest)
  }
}

/** JSON dataset with optional dtype optimization on load (reference
  * JSONDataset.load, pydala/dataset.py:2750-2774).
  */
final class JsonDataset(val spark: SparkSession, val path: String,
                        optimizeDtypes: Boolean = false) {
  // The dtype proposal costs a data scan (exact bounds) — cache it
  // per physical directory state, not per instance lifetime: a plan
  // computed before new files land could narrow a column below the
  // new values' range (ANSI: the read throws; legacy: silent nulls).
  // The signature is a metadata-only listing (path+size+mtime), so a
  // repeated df access on an unchanged directory pays no data scan.
  @volatile private var dtypeCache:
      Option[(Seq[(String, Long, Long)], Map[String, org.apache.spark.sql.types.DataType])] = None
  // Hadoop FS listing, not java.nio: the dataset path can be any
  // scheme Spark reads (s3a/hdfs/abfs); a local-only walk would
  // return a constant signature there and silently never invalidate.
  private def listSig: Seq[(String, Long, Long)] =
    FsUtil.walk(path).map { case (p, st) => (p.toString, st.getLen, st.getModificationTime) }
      .sortBy(_._1)
  private def dtypeProposal: Map[String, org.apache.spark.sql.types.DataType] = {
    val sig = listSig
    dtypeCache match {
      case Some((s, p)) if s == sig => p
      case _ =>
        val p = graft.functions.SchemaOps.optDtype(spark.read.json(path))
        dtypeCache = Some((sig, p))
        p
    }
  }
  def df: DataFrame = {
    val raw = spark.read.json(path)
    if (!optimizeDtypes) raw
    else dtypeProposal.foldLeft(raw) { case (d, (c, t)) =>
      d.withColumn(c, col(c).cast(t))
    }
  }
  def table: Table = Table(df)
}
