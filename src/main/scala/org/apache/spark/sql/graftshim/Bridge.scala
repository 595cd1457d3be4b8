package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Column ⇄ Expression bridge. Spark 4 made these converters
  * `private[sql]`; a shim package under org.apache.spark.sql is the
  * standard way for libraries to attach custom Catalyst expressions
  * to the public Column API without a session-extension hook.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run a (possibly transformed) parsed logical plan as a DataFrame —
    * the plan-level equivalent of `spark.sql`, for callers that rewrite
    * relation identifiers before analysis.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a native (codegen-capable) expression under a SQL name —
    * the library-level equivalent of a SparkSessionExtensions
    * injectFunction hook, usable on an already-built session.
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Apply the function injections of a [[SparkSessionExtensions]] to an
    * already-built session — what `spark.sql.extensions` does at build
    * time, exposed for tests and late binding.
    */
  def applyFunctionExtensions(spark: SparkSession,
                              ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.registerFunctions(
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)

  /** `c IN values` as one `InSet` over the values in Catalyst's
    * internal form: one expression however many values, where `isin`
    * builds, analyzes and folds a literal per value. The parquet scan
    * takes it on a column as a pushed IN filter. `values` are external
    * (`Row`) values of `dataType`, without null.
    */
  def inSet(c: Column, dataType: DataType, values: Iterable[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dataType)
    column(InSet(expression(c), values.iterator.map(toCatalyst).toSet))
  }

  /** Spark's size estimate of `df`'s optimized plan is within the
    * session's `spark.sql.autoBroadcastJoinThreshold`, the bound under
    * which it broadcasts a join side; never when that is negative (off).
    */
  def withinBroadcastThreshold(df: DataFrame): Boolean = {
    val bound = df.sparkSession.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold
    bound >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= bound
  }

  /** The parquet schema Spark's parquet writer gives `schema` under the
    * session's settings.
    */
  def parquetSchema(spark: SparkSession, schema: StructType): MessageType =
    new SparkToParquetSchemaConverter(spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .convert(schema)

  /** Spark's footer-to-schema rule under the settings `confs` (a
    * session's `spark.conf.getAll`: plain strings, which an executor
    * task can carry, unlike a `SQLConf`), as schema inference applies
    * it: the Spark row metadata if the writer stored it, else the
    * converted parquet schema; all nullable, as parquet reads are.
    */
  def footerSchema(confs: Map[String, String]): ParquetMetadata => StructType = {
    val conf = new SQLConf
    confs.foreach { case (k, v) => conf.setConfString(k, v) }
    val converter = new ParquetToSparkSchemaConverter(conf)
    m => ParquetFileFormat.readSchemaFromFooter(new Footer(null, m), converter).asNullable
  }

  /** A fresh instance of the file relation `df` reads (new attribute
    * ids, the same `FileIndex`, so no listing), restricted to the files
    * `keep` accepts when given.
    */
  def fileRelation(df: DataFrame, keep: Option[Path => Boolean]): DataFrame =
    ofRows(df.sparkSession, df.queryExecution.analyzed.transform {
      case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        val rel = keep.fold(r)(k => r.copy(location = new SubsetIndex(r.location, k))(r.sparkSession))
        l.copy(relation = rel).newInstance()
    })

  /** `base` seen through a file filter: its listing, partitions and
    * caches are `base`'s; only the files `keep` rejects are left out.
    */
  private final class SubsetIndex(base: FileIndex, keep: Path => Boolean) extends FileIndex {
    override def rootPaths: Seq[Path] = base.rootPaths
    override def partitionSchema: StructType = base.partitionSchema
    override def refresh(): Unit = base.refresh()
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      base.listFiles(partitionFilters, dataFilters)
        .map(d => d.copy(files = d.files.filter(f => keep(f.getPath))))
        .filter(_.files.nonEmpty)
    override def inputFiles: Array[String] =
      base.inputFiles.filter(f => keep(new Path(new java.net.URI(f))))
    override lazy val sizeInBytes: Long = listFiles(Nil, Nil).flatMap(_.files).map(_.getLen).sum
  }
}
