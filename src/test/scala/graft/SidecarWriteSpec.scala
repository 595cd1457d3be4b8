package graft

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.sources._

/** Within the driver bound `StatsSidecar.update` writes the sidecar's
  * part file on the driver; past it Spark writes it. Both must read
  * back as the same rows and give the same answers.
  */
class SidecarWriteSpec extends SparkSpecBase {

  import spark.implicits._

  private def pastDriverBound[T](f: => T): T = {
    sys.props("graft.sidecar.small.files") = "1"
    try f finally sys.props.remove("graft.sidecar.small.files")
  }

  /** Every stats lane, with nulls and a column that is all null in one
    * file, over two partitions and two appends.
    */
  private def dataset(): ParquetDataset = {
    val ds = new ParquetDataset(spark, tmpDir("sidecar_write"))
    def batch(ks: Range, note: Option[String]) = ks.map { k =>
      (k.toLong, if (k % 5 == 0) None else Some(s"s$k"), k * 0.5, k % 3 == 0,
        new Date(86400000L * k), new Timestamp(1704067200000L + k * 3600000L), note, k % 2)
    }.toDF("k", "s", "d", "b", "dt", "ts", "note", "p")
    ds.write(batch(0 until 30, None), WriteConfig(partitionBy = Seq("p")))
    ds.write(batch(30 until 60, Some("n")), WriteConfig(partitionBy = Seq("p")))
    ds
  }

  private def sidecar(ds: ParquetDataset): Seq[ColStat] =
    StatsSidecar.rows(StatsSidecar.frame(spark, ds.path)).toSeq
      .sortBy(r => (r.file_path, r.row_group, r.column))

  /** The parquet schema in the footer of the sidecar's one part file. */
  private def footerSchema(ds: ParquetDataset) = {
    val Seq((file, _, _)) = FsUtil.dataFiles(StatsSidecar.sidecarPath(ds.path))
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getFileMetaData.getSchema finally in.close()
  }

  /** What a fresh instance answers from the sidecar on disk. */
  private def answers(ds: ParquetDataset) = {
    val fresh = new ParquetDataset(spark, ds.path)
    (fresh.count(), fresh.timeRange("ts"),
      Seq("k < 10", "s = 's7'", "d > 25", "dt >= DATE '1970-02-20'", "p = 1", "note = 'n'")
        .map(fresh.pruneFiles))
  }

  test("sidecar rows written on the driver read back as Spark's write of them") {
    val ds = dataset()
    pastDriverBound(ds.updateStats())
    val (bySpark, sparkAnswers) = (sidecar(ds), answers(ds))
    val sparkSchema = spark.read.parquet(StatsSidecar.sidecarPath(ds.path)).schema
    val sparkFooter = footerSchema(ds)

    ds.updateStats() // the held rows are gone past the bound: reads the sidecar once
    assert(jobsLaunched(ds.updateStats()) == 0)
    assert(sidecar(ds) == bySpark)
    assert(bySpark.exists(_.min_str.isEmpty) && bySpark.exists(_.min_int.nonEmpty) &&
      bySpark.exists(_.min_num.nonEmpty) && bySpark.map(_.typ).toSet.size >= 5)
    assert(answers(ds) == sparkAnswers)
    assert(spark.read.parquet(StatsSidecar.sidecarPath(ds.path)).schema == sparkSchema)
    assert(footerSchema(ds) == sparkFooter)
  }

  test("past the driver bound the sidecar is still Spark's write") {
    val ds = dataset()
    ds.updateStats()
    assert(pastDriverBound(jobsLaunched(ds.updateStats())) >= 1)
    val bySpark = sidecar(ds)
    ds.updateStats()
    assert(sidecar(ds) == bySpark)
  }
}
