package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.operators.Maintenance
import graft.sources._

/** The bounds on what a dataset version holds of its footers. Within
  * `StatsSidecar.SmallSidecarFiles` files and `StatsSidecar.HeldStatRows`
  * stat rows it holds every file's sidecar rows and the refresh writes
  * them on the driver; past either it holds the timestamp lane's alone,
  * the refresh reconciles in Spark, and compaction by a `tsCol` of
  * another lane reads that column's stats again. A footer is carried
  * into the next version only while its file's length and modification
  * time are unchanged.
  */
class FooterBoundSpec extends SparkSpecBase {

  private def pastDriverBound[T](f: => T): T = {
    sys.props("graft.sidecar.small.files") = "1"
    try f finally sys.props.remove("graft.sidecar.small.files")
  }

  /** `files` parquet files of `rowGroups` one-row row groups, each row
    * `cols` long columns, under `dir`: files × row groups × cols stat
    * rows from little data.
    */
  private def manyRowGroups(dir: String, files: Int, rowGroups: Int, cols: Int): Unit =
    spark.range(0, files.toLong * rowGroups, 1, files)
      .select(col("id") +: (1 until cols).map(i => (col("id") * i).as(s"c$i")): _*)
      .write.option("parquet.block.size", 1L).option("parquet.page.size.row.check.min", 1L)
      .option("parquet.page.size.row.check.max", 1L).parquet(dir)

  test("a version past the stat-row bound holds the timestamp lane alone and refreshes in Spark") {
    val dir = tmpDir("bound_rows") + "/ds"
    manyRowGroups(dir, 2, 1000, 51)
    val ds = new ParquetDataset(spark, dir)
    val fs = ds.footers
    assert(fs.map(_.statRows) == Seq(51000L, 51000L))
    assert(fs.map(_.statRows).sum > StatsSidecar.HeldStatRows)
    assert(fs.forall(f => !f.full && f.stats.isEmpty))
    assert(jobsLaunched(ds.updateStats()) >= 1)
    assert(ds.stats.get.count() == 102000L)
    assert(new ParquetDataset(spark, dir).count() == 2000L)
    // back within the bound: the kept file's footer is read again, in full,
    // and the refresh writes the version's rows on the driver
    ds.deleteFiles(Seq(ds.relFiles.head))
    assert(ds.footers.map(f => (f.full, f.stats.size)) == Seq((true, 51000)))
    assert(jobsLaunched(ds.updateStats()) == 0)
    assert(ds.stats.get.count() == 51000L)
    assert(new ParquetDataset(spark, dir).count() == 1000L)
  }

  test("compactByTimeperiod plans by a bigint tsCol past the file bound as within it") {
    val dir = tmpDir("bound_bigint_ts") + "/ds"
    val ds = new ParquetDataset(spark, dir)
    val day = 86400000000L
    Seq(0, 0, 1, 1, 2, 2).foreach { d =>
      ds.write(spark.range(0, 10, 1, 1).select(col("id"), (lit(d * day) + col("id") * 3600000000L).as("at")))
    }
    val plan = Maintenance.compactByTimeperiod(ds, "at", day, dryRun = true)
    assert(plan.groups.nonEmpty)
    assert(pastDriverBound(Maintenance.compactByTimeperiod(ds, "at", day, dryRun = true)) == plan)
    assert(pastDriverBound {
      val fresh = new ParquetDataset(spark, ds.path)
      assert(fresh.footers.forall(f => !f.full && f.stats.isEmpty))
      Maintenance.compactByTimeperiod(fresh, "at", day, dryRun = true)
    } == plan)
  }

  test("a file rewritten in place at the same length is read again") {
    val dir = tmpDir("bound_rewrite")
    def written(lo: Long, to: String) = {
      spark.range(lo, lo + 10, 1, 1).write.option("compression", "none").parquet(s"$dir/$to")
      Paths.get(FsUtil.listParquet(s"$dir/$to").head)
    }
    val (a, b) = (written(0, "a"), written(100, "b"))
    assert(Files.size(a) == Files.size(b))
    val file = Paths.get(dir, "ds", "part-0.parquet")
    Files.createDirectories(file.getParent)
    Files.copy(a, file)
    val ds = new ParquetDataset(spark, file.getParent.toString)
    ds.updateStats()
    assert(ds.pruneFiles("id >= 100").isEmpty)
    Files.copy(b, file, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(file).toMillis + 60000L))
    ds.updateStats()
    assert(ds.footers.flatMap(_.stats).flatMap(_.max_int) == Seq(109L))
    assert(ds.pruneFiles("id >= 100") == Seq("part-0.parquet"))
  }
}
