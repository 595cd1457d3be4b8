package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, MergeResult}
import graft.sources._

/** A source within the broadcast threshold merges on the driver, any
  * other through the distributed path; both must give the same
  * `MergeResult` and the same rows. Each case runs on two copies of one
  * dataset (same file names), the second with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which forces the
  * distributed path.
  */
class MergeForkSpec extends SparkSpecBase {

  import spark.implicits._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** At most what a merge on the driver path launches here: a collect
    * of a source that is not a local relation, the match job, and the
    * staged write's rebalance and write. The distributed path runs its
    * dedup, bounds and discovery jobs on top (the threshold at `-1`
    * also turns its broadcasts off, so its counts are not compared).
    */
  private val DriverPathJobs = 4

  private type Rec = (Option[Long], Option[String], Int, String)

  private def frame(rows: Rec*): DataFrame = rows.toDF("a", "b", "p", "v")

  /** Two appends into two partitions with a null `a` and a null `b`,
    * and a sidecar.
    */
  private lazy val base: String = {
    val dir = tmpDir("fork_base")
    val ds = new ParquetDataset(spark, dir)
    val cfg = WriteConfig(partitionBy = Seq("p"))
    ds.write(frame((Some(1L), Some("x"), 0, "a1"), (Some(2L), Some("x"), 1, "a2"),
      (Some(3L), None, 0, "a3")), cfg)
    ds.write(frame((None, Some("y"), 1, "n1"), (Some(4L), Some("y"), 0, "a4"),
      (Some(5L), Some("z"), 1, "a5")), cfg)
    ds.updateStats()
    dir
  }

  private def copy(from: String): String = {
    val (src, dst) = (Paths.get(from), Paths.get(tmpDir("fork")))
    Files.walk(src).forEach { (p: Path) =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst.toString
  }

  /** The result with inserted files named by partition directory (their
    * file names carry each write's job id), and the dataset's rows.
    */
  private def run(source: ParquetDataset => DataFrame, keys: Seq[String], strategy: String) = {
    val ds = new ParquetDataset(spark, copy(base))
    var result: Try[MergeResult] = null
    val jobs = jobsLaunched { result = Try(Merge(ds, source(ds), keys, strategy)) }
    val shown = result.toEither.left.map {
      case e: IllegalArgumentException => e.getMessage
      case e => throw e
    }.map(r => r.copy(insertedFiles = r.insertedFiles.map(_.split("/").head).sorted))
    (shown, ds.df.select("a", "b", "p", "v").collect().map(_.toString).sorted.toSeq, jobs)
  }

  private val cases: Seq[(String, Seq[String], ParquetDataset => DataFrame)] = Seq(
    ("duplicate source keys", Seq("a"), _ => frame((Some(2L), Some("x"), 1, "d1"),
      (Some(9L), Some("q"), 0, "d2"), (Some(2L), Some("x"), 1, "d3"), (Some(9L), Some("q"), 0, "d4"))),
    ("a null key", Seq("a"), _ => frame((None, Some("y"), 1, "nn"), (Some(1L), Some("x"), 0, "u1"),
      (Some(7L), None, 1, "i7"))),
    ("a two-column key", Seq("a", "b"), _ => frame((Some(3L), None, 0, "c1"),
      (Some(1L), Some("w"), 0, "c2"), (Some(4L), Some("y"), 0, "c3"), (None, Some("y"), 1, "c4"))),
    ("a partition change", Seq("a"), _ => frame((Some(2L), Some("x"), 0, "moved"),
      (Some(8L), Some("x"), 0, "i8"))),
    ("a source that reads the dataset", Seq("a"), ds => ds.df.filter("a IN (1, 3)")
      .withColumn("a", col("a") * 3).withColumn("v", concat(col("v"), lit("!")))))

  for ((name, keys, source) <- cases; strategy <- Seq("insert", "update", "upsert"))
    test(s"$strategy with $name: the driver and distributed paths agree") {
      val (onDriver, rowsOnDriver, driverJobs) = run(source, keys, strategy)
      val prev = spark.conf.get(ThresholdKey)
      spark.conf.set(ThresholdKey, "-1")
      val (distributed, rowsDistributed, distributedJobs) =
        try run(source, keys, strategy) finally spark.conf.set(ThresholdKey, prev)
      assert(onDriver == distributed)
      assert(rowsOnDriver == rowsDistributed)
      // the paths did fork: the driver path runs no join
      assert(driverJobs < distributedJobs, s"$driverJobs vs $distributedJobs jobs")
    }

  test("keys matched past the driver path's cap fall back to the distributed path") {
    // 50 files, each holding every key 0..49: the 60 source keys match
    // 2,500 distinct (file, key) pairs, past max(4 × 60, 1,024)
    val dir = tmpDir("fork_repeated")
    spark.range(0, 2500, 1, 50).select(($"id" % 50).as("a"), ($"id" / 50).cast("int").as("f"))
      .write.mode("overwrite").parquet(dir)
    val source = (0L until 60L).map(a => (a, -1)).toDF("a", "f")
    def run(strategy: String) = {
      val ds = new ParquetDataset(spark, copy(dir))
      var result: MergeResult = null
      val jobs = jobsLaunched { result = Merge(ds, source, Seq("a"), strategy) }
      // the staged files' count follows the write's task count, which
      // differs with the join strategies the threshold selects
      (result.copy(insertedFiles = Nil), ds.df.collect().map(_.toString).sorted.toSeq, jobs)
    }
    for (strategy <- Seq("update", "upsert")) {
      val (r, rows, jobs) = run(strategy)
      val prev = spark.conf.get(ThresholdKey)
      spark.conf.set(ThresholdKey, "-1")
      val (dr, dRows, _) = try run(strategy) finally spark.conf.set(ThresholdKey, prev)
      assert(r == dr && rows == dRows)
      assert(r.updated == 50 && r.rewrittenFiles.size == 50)
      assert(jobs > DriverPathJobs, s"$jobs jobs")
    }
  }

  test("a source past SmallSourceKeys keys takes the distributed path") {
    val n = Merge.SmallSourceKeys + 1
    val source: ParquetDataset => DataFrame = _ => spark.range(n)
      .select(($"id" + 1).as("a"), lit("x").as("b"), lit(0).as("p"), lit("big").as("v"))
      .withColumn("p", when($"a".isin(2, 5), 1).otherwise(0)) // keys 1 to 5 keep their partition
    val (onDriver, rows, jobs) = run(source, Seq("a"), "upsert")
    val prev = spark.conf.get(ThresholdKey)
    spark.conf.set(ThresholdKey, "-1")
    val (distributed, dRows, _) = try run(source, Seq("a"), "upsert") finally spark.conf.set(ThresholdKey, prev)
    assert(onDriver == distributed && rows == dRows)
    assert(onDriver.toOption.map(r => (r.sourceCount, r.updated)).contains((n.toLong, 5L)))
    assert(jobs > DriverPathJobs, s"$jobs jobs")
  }

  test("the driver path rejects a partition change and keeps the last duplicate") {
    val (rejected, _, _) = run(cases(3)._3, Seq("a"), "upsert")
    assert(rejected.swap.exists(_.contains("partition value")))
    val (upserted, rows, _) = run(cases.head._3, Seq("a"), "upsert")
    assert(upserted.toOption.map(r => (r.sourceCount, r.updated, r.inserted)).contains((2L, 1L, 1L)))
    assert(rows.exists(_.contains(",d3]")) && rows.exists(_.contains(",d4]")) &&
      !rows.exists(r => r.contains(",d1]") || r.contains(",d2]")))
  }
}
