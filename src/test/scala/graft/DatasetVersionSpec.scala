package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Delete, DeleteResult}
import graft.sources._

/** One dataset version held by `ParquetDataset`: reads go through its
  * one `FileIndex`, pruning, `count()` and `timeRange()` decide from the
  * sidecar rows it holds, and neither is ever served once the files or
  * the sidecar change on disk, whoever changed them.
  */
class DatasetVersionSpec extends SparkSpecBase {

  import spark.implicits._

  /** Rows `ids` as (id, amount = id % 13, ts = one hour per id). */
  private def batch(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, (i % 13).toLong, new Timestamp(1704067200000L + i * 3600000L))
  }.toDF("id", "amount", "ts").coalesce(1)

  /** `n` single-file appends of 5 rows each, ids 0 until 5n. */
  private def manyFiles(dir: String, n: Int): ParquetDataset = {
    val ds = new ParquetDataset(spark, dir)
    (0 until n).foreach(i => ds.write(batch(5 * i until 5 * i + 5), WriteConfig()))
    ds
  }

  private def pastDriverBound[T](f: => T): T = {
    sys.props("graft.sidecar.small.files") = "1"
    try f finally sys.props.remove("graft.sidecar.small.files")
  }

  /** id → dataset-relative file, read independently of the dataset. */
  private def fileOf(ds: ParquetDataset): Map[Long, String] =
    spark.read.parquet(ds.path).select(col("id"), input_file_name()).as[(Long, String)]
      .collect().map { case (id, f) => id -> FsUtil.relativize(ds.path, f) }.toMap

  test("read over more than 32 files launches no job and reads exactly those files") {
    val dir = tmpDir("ver_many")
    val ds = manyFiles(dir, 40)
    val chosen = ds.relFiles.take(35)
    assert(chosen.size == 35)
    // a path list past 32 entries makes Spark list in a job of its own
    assert(jobsLaunched(spark.read.option("basePath", dir).schema(ds.schema)
      .parquet(chosen.map(f => s"$dir/$f"): _*)) >= 1)
    var got: DataFrame = null
    assert(jobsLaunched { got = ds.read(chosen) } == 0)
    val wanted = fileOf(ds).collect { case (id, f) if chosen.contains(f) => id }.toSet
    assert(wanted.size == 175)
    assert(got.count() == ds.df.filter(col("id").isin(wanted.toSeq: _*)).count())
    assert(got.select("id").as[Long].collect().toSet == wanted)
    assert(got.inputFiles.map(f => FsUtil.relativize(dir, f)).toSet == chosen.toSet)
  }

  test("read of a file the dataset does not hold fails loudly") {
    val ds = manyFiles(tmpDir("ver_missing"), 2)
    intercept[java.io.FileNotFoundException](ds.read(Seq("no-such-file.parquet")))
  }

  test("Delete.where with a predicate no file can match launches no job") {
    val ds = manyFiles(tmpDir("ver_del"), 4)
    ds.updateStats()
    val all = ds.relFiles
    var r: DeleteResult = null
    assert(jobsLaunched { r = Delete.where(ds, "amount < 0") } == 0)
    assert(r == DeleteResult(0, Nil, all))
    assert(ds.relFiles == all && ds.df.count() == 20)
  }

  test("count() and timeRange() come from held rows in no job and match the frame path") {
    val ds = manyFiles(tmpDir("ver_count"), 4)
    ds.updateStats()
    var n = 0L
    var range: Option[(Long, Long)] = None
    assert(jobsLaunched { n = ds.count(); range = ds.timeRange("ts") } == 0)
    assert(n == 20)
    assert(range == Some((1704067200000000L, 1704067200000000L + 19 * 3600000000L)))
    assert(ds.timeRange("id").isEmpty)
    // past the driver bound nothing is held: every call reads the sidecar
    pastDriverBound {
      val fresh = new ParquetDataset(spark, ds.path)
      assert(jobsLaunched(assert(fresh.count() == n)) >= 1)
      assert(jobsLaunched(assert(fresh.timeRange("ts") == range)) >= 1)
      assert(jobsLaunched(fresh.count()) >= 1)
      assert(fresh.timeRange("id").isEmpty)
    }
  }

  test("rows of a sidecar past the held-rows bound are read on every call, not held") {
    val dir = tmpDir("ver_heldbound")
    val n = 150000L
    // one row group of 10 rows per sidecar row, random (incompressible) bounds
    spark.range(n).select(
      concat(lit("f"), (col("id") / 8).cast("string"), lit(".parquet")).as("file_path"),
      (col("id") % 8).cast("int").as("row_group"), lit(10L).as("rg_num_rows"),
      lit("id").as("column"), lit("long").as("typ"),
      (rand(1) * 1e15).cast("long").as("min_int"), (rand(2) * 1e15).cast("long").as("max_int"),
      rand(3).as("min_num"), rand(4).as("max_num"))
      .coalesce(1).write.parquet(StatsSidecar.sidecarPath(dir))
    val bytes = StatsSidecar.listing(dir).get.map(_._2).sum
    assert(bytes > StatsSidecar.HeldSidecarBytes && bytes <= 16L * 1024 * 1024)
    val ds = new ParquetDataset(spark, dir)
    assert(jobsLaunched(assert(ds.count() == 10 * n)) >= 1)
    assert(jobsLaunched(assert(ds.count() == 10 * n)) >= 1)
  }

  Seq("file" -> ((d: String) => d), "objstore" -> ((d: String) => ObjectStoreFs.path(d))).foreach {
    case (scheme, on) =>
      test(s"an instance sees another instance's append and sidecar refresh ($scheme)") {
        val a = manyFiles(on(tmpDir("ver_stale")), 2)
        a.updateStats()
        // a holds its version and the sidecar rows
        assert(a.df.count() == 10 && a.count() == 10)
        assert(a.scan("id >= 100").count() == 0)
        val old = a.pruneFiles("id < 100")
        assert(old.size == 2)

        val b = new ParquetDataset(spark, a.path)
        b.write(batch(100 until 110), WriteConfig()) // refreshes the sidecar
        val added = b.relFiles.filterNot(old.contains)
        assert(added.size == 1)

        assert(a.df.count() == 20)
        assert(a.count() == 20)
        assert(a.pruneFiles("id >= 100") == added)
        // the new file's stats, not only its presence, prune it away
        assert(a.pruneFiles("id < 100") == old)
        assert(a.scan("id >= 100").select("id").as[Long].collect().toSet == (100L until 110L).toSet)
      }

      test(s"a sidecar rewritten behind an instance is never served from held rows ($scheme)") {
        val ds = manyFiles(on(tmpDir("ver_behind")), 2)
        ds.updateStats()
        assert(ds.pruneFiles("id < 5").size == 1 && ds.count() == 10)
        // every row group claims ids in [1000, 1000] and twice its rows
        val sidecar = StatsSidecar.sidecarPath(ds.path)
        StatsSidecar.rows(spark.read.parquet(sidecar)).toSeq.map { r =>
          if (r.column != "id") r.copy(rg_num_rows = 2 * r.rg_num_rows)
          else r.copy(rg_num_rows = 2 * r.rg_num_rows, min_num = Some(1000.0), max_num = Some(1000.0),
            min_int = Some(1000L), max_int = Some(1000L))
        }.toDF().coalesce(1).write.mode("overwrite").parquet(sidecar)
        assert(ds.pruneFiles("id < 5").isEmpty)
        assert(ds.count() == 20)
        assert(ds.stats.get.filter($"column" === "id").select("min_int").as[Long].collect().toSet == Set(1000L))
      }
  }
}
