package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import graft.operators.{Delete, Maintenance, Merge}
import graft.sources._

/** The management layer on the Hadoop filesystem of the dataset's
  * scheme: on `file:` every data file keeps its checksum file and no
  * checksum outlives its data file; on an object store (copy+delete
  * rename, [[ObjectStoreFs]]) the lifecycle gives what it gives on
  * `file:`, and footer reads in tasks reach the filesystem through the
  * session's Hadoop settings.
  */
class FileSystemSpec extends SparkSpecBase {

  import spark.implicits._

  /** Every file under `dir`, recursively. */
  private def walk(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  test("rewrites on file: move and delete each data file with its checksum") {
    val dir = tmpDir("fs_crc")
    val ds = new ParquetDataset(spark, dir)
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    Maintenance.compactByRows(ds, maxRowsPerFile = 1000)
    Delete.where(ds, "k = 2")
    Merge(ds, Seq((3L, "new3"), (7L, "v7")).toDF("k", "v"), Seq("k"), "upsert")
    assert(ds.df.as[(Long, String)].collect().toSet ==
      Set(1L -> "v1", 3L -> "new3", 4L -> "v4", 5L -> "v5", 6L -> "v6", 7L -> "v7"))
    val files = walk(new File(dir))
    val orphans = files.filter(f => f.getName.startsWith(".") && f.getName.endsWith(".crc") &&
      !new File(f.getParentFile, f.getName.stripPrefix(".").stripSuffix(".crc")).exists())
    assert(orphans.isEmpty, s"checksums of deleted files: ${orphans.map(_.getName)}")
    ds.files.foreach { f =>
      val crc = new File(new File(f).getParentFile, s".${new File(f).getName}.crc")
      assert(crc.exists(), s"data file without its checksum: $f")
    }
  }

  /** Write, `scan(p)`, upsert, `Delete.where`, an append and
    * `compactPartitions` on the dataset at `root`: each step's rows and
    * data files per partition. The append leaves two files in every
    * partition, so the compaction rewrites each. With `failPromote` the
    * delete and the compaction each fail after one promote rename and
    * `Swap.recover` completes them.
    */
  private def lifecycle(root: String, failPromote: Boolean): Seq[(String, Seq[String], Seq[String])] = {
    val ds = new ParquetDataset(spark, root)
    def batch(ks: Range, v: String) = ks.map(k => (k.toLong, s"$v$k", k % 3)).toDF("k", "v", "p")
    def seen(step: String, d: DataFrame) = (step,
      d.select("k", "v", "p").collect().map(_.mkString("|")).toSeq.sorted,
      ds.relFiles.groupBy(f => f.substring(0, f.lastIndexOf('/')))
        .map { case (p, fs) => s"$p: ${fs.size}" }.toSeq.sorted)
    def promoting(op: => Any): Unit =
      if (failPromote) {
        intercept[FsUtil.PromoteFailedException] {
          ObjectStoreFs.failingAfter(ObjectStoreFs.Promote, 1)(op)
        }
        assert(Swap.recover(ds))
      } else op
    val cfg = WriteConfig(partitionBy = Seq("p"))
    ds.write(batch(0 until 30, "v"), cfg)
    ds.write(batch(30 until 60, "v"), cfg)
    ds.updateStats()
    val written = Seq(seen("write", ds.df), seen("scan", ds.scan("p = 1")))
    Merge(ds, batch(25 until 35, "new"), Seq("k"), "upsert")
    val upserted = seen("upsert", ds.df)
    promoting(Delete.where(ds, "k % 7 = 0"))
    val deleted = seen("delete", ds.df)
    ds.write(batch(60 until 66, "v"), cfg)
    val appended = seen("append", ds.df)
    promoting(Maintenance.compactPartitions(ds))
    written ++ Seq(upserted, deleted, appended, seen("compact", ds.df))
  }

  test("on an object store the lifecycle, with recovery from a failed promote, " +
    "gives the rows and files it gives on file:") {
    val local = lifecycle(tmpDir("fs_file"), failPromote = false)
    val objstore = lifecycle(ObjectStoreFs.path(tmpDir("fs_objstore")), failPromote = true)
    assert(local.map(_._2.size) == Seq(60, 20, 60, 51, 57, 57), local.map(_._3))
    assert(local(4)._3 == Seq("p=0: 2", "p=1: 2", "p=2: 2"), local(4)._3)
    assert(local.last._3 == Seq("p=0: 1", "p=1: 1", "p=2: 1"), local.last._3)
    local.zip(objstore).foreach { case (l, o) =>
      assert(o._2 == l._2, s"${l._1}: rows differ")
      assert(o._3 == l._3, s"${l._1}: files differ")
    }
  }

  test("on an object store, footer reads on executors see the session's Hadoop settings") {
    val dir = tmpDir("fs_tasks")
    Seq(1L -> "a", 2L -> "b").foreach { r =>
      Seq(r).toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, ObjectStoreFs.path(dir))
    assert(ds.files.size == 2)
    // past the driver bound: the schema and the sidecar reconcile read
    // footers in tasks, as bloomFilterOffsets always does
    sys.props("graft.sidecar.small.files") = "1"
    try {
      assert(ds.schema.fieldNames.toSeq == Seq("k", "v"))
      assert(ds.updateStats().select("file_path").distinct().count() == 2)
      assert(StatsSidecar.bloomFilterOffsets(spark, ds.path, "k").size == 2)
    } finally sys.props.remove("graft.sidecar.small.files")
  }
}
