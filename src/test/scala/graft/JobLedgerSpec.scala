package graft

import java.sql.Timestamp

import graft.operators.{Delete, Maintenance, Merge}
import graft.sources._

/** The job ledger: how many Spark jobs each lifecycle operation
  * launches on one small partitioned dataset with a stats sidecar, and
  * which data-file footers it opens. Footer reads take no job up to
  * `StatsSidecar.SmallSidecarFiles` files and exactly one past it;
  * compaction planning reads the footers its instance's dataset
  * version already holds, so a held version plans in no job on either
  * side of the bound. The other pins are the operations' current
  * counts, so a change that cuts a job lowers a number here and a
  * change that adds one fails. The fixture's instance holds a dataset
  * version with every file's sidecar rows, read once from each footer
  * (a swap's staged files from the swap's own read), so each
  * operation's sidecar refresh writes the version's rows on the
  * driver: it reads no footer and not the old sidecar. The merges'
  * 10-row sources are held on the driver: one job matches the target,
  * and the staged write's rebalance and write take two.
  */
class JobLedgerSpec extends SparkSpecBase {

  import spark.implicits._

  private val cfg = WriteConfig(partitionBy = Seq("p"))

  private def batch(ks: Range, v: String) = ks.map { k =>
    (k.toLong, s"$v$k", k % 2, new Timestamp(1704067200000L + k * 3600000L))
  }.toDF("k", "v", "p", "ts")

  /** Two appends over two partitions (four data files), with a sidecar,
    * in a local directory named as `on` names it.
    */
  private def fixture(name: String, on: String => String = identity): ParquetDataset = {
    val ds = new ParquetDataset(spark, on(tmpDir(name)))
    ds.write(batch(0 until 40, "v").coalesce(1), cfg)
    ds.write(batch(40 until 80, "v").coalesce(1), cfg)
    ds.updateStats()
    ds
  }

  private def pastDriverBound[T](f: => T): T = {
    sys.props("graft.sidecar.small.files") = "1"
    try f finally sys.props.remove("graft.sidecar.small.files")
  }

  /** Footer readers, each with whether it plans from the version. */
  private val footerReaders: Seq[(String, Boolean, ParquetDataset => Any)] = Seq(
    ("compactPartitions(dryRun)", true, Maintenance.compactPartitions(_, dryRun = true)),
    ("compactByTimeperiod(dryRun)", true, Maintenance.compactByTimeperiod(_, "ts",
      Maintenance.parseInterval("1d"), dryRun = true)),
    ("bloomFilterOffsets", false, ds => StatsSidecar.bloomFilterOffsets(spark, ds.path, "k")))

  footerReaders.foreach { case (name, planner, op) =>
    test(s"$name reads footers in no job below the driver bound and in one past it") {
      val ds = fixture("ledger_footers")
      assert(ds.files.size == 4)
      var onDriver, held, inTasks: Any = null
      assert(jobsLaunched { onDriver = op(ds) } == 0)
      // a planner reads the held version: no footer, past the bound too;
      // a fresh instance's version reads the footers in one executor pass
      val past = if (!planner) ds else {
        assert(pastDriverBound(jobsLaunched { held = op(ds) }) == 0)
        assert(held == onDriver)
        new ParquetDataset(spark, ds.path)
      }
      assert(pastDriverBound(jobsLaunched { inTasks = op(past) }) == 1)
      assert(inTasks == onDriver)
    }
  }

  /** Each operation with its job pin and the new data files it leaves
    * on the fixture: one per partition value it writes (both values
    * here), since partitioned writes are rebalanced by partition.
    */
  private val lifecycle: Seq[(String, Int, Int, ParquetDataset => Any)] = Seq(
    ("append", 2, 2, _.write(batch(80 until 90, "v"), cfg)),
    ("upsert", 3, 2, Merge(_, batch(35 until 45, "new"), Seq("k"), "upsert")),
    ("insert", 3, 2, Merge(_, batch(75 until 85, "new"), Seq("k"), "insert")),
    ("update", 3, 2, Merge(_, batch(35 until 45, "new"), Seq("k"), "update")),
    ("Delete.where", 4, 2, Delete.where(_, "k % 7 = 0")),
    ("compactPartitions", 2, 2, Maintenance.compactPartitions(_)))

  lifecycle.foreach { case (name, jobs, _, op) =>
    test(s"$name launches $jobs Spark jobs") {
      val ds = fixture("ledger_ops")
      assert(jobsLaunched(op(ds)) == jobs)
    }
  }

  lifecycle.foreach { case (name, _, files, op) =>
    test(s"$name leaves $files new files, at most one per partition value") {
      val ds = fixture("ledger_files")
      val before = ds.relFiles.toSet
      op(ds)
      val added = ds.relFiles.filterNot(before)
      assert(added.size == files, added)
      assert(added.map(_.split("/").head).distinct.size == added.size, added)
    }
  }

  lifecycle.foreach { case (name, _, _, op) =>
    test(s"$name opens each new data file's footer once and no other file's (objstore)") {
      val ds = fixture("ledger_opens", ObjectStoreFs.path)
      val before = ds.files.toSet
      val opens = ObjectStoreFs.dataOpens(op(ds))
      val added = ds.files.filterNot(before)
      assert(added.nonEmpty)
      assert(opens == added.map(f => FsUtil.stripScheme(f) -> 1).toMap)
      assert(ObjectStoreFs.dataOpens { ds.df; ds.scan("k >= 85") }.isEmpty)
    }
  }
}
