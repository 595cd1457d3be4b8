package graft

import java.sql.Timestamp

import graft.operators.Delete
import graft.sources._

/** The sidecar swap renames the old sidecar aside, renames the new one
  * into place, then deletes the aside. A crash between the renames
  * leaves the aside alone: the dataset still counts as having stats,
  * and the next managed write or swapping operator puts it back.
  */
class SidecarSwapSpec extends SparkSpecBase {

  import spark.implicits._

  private val cfg = WriteConfig(partitionBy = Seq("p"))

  private def batch(ks: Range) = ks.map { k =>
    (k.toLong, k % 2, new Timestamp(1704067200000L + k * 3600000L))
  }.toDF("k", "p", "ts")

  /** Twenty rows with a sidecar, then the state a crash between the
    * sidecar swap's two renames leaves: the old sidecar aside, none in
    * place.
    */
  private def crashed(dir: String): ParquetDataset = {
    val ds = new ParquetDataset(spark, dir)
    ds.write(batch(0 until 20), cfg)
    ds.updateStats()
    FsUtil.rename(StatsSidecar.sidecarPath(ds.path), StatsSidecar.asidePath(ds.path))
    assert(ds.stats.isEmpty && ds.hasStats)
    ds
  }

  private def sidecarFiles(ds: ParquetDataset): Set[String] =
    ds.stats.get.select("file_path").distinct().as[String].collect().toSet

  Seq("file" -> ((d: String) => d), "objstore" -> ((d: String) => ObjectStoreFs.path(d))).foreach {
    case (scheme, on) =>
      test(s"after a crash mid sidecar swap the next write refreshes the sidecar ($scheme)") {
        val ds = crashed(on(tmpDir("aside_write")))
        ds.write(batch(20 until 30), cfg)
        assert(!FsUtil.exists(StatsSidecar.asidePath(ds.path)))
        assert(sidecarFiles(ds) == ds.relFiles.toSet)
        val fresh = new ParquetDataset(spark, ds.path)
        assert(fresh.count() == 30 && fresh.df.count() == 30)
        assert(fresh.timeRange("ts") == Some((1704067200000000L, 1704067200000000L + 29 * 3600000000L)))
      }

      test(s"recover puts a lone aside back and drops one beside a sidecar ($scheme)") {
        val ds = crashed(on(tmpDir("aside_recover")))
        val files = ds.relFiles.toSet
        Delete.recover(ds)
        assert(!FsUtil.exists(StatsSidecar.asidePath(ds.path)))
        assert(sidecarFiles(ds) == files && ds.count() == 20)
        // the new sidecar landed, the (here empty) aside was not yet deleted
        Seq.empty[ColStat].toDS().write.parquet(StatsSidecar.asidePath(ds.path))
        Delete.recover(ds)
        assert(!FsUtil.exists(StatsSidecar.asidePath(ds.path)))
        assert(sidecarFiles(ds) == files && ds.count() == 20)
      }
  }
}
