package graft

import org.apache.spark.sql.functions._
import graft.operators.{Delete, Maintenance}
import graft.sources._
import ObjectStoreFs.{Promote, Retire}

/** The object-store write contract, matching the reference's
  * documented best-effort guarantee for fsspec object stores
  * (docs/user-guide/performance.md:127-131: staged output is validated
  * before copying, no atomic reader visibility, no automatic rollback,
  * "failed results retain recovery details for operator cleanup").
  * Every dataset here lives on [[ObjectStoreFs]] (`objstore:`), whose
  * rename is copy+delete — s3a's semantics — and whose failure hook
  * fails a swap mid-flight through the real promote and cleanup paths.
  * In the test names, "degraded rename" is that copy+delete rename and
  * "atomic" the default `file:` filesystem.
  *
  * The pinned contract, on every swap site (Maintenance.compact*,
  * Delete.where via recover):
  *   1. a COMPLETED copy+delete swap is value-identical to the atomic one;
  *   2. a failure mid-swap never loses or tears rows — originals are
  *      deleted only after promote returns, so the worst state is
  *      duplicate visibility of rewritten rows;
  *   3. the failure carries recovery details (landed + still-staged
  *      file lists).
  */
class ObjectStoreContractSpec extends SparkSpecBase {

  import spark.implicits._

  /** A fresh directory, named on the object store. */
  private def osDir(prefix: String): String = ObjectStoreFs.path(tmpDir(prefix))

  test("degraded-rename compaction completes and is value-identical " +
    "to the atomic path") {
    val dir = osDir("osc_cmp")
    val ds = new ParquetDataset(spark, dir)
    (1 to 6).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    assert(ds.files.size == 6)
    Maintenance.compactByRows(ds, maxRowsPerFile = 1000)
    assert(ds.files.size == 1)
    assert(ds.df.select("id", "v").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == (1 to 6).map(i => (i, s"v$i")).toSet)
  }

  test("degraded-rename row-level delete keeps the Delete contract") {
    val dir = osDir("osc_del")
    (1 to 100).map(i => (i.toLong, i % 5)).toDF("k", "m")
      .repartition(4).write.mode("append").parquet(dir)
    val ds = new ParquetDataset(spark, dir)
    val res = Delete.where(ds, "m = 0")
    assert(res.deleted == 20)
    assert(ds.df.filter("m = 0").count() == 0)
    assert(ds.df.count() == 80)
  }

  test("mid-swap failure loses no rows and reports recovery details") {
    val dir = osDir("osc_fail")
    val ds = new ParquetDataset(spark, dir)
    // 6 single-row files in one group → compaction stages a rewrite;
    // maxRowsPerFile=2 forces MULTIPLE staged output files so the
    // failure hook can land between them
    (1 to 6).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val ex = intercept[FsUtil.PromoteFailedException] {
      ObjectStoreFs.failingAfter(Promote, 1) {
        Maintenance.compactByRows(ds, maxRowsPerFile = 2)
      }
    }
    // recovery details: exactly one staged file landed, the rest are
    // named as still staged
    assert(ex.promoted.size == 1, ex.getMessage)
    assert(ex.remaining.nonEmpty, ex.getMessage)
    ex.remaining.foreach(f => assert(FsUtil.exists(f), s"staged file gone: $f"))
    // no row loss and no torn file: originals still cover all 6 rows;
    // the one landed rewrite file may DUPLICATE rows (best-effort
    // visibility — the documented object-store window), never drop any
    val visible = ds.df.select("id").as[Int].collect().toSeq
    assert(visible.toSet == (1 to 6).toSet,
      s"rows lost in the failure window: ${visible.sorted}")
    assert(visible.size >= 6, "originals must survive a mid-swap failure")
  }

  test("degraded-rename merge upsert completes and is value-identical " +
    "to the atomic path") {
    val dir = osDir("osc_mrg")
    (1 to 10).map(i => (i.toLong, s"old$i")).toDF("k", "v")
      .repartition(4).write.mode("append").parquet(dir)
    val ds = new ParquetDataset(spark, dir)
    val src = Seq((3L, "new3"), (7L, "new7"), (11L, "new11")).toDF("k", "v")
    val res = operators.Merge(ds, src, Seq("k"), "upsert")
    assert(res.updated == 2 && res.inserted == 1)
    val got = ds.df.as[(Long, String)].collect().toMap
    assert(got(3L) == "new3" && got(7L) == "new7" && got(11L) == "new11")
    assert(got(1L) == "old1" && got.size == 11)
  }

  test("mid-swap merge failure preserves originals, raises " +
    "PartialMergeError with recovery details, and never refreshes metadata") {
    val dir = osDir("osc_mrgfail")
    // one row per file so the upsert's rewrite stages MULTIPLE output
    // files (every file matches a source key) and the failure hook can
    // land between the per-file renames
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"old$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    val sidecarBefore = ds.stats.get.orderBy("file_path", "row_group", "column")
      .collect().toSeq
    val originals = FsUtil.listParquet(dir)
    val src = (1 to 4).map(i => (i.toLong, s"new$i")).toDF("k", "v")
      .repartition(4)
    val ex = intercept[operators.PartialMergeError] {
      ObjectStoreFs.failingAfter(Promote, 1) {
        operators.Merge(ds, src, Seq("k"), "upsert")
      }
    }
    // recovery details: what landed, what's still staged, which
    // originals were affected
    assert(ex.promoted.size == 1, ex.getMessage)
    assert(ex.remaining.nonEmpty, ex.getMessage)
    assert(ex.affectedFiles.size == 4)
    ex.remaining.foreach(f => assert(FsUtil.exists(f), s"staged file gone: $f"))
    // originals untouched — promote runs strictly before any delete
    originals.foreach(f => assert(FsUtil.exists(f), s"original deleted: $f"))
    // no row loss: every key still visible with its ORIGINAL value
    // (the one landed rewrite file may add duplicate-key visibility —
    // the documented best-effort window — but never replaces/loses)
    spark.catalog.refreshByPath(dir)
    val vis = ds.df.as[(Long, String)].collect().toSeq
    (1 to 4).foreach(i => assert(vis.contains((i.toLong, s"old$i")),
      s"original row $i lost; visible=$vis"))
    // failure preserves managed metadata: the sidecar was NOT refreshed
    val sidecarAfter = ds.stats.get.orderBy("file_path", "row_group", "column")
      .collect().toSeq
    assert(sidecarAfter == sidecarBefore, "sidecar refreshed despite failed swap")
  }

  test("atomic-mode promote is unaffected by the chaos hook being absent") {
    // promote on the default (file:) filesystem, no hook armed: each
    // staged file is renamed into place and gone from staging
    val src = tmpDir("osc_src")
    val dst = tmpDir("osc_dst")
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    val staged = FsUtil.listParquet(src)
    assert(staged.size == 1)
    val moved = FsUtil.promote(src, dst)
    assert(moved.size == 1)
    assert(!FsUtil.exists(staged.head))
    assert(FsUtil.exists(moved.head))
  }

  test("post-promote cleanup failure raises MergeCleanupError with the " +
    "not-yet-deleted originals; rows duplicated, never lost; cleanup " +
    "completes the merge") {
    val dir = osDir("osc_mrgclean")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"old$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, dir)
    val src = (1 to 4).map(i => (i.toLong, s"new$i")).toDF("k", "v")
      .repartition(4)
    val ex = ObjectStoreFs.failingAfter(Retire, 1) {
      intercept[operators.MergeCleanupError] {
        operators.Merge(ds, src, Seq("k"), "update")
      }
    }
    // promote succeeded: the rewrite is durable and complete
    assert(ex.result.updated == 4, ex.getMessage)
    assert(ex.remainingOriginals.size == 3, ex.remainingOriginals)
    // duplicate visibility (documented window), never loss: every key
    // shows its NEW value, and the 3 undeleted originals add old rows
    spark.catalog.refreshByPath(dir)
    val vis = ds.df.as[(Long, String)].collect().toSeq
    (1 to 4).foreach(i => assert(vis.contains((i.toLong, s"new$i")),
      s"rewritten row $i lost; visible=$vis"))
    assert(vis.size == 7, s"expected 4 new + 3 undeleted old, got $vis")
    // operator cleanup per the error's contract finishes the swap
    FsUtil.delete(dir, ex.remainingOriginals.map(f => s"$dir/$f"))
    spark.catalog.refreshByPath(dir)
    assert(ds.df.as[(Long, String)].collect().toSet ==
      (1 to 4).map(i => (i.toLong, s"new$i")).toSet)
  }

  test("parallel promote moves a many-file staging wave completely, " +
    "in listing order, under both modes") {
    for (scheme <- Seq("file", "objstore")) {
      def dir(prefix: String) =
        if (scheme == "file") tmpDir(prefix) else osDir(prefix)
      val src = dir(s"osc_par_src_$scheme")
      val dst = dir(s"osc_par_dst_$scheme")
      (1 to 40).map(i => (i, s"p${i % 4}")).toDF("id", "part")
        .repartition(40).write.partitionBy("part").mode("append").parquet(src)
      val staged = FsUtil.listParquet(src)
      assert(staged.size >= 30, s"want a wide wave, got ${staged.size}")
      val moved = FsUtil.promote(src, dst)
      assert(moved.size == staged.size)
      // listing order preserved slot-for-slot
      staged.zip(moved).foreach { case (s0, d0) =>
        assert(FsUtil.relativize(src, s0) == FsUtil.relativize(dst, d0))
      }
      moved.foreach(f => assert(FsUtil.exists(f), s"missing after promote: $f"))
      assert(!FsUtil.exists(src), "staging dir must be gone")
      assert(spark.read.parquet(dst).count() == 40)
    }
  }

  test("post-promote cleanup failure in compaction raises " +
    "MaintenanceCleanupError with the undeleted originals") {
    val dir = osDir("osc_cmpclean")
    val ds = new ParquetDataset(spark, dir)
    (1 to 4).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val ex = ObjectStoreFs.failingAfter(Retire, 1) {
      intercept[operators.MaintenanceCleanupError] {
        Maintenance.compactByRows(ds, maxRowsPerFile = 1000)
      }
    }
    assert(ex.remainingOriginals.size == 3, ex.remainingOriginals)
    // rewrite durable + duplicates visible, rows never lost
    spark.catalog.refreshByPath(dir)
    val vis = ds.df.as[(Int, String)].collect().toSeq
    (1 to 4).foreach(i => assert(vis.contains((i, s"v$i"))))
    assert(vis.size == 4 + 3, s"4 rewritten + 3 undeleted old: $vis")
    FsUtil.delete(dir, ex.remainingOriginals.map(f => s"$dir/$f"))
    spark.catalog.refreshByPath(dir)
    assert(ds.df.count() == 4)
  }
}
