package graft

import org.apache.spark.storage.StorageLevel
import graft.core.Tables

/** Storage-lifecycle contracts of the memo/trim layer:
  * trimStorage's stage-2 full reset must never destroy a SIBLING
  * session's caches (localCheckpoint blocks have no lineage to
  * recompute from), and side-effect pins (FrameOps.partitionBy) must
  * be owned by the memo LRU, not leak for the session lifetime.
  */
class TablesSpec extends SparkSpecBase {

  test("trimStorage stage 2 spares a live sibling session's storage") {
    import spark.implicits._
    val sibling = spark.newSession()
    Tables.register(sibling)

    // bystander state on the sibling: a localCheckpoint has truncated
    // lineage — if the context-wide sweep unpersisted it, the frame
    // could never recompute
    val bystander = {
      import sibling.implicits._
      sibling.range(0, 1000).map(i => (i, i * 2)).toDF("k", "v").localCheckpoint()
    }
    assert(bystander.count() == 1000)

    // this session's own memoized frame — stage 1 should evict it
    val mine = Tables.memo(spark, "tablesspec-victim") {
      Seq((1, "a"), (2, "b")).toDF("id", "s")
    }
    assert(mine.count() == 2)
    assert(mine.storageLevel != StorageLevel.NONE)

    try {
      // budget 0: stage 1 must evict this session's memo, and stage 2
      // (context-wide clearCache + persistent-RDD sweep) must be
      // SKIPPED because the registered sibling is alive
      Tables.trimStorage(spark, 0L)

      assert(mine.storageLevel == StorageLevel.NONE,
        "stage 1 should have evicted this session's memoized frame")
      val persistent = spark.sparkContext.getPersistentRDDs.values
      assert(persistent.exists(_.getStorageLevel != StorageLevel.NONE),
        "sibling's localCheckpoint blocks must survive the trim")
      assert(bystander.count() == 1000,
        "sibling's frame must still be readable after the trim")
    } finally {
      bystander.unpersist(true)
      Tables.dropMemos(spark)
      Tables.dropMemos(sibling)
      // don't leave a defunct sibling registered for the rest of the
      // test JVM — it would suppress stage 2 for unrelated suites
      // until a GC cycle forgets it
      Tables.unregister(sibling)
    }
  }

  test("load's schema memo never serves a stale schema for a regenerated path") {
    // round-12 (advisor): the memo is keyed on the path's (mtime,
    // size), so an input REGENERATED at the same path with a different
    // schema must re-infer — a stale memo would read the new column as
    // absent (all-null) forever. Mirrors the set-similarity memo's
    // staleness spec.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-memo-stale").toString
    val p = s"$dir/orders.parquet"
    Seq((1L, "a")).toDF("o_orderkey", "o_comment")
      .write.mode("overwrite").parquet(p)
    assert(Tables.load(spark, dir, "orders").columns.toSeq ==
      Seq("o_orderkey", "o_comment"))
    // regenerate with an EVOLVED schema at the same path
    Seq((2L, "b", 9L)).toDF("o_orderkey", "o_comment", "o_extra")
      .write.mode("overwrite").parquet(p)
    val reread = Tables.load(spark, dir, "orders")
    assert(reread.columns.contains("o_extra"),
      "memo served a stale schema after the path was regenerated")
    assert(reread.select("o_extra").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("load reads a table regenerated with the same directory mtime in its new schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-same-mtime").toString
    val p = s"$dir/orders.parquet"
    Seq((1L, "a")).toDF("o_orderkey", "o_comment").write.mode("overwrite").parquet(p)
    assert(Tables.load(spark, dir, "orders").columns.toSeq == Seq("o_orderkey", "o_comment"))
    val mtime = java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p))
    Seq((2L, "b", 9L)).toDF("o_orderkey", "o_comment", "o_extra")
      .write.mode("overwrite").parquet(p)
    java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(p), mtime)
    val reread = Tables.load(spark, dir, "orders")
    assert(reread.select("o_extra").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("a first load launches no Spark job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-jobs").toString
    Seq((1L, "a")).toDF("o_orderkey", "o_comment").write.parquet(s"$dir/orders.parquet")
    assert(jobsLaunched(Tables.load(spark, dir, "orders")) == 0)
  }

  test("partitionBy's source pin is owned by the memo LRU") {
    import spark.implicits._
    val df = Seq(("x", 1), ("y", 2), ("x", 3)).toDF("cat", "v")
    val parts = graft.functions.FrameOps.partitionBy(df, Seq("cat"))
    assert(parts.size == 2)
    assert(df.storageLevel != StorageLevel.NONE)
    // the pin was adopted: draining the memos releases it — no
    // caller-side unpersist needed
    Tables.dropMemos(spark)
    assert(df.storageLevel == StorageLevel.NONE,
      "partitionBy's pin must be released by the memo drain")
  }
}
