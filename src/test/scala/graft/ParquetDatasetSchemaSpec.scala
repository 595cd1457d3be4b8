package graft

import org.apache.spark.sql.functions._
import graft.operators.{Delete, Maintenance, Merge}
import graft.sources.{ParquetDataset, WriteConfig}

/** The ParquetDataset schema: one per dataset version, the union of
  * every file's footer. `df` must plan with the remembered schema AND
  * every mutating path must invalidate it — a stale memo would read
  * evolved columns as all-null instead of failing. Every reader (scan,
  * Delete, Merge) must read in it, so a column only a later file
  * carries survives every rewrite.
  */
class ParquetDatasetSchemaSpec extends SparkSpecBase {

  import spark.implicits._

  test("df memoizes the resolved schema and write() invalidates it") {
    val dir = tmpDir("pds-memo")
    val ds = new ParquetDataset(spark, dir)
    ds.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), WriteConfig())
    val sc1 = ds.df.schema
    assert(sc1.fieldNames.toSeq == Seq("id", "s"))
    // schema-evolving append: a NEW column arrives. The schema is the
    // union of every footer, and the memoized instance NEVER diverges
    // from what a fresh resolve of the same path would return.
    ds.write(Seq((3L, "c", 9L)).toDF("id", "s", "extra"), WriteConfig())
    val fresh = new ParquetDataset(spark, dir).df.schema
    assert(ds.df.schema == fresh,
      "write() must drop the memoized schema — a stale memo diverges " +
        "from a fresh resolve after an evolving append")
  }

  test("a fresh dataset resolves its schema without a Spark job") {
    val dir = tmpDir("pds-jobs")
    Seq((1L, "a"), (2L, "b")).toDF("id", "cat").write.partitionBy("cat").mode("append").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    assert(jobsLaunched(assert(new ParquetDataset(spark, dir).df.schema == inferred)) == 0)
  }

  /** `cat`-partitioned; only the later partition's file carries
    * `extra`, so the first footer by path does not know it.
    */
  private def evolved(prefix: String): ParquetDataset = {
    val dir = tmpDir(prefix)
    Seq((1, "a"), (2, "a")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    Seq((3, "b", "x3"), (4, "b", "x4")).toDF("id", "cat", "extra").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    new ParquetDataset(spark, dir)
  }

  /** id → extra over every file, read independently of the dataset. */
  private def extras(ds: ParquetDataset): Map[Int, String] =
    spark.read.option("mergeSchema", "true").parquet(ds.path).select("id", "extra")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("an evolved dataset's schema has the column only a later file carries") {
    val ds = evolved("pds-evo")
    assert(ds.df.columns.toSeq == Seq("id", "extra", "cat"))
    assert(ds.df.select("id", "extra").collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> null, 2 -> null, 3 -> "x3", 4 -> "x4"))
  }

  test("Delete.where keeps the later column for the kept rows") {
    val ds = evolved("pds-evo-del")
    assert(Delete.where(ds, "id = 3").deleted == 1)
    assert(extras(ds) == Map(1 -> null, 2 -> null, 4 -> "x4"))
    assert(ds.df.columns.contains("extra"))
  }

  Seq("upsert" -> Map(1 -> null, 2 -> null, 3 -> "y3", 4 -> "x4", 5 -> "y5"),
    "update" -> Map(1 -> null, 2 -> null, 3 -> "y3", 4 -> "x4"),
    "insert" -> Map(1 -> null, 2 -> null, 3 -> "x3", 4 -> "x4", 5 -> "y5")).foreach {
    case (strategy, expected) =>
      test(s"$strategy keeps the later column for kept and source rows") {
        val ds = evolved(s"pds-evo-$strategy")
        Merge(ds, Seq((3, "b", "y3"), (5, "b", "y5")).toDF("id", "cat", "extra"),
          Seq("id"), strategy)
        assert(extras(ds) == expected)
        assert(ds.df.columns.contains("extra"))
      }
  }

  test("past the driver bound, one executor pass resolves the same schema") {
    val ds = evolved("pds-evo-exec")
    val onDriver = ds.schema
    sys.props("graft.sidecar.small.files") = "1"
    val viaExecutors = try {
      val fresh = new ParquetDataset(spark, ds.path)
      assert(jobsLaunched(fresh.schema) == 1)
      fresh.schema
    } finally sys.props.remove("graft.sidecar.small.files")
    assert(viaExecutors == onDriver)
  }

  test("scan(p) of a file subset reads it in the dataset's schema") {
    val ds = evolved("pds-evo-scan")
    ds.updateStats()
    assert(ds.pruneFiles("id >= 3").size == 1)
    val got = ds.scan("id >= 3")
    assert(got.columns.toSeq == ds.df.columns.toSeq)
    assert(got.select("id", "extra").collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(3 -> "x3", 4 -> "x4"))
  }

  test("merge and delete leave the memo consistent with the files") {
    val dir = tmpDir("pds-memo-ops")
    val ds = new ParquetDataset(spark, dir)
    ds.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), WriteConfig())
    ds.df.count() // populate the memo
    val r = Merge(ds, Seq((2L, 21L), (3L, 30L)).toDF("k", "v"),
      Seq("k"), "upsert")
    assert(r.updated == 1 && r.inserted == 1)
    assert(ds.df.orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L)))
    val d = Delete.where(ds, "v >= 30")
    assert(d.deleted == 1)
    assert(ds.df.count() == 2)
  }

  test("maintenance rewrites invalidate the memo (dtype narrowing)") {
    val dir = tmpDir("pds-memo-maint")
    val ds = new ParquetDataset(spark, dir)
    ds.write(Seq((1L, 100L), (2L, 200L)).toDF("id", "v"), WriteConfig())
    ds.df.count() // populate the memo with (id: long, v: long)
    val plan = Maintenance.optimizeDtypes(ds)
    assert(plan.changes.nonEmpty, "the long columns should narrow")
    // a stale memo would supply LongType over SMALLINT-backed files
    val sc = ds.df.schema
    assert(sc("v").dataType != org.apache.spark.sql.types.LongType,
      s"memo must reflect the narrowed schema, got ${sc("v").dataType}")
    assert(ds.df.orderBy("id").select(col("v").cast("long"))
      .as[Long].collect().toSeq == Seq(100L, 200L))
  }
}
