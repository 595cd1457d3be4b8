package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Maintenance
import graft.sources._

/** Pins the maintenance contract (reference
  * tests/test_fsspeckit_maintenance.py): dry-run purity, compaction,
  * repartition, dtype optimization, schema repair.
  */
class MaintenanceSpec extends SparkSpecBase {

  import spark.implicits._

  test("compactByRows: merges small files; dry-run is pure") {
    val dir = tmpDir("cmp")
    val ds = new ParquetDataset(spark, dir)
    (1 to 5).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    assert(ds.files.size == 5)

    val plan = Maintenance.compactByRows(ds, maxRowsPerFile = 1000, dryRun = true)
    assert(plan.groups.size == 1 && plan.plannedFiles.size == 5)
    assert(ds.files.size == 5) // dry run touched nothing

    Maintenance.compactByRows(ds, maxRowsPerFile = 1000)
    assert(ds.files.size == 1)
    assert(ds.df.count() == 5)
  }

  test("compactPartitions: only multi-file small partitions rewrite; ordered") {
    val dir = tmpDir("cmpp")
    val ds = new ParquetDataset(spark, dir)
    // partition a: two files; partition b: one file
    Seq((3, "a"), (1, "a")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    Seq((2, "a")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    Seq((9, "b")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)

    val plan = Maintenance.compactPartitions(ds, maxRowsPerFile = 100,
      sortBy = Seq(SortKey("id")))
    assert(plan.groups.map(_.partition) == Seq("cat=a"))
    val aFiles = ds.files.filter(_.contains("cat=a"))
    assert(aFiles.size == 1)
    // ordered rewrite: rows inside the compacted file are sorted
    val ids = spark.read.parquet(aFiles.head).select("id").collect().map(_.getInt(0))
    assert(ids.toSeq == Seq(1, 2, 3))
    assert(ds.files.count(_.contains("cat=b")) == 1)
  }

  test("compactByTimeperiod: one group per interval window; dry-run pure") {
    val dir = tmpDir("cmpt")
    val ds = new ParquetDataset(spark, dir)
    def part(day: Int, hour: Int): Unit =
      Seq((day * 10 + hour, java.sql.Timestamp.valueOf(f"2024-03-0$day $hour%02d:00:00")))
        .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dir)
    part(1, 1); part(1, 2); part(2, 1); part(2, 2)
    assert(ds.files.size == 4)

    val dayMicros = Maintenance.parseInterval("1d")
    val plan = Maintenance.compactByTimeperiod(ds, "ts", dayMicros, dryRun = true)
    assert(plan.groups.size == 2, plan)
    assert(plan.plannedFiles.toSet.size == 4)
    assert(ds.files.size == 4) // dry run touched nothing

    Maintenance.compactByTimeperiod(ds, "ts", dayMicros)
    assert(ds.files.size == 2)
    assert(ds.df.count() == 4)
    // each surviving file holds exactly one window's rows, time-sorted
    ds.files.foreach { f =>
      val days = spark.read.parquet(f).select(dayofmonth(col("ts"))).collect()
        .map(_.getInt(0)).toSet
      assert(days.size == 1, s"$f spans days $days")
    }
  }

  test("repartition: rewrite into a new hive layout with dateparts") {
    val dir = tmpDir("rep")
    val ds = new ParquetDataset(spark, dir)
    Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
      (2, java.sql.Timestamp.valueOf("2024-02-20 00:00:00")))
      .toDF("id", "ts").write.mode("append").parquet(dir)

    Maintenance.repartition(ds, partitionBy = Seq("year", "month"),
      datepartsFrom = Some("ts"), dateparts = Seq("year", "month"))
    assert(ds.partitionColumns == Seq("year", "month"))
    assert(ds.relFiles.exists(_.startsWith("year=2024/month=1/")))
    assert(ds.relFiles.exists(_.startsWith("year=2024/month=2/")))
    assert(ds.df.count() == 2)
  }

  test("optimizeDtypes: narrows types; dry-run returns plan only") {
    val dir = tmpDir("opt")
    val ds = new ParquetDataset(spark, dir)
    Seq((1L, "42"), (2L, "7")).toDF("n", "s").write.mode("append").parquet(dir)

    val plan = Maintenance.optimizeDtypes(ds, dryRun = true)
    assert(plan.changes.map(c => c.column -> c.to).toMap ==
      Map("n" -> "tinyint", "s" -> "tinyint"))
    assert(ds.df.schema("n").dataType == LongType) // untouched

    Maintenance.optimizeDtypes(ds)
    val sch = ds.df.schema
    assert(sch("n").dataType == ByteType && sch("s").dataType == ByteType)
    assert(ds.df.count() == 2)
  }

  test("optimizeDtypes: removeTz strips instants to wall clocks in the given zone") {
    val dir = tmpDir("opttz")
    val ds = new ParquetDataset(spark, dir)
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T03:00:00Z"))
    Seq((1L, t)).toDF("id", "ts").write.mode("append").parquet(dir)

    val plan = Maintenance.optimizeDtypes(ds, tz = Some("America/New_York"),
      removeTz = true, dryRun = true)
    assert(plan.changes.exists(c => c.column == "ts" && c.to == "timestamp_ntz"))
    assert(ds.df.schema("ts").dataType == TimestampType) // dry run untouched

    Maintenance.optimizeDtypes(ds, tz = Some("America/New_York"), removeTz = true)
    val back = ds.df
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // 03:00 UTC renders as the previous evening in New York — the
    // requested zone, NOT the (UTC) session zone
    assert(back.selectExpr("cast(ts as string)").head().getString(0)
      == "2023-12-31 22:00:00")
  }

  test("repairSchema: divergent files rewritten to the unified schema") {
    val dir = tmpDir("rep2")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, 1.5f)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, 2.5)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)

    val plan = Maintenance.repairSchema(ds, dryRun = true)
    assert(plan.candidates.size == 1) // the (int,float) file diverges from (long,double)
    Maintenance.repairSchema(ds)
    val sch = spark.read.option("mergeSchema", "true").parquet(dir).schema
    assert(sch("id").dataType == LongType && sch("v").dataType == DoubleType)
    assert(ds.df.count() == 2)
  }

  test("vacuum removes data files and sidecar") {
    val dir = tmpDir("vac")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    ds.updateStats()
    assert(ds.stats.nonEmpty)
    ds.vacuum()
    assert(ds.isEmpty && ds.stats.isEmpty)
  }

  test("stats update reconciles added and removed files") {
    val dir = tmpDir("recon")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    ds.updateStats()
    Seq((2, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val first = ds.files.head
    ds.updateStats()
    assert(ds.stats.get.select("file_path").distinct().count() == 2)
    FsUtil.delete(dir, Seq(first))
    ds.updateStats()
    assert(ds.stats.get.select("file_path").distinct().count() == 1)
    // empty dataset removes the stale sidecar
    FsUtil.delete(dir, ds.files)
    ds.updateStats()
    assert(ds.stats.isEmpty)
  }

  test("optimizeDtypes plans from exact bounds — a prefix-biased sample cannot produce a lossy width") {
    val dir = tmpDir("exact")
    val ds = new ParquetDataset(spark, dir)
    // head file looks byte-sized; a later file overflows byte AND
    // short — a sample-planned width would be lossy here and strict
    // mode would reject the whole rewrite at exactly the scale where
    // narrowing matters (the key-sorted-layout failure seen at sf0.1)
    Seq.tabulate(5)(i => (i.toLong, i.toString)).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((99999L, "99999")).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(dir)
    ds.updateStats()

    val plan = Maintenance.optimizeDtypes(ds, sampleRows = 5, strict = true)
    assert(plan.changes.map(c => c.column -> c.to).toSet ==
      Set("n" -> "int", "s" -> "int"))
    assert(ds.df.schema("n").dataType == org.apache.spark.sql.types.IntegerType)
    assert(ds.df.select("n").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(0, 1, 2, 3, 4, 99999))
  }

  test("failed staged rewrite preserves data and sidecar (failure contract)") {
    import java.sql.Timestamp
    val dir = tmpDir("fail")
    val ds = new ParquetDataset(spark, dir)
    Seq(Timestamp.valueOf("2024-03-01 10:00:00"))
      .toDF("ts").coalesce(1).write.mode("append").parquet(dir)
    ds.updateStats()
    val statsBefore = ds.stats.get.collect().length
    val filesBefore = ds.relFiles

    // the tz transform executes INSIDE the staged write; an invalid
    // zone fails there, after planning — the staged-swap contract must
    // leave originals and sidecar untouched
    intercept[graft.operators.StagedRewriteException] {
      Maintenance.optimizeDtypes(ds, tz = Some("Not/AZone"), removeTz = true)
    }
    assert(ds.relFiles == filesBefore)
    assert(ds.stats.get.collect().length == statsBefore)
    assert(ds.df.count() == 1)
  }

  test("interval parsing") {
    assert(Maintenance.parseInterval("1d") == 86400000000L)
    assert(Maintenance.parseInterval("6h") == 6L * 3600000000L)
  }

  test("z-order clustering prunes on BOTH dimensions, linear sort on one") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    val grid = rnd.shuffle((0 until 64).flatMap(x => (0 until 64).map(y => (x, y))))

    // linear layout: sorted by x only
    val linDir = tmpDir("zlin")
    grid.toDF("x", "y").orderBy(col("x"))
      .write.mode("overwrite").option("maxRecordsPerFile", 512).parquet(linDir)
    val lin = new ParquetDataset(spark, linDir)
    lin.updateStats()

    // z-order layout: same data, morton-clustered
    val zDir = tmpDir("zord")
    grid.toDF("x", "y").write.mode("overwrite").parquet(zDir)
    val zds = new ParquetDataset(spark, zDir)
    zds.updateStats()
    Maintenance.zorder(zds, "x", "y", maxRowsPerFile = 512)
    assert(zds.df.count() == 4096) // rewrite lost nothing

    // a y-only slab: the linear layout cannot prune it (every file spans
    // all of y); the z-order layout keeps bounded y envelopes per file
    val pred = "y >= 16 AND y < 24"
    val linSurvivors = lin.pruneFiles(pred).size
    val zSurvivors = zds.pruneFiles(pred).size
    assert(linSurvivors == lin.relFiles.size, s"linear pruned unexpectedly: $linSurvivors")
    assert(zSurvivors < linSurvivors,
      s"z-order should prune: $zSurvivors vs $linSurvivors")
    // and pruning stays sound
    assert(zds.scan(pred).filter(pred).count() == 64 * 8)
  }

  test("mortonKeyN: 2-column form routes to the masked ladder; N=3 matches a bit-level reference") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(1 << 20).toLong,
      rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val df = rows.toDF("a", "b", "c")

    val two = df.select(
      Maintenance.mortonKey(col("a"), col("b")).as("m"),
      Maintenance.mortonKeyN(Seq(col("a"), col("b"))).as("mn"))
      .collect()
    two.foreach(r => assert(r.getLong(0) == r.getLong(1)))

    // reference interleave: bit i of column j -> position i*3 + j
    def ref(vs: Seq[Long]): Long = {
      val bitsPer = 64 / vs.size
      vs.zipWithIndex.map { case (v, j) =>
        (0 until bitsPer).map(i => (((v >> i) & 1L) << (i * vs.size + j))).reduce(_ | _)
      }.reduce(_ | _)
    }
    val three = df.select(col("a"), col("b"), col("c"),
      Maintenance.mortonKeyN(Seq(col("a"), col("b"), col("c"))).as("m")).collect()
    three.foreach { r =>
      assert(r.getLong(3) == ref(Seq(r.getLong(0), r.getLong(1), r.getLong(2))),
        s"mismatch at (${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)})")
    }
  }

  test("zorderN over three columns keeps bounded envelopes on EVERY dimension") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val cube = rnd.shuffle(for {
      x <- 0 until 16; y <- 0 until 16; z <- 0 until 16
    } yield (x, y, z))

    val zDir = tmpDir("zord3")
    cube.toDF("x", "y", "z").write.mode("overwrite").parquet(zDir)
    val zds = new ParquetDataset(spark, zDir)
    zds.updateStats()
    Maintenance.zorderN(zds, Seq("x", "y", "z"), maxRowsPerFile = 512)
    assert(zds.df.count() == 4096)

    // a thin slab on EACH dimension must prune below the full file set
    for (dim <- Seq("x", "y", "z")) {
      val pred = s"$dim >= 4 AND $dim < 6"
      val survivors = zds.pruneFiles(pred).size
      assert(survivors < zds.relFiles.size,
        s"z-order on 3 cols should prune a $dim slab: $survivors/${zds.relFiles.size}")
      assert(zds.scan(pred).filter(pred).count() == 2 * 16 * 16)
    }
  }

  test("compactByTimeperiod fails LOUDLY when a file carries no tsCol " +
    "column chunk at all (schema evolution)") {
    val dir = tmpDir("cmpt_nots")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, java.sql.Timestamp.valueOf("2024-03-01 01:00:00")))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dir)
    // evolved writer dropped the ts column: this file has NO ts chunk,
    // so no stats row exists to inspect — it must not silently vanish
    // from every plan forever
    Seq(Tuple1(2)).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val ex = intercept[IllegalArgumentException] {
      Maintenance.compactByTimeperiod(ds, "ts", Maintenance.parseInterval("1d"),
        dryRun = true)
    }
    assert(ex.getMessage.contains("no ts column chunk"), ex.getMessage)
  }

  test("compactByTimeperiod fails LOUDLY on an all-NULL tsCol file " +
    "(one-sided/absent bounds)") {
    val dir = tmpDir("cmpt_null")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, Some(java.sql.Timestamp.valueOf("2024-03-01 01:00:00"))))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dir)
    Seq((2, Option.empty[java.sql.Timestamp]))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dir)
    val ex = intercept[IllegalArgumentException] {
      Maintenance.compactByTimeperiod(ds, "ts", Maintenance.parseInterval("1d"),
        dryRun = true)
    }
    assert(ex.getMessage.contains("min/max statistics"), ex.getMessage)
  }

  test("compaction keeps a column a later append added") {
    val dir = tmpDir("cmp_evolved")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    Seq((2, "b")).toDF("id", "cat").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    Seq((3, "b", "x3")).toDF("id", "cat", "extra").coalesce(1)
      .write.partitionBy("cat").mode("append").parquet(dir)
    // the first file by path (in cat=a) does not know the column the
    // cat=b group carries; the dataset's schema, from every footer, does
    assert(ds.df.columns.contains("extra"))
    val plan = Maintenance.compactPartitions(ds)
    assert(plan.groups.map(_.partition) == Seq("cat=b"))
    assert(ds.files.count(_.contains("cat=b")) == 1)
    val all = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(all.select("id", "extra").collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> null, 2 -> null, 3 -> "x3"))
  }

  test("repairSchema: a failed original-delete after promote is loud, " +
    "and recovery retires the original") {
    val dir = tmpDir("rep_clean")
    val ds = new ParquetDataset(spark, ObjectStoreFs.path(dir))
    Seq((1, 1.5f)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, 2.5)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val ex = ObjectStoreFs.failingAfter(ObjectStoreFs.Retire, 0) {
      intercept[graft.operators.MaintenanceCleanupError] {
        Maintenance.repairSchema(ds)
      }
    }
    assert(ex.remainingOriginals.size == 1, ex.remainingOriginals)
    assert(graft.operators.Delete.recover(ds))
    assert(ds.df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(!new java.io.File(dir).list().exists(_.startsWith("_tmp_")))
  }

  test("repairSchema: a file whose cast fails stays intact; the others are repaired") {
    val dir = tmpDir("rep_iso")
    val ds = new ParquetDataset(spark, dir)
    // unified: decimal(38,30), which holds 8 integer digits — the long
    // file overflows it, the int file fits
    Seq(BigDecimal("1.5")).toDF("d").select(col("d").cast("decimal(38,30)"))
      .coalesce(1).write.mode("append").parquet(dir)
    Seq(123456789012L).toDF("d").coalesce(1).write.mode("append").parquet(dir)
    val wide = ds.files.filter(f => spark.read.parquet(f).schema("d").dataType == LongType)
    Seq(7).toDF("d").coalesce(1).write.mode("append").parquet(dir)
    val plan = Maintenance.repairSchema(ds)
    assert(plan.candidates.size == 2)
    assert(ds.files.size == 3)
    assert(wide.forall(f => ds.files.contains(f)), "the failing file must stay as it was")
    val types = ds.files.map(f => spark.read.parquet(f).schema("d").dataType)
    assert(types.count(_ == DecimalType(38, 30)) == 2 && types.count(_ == LongType) == 1, types)
  }
}
