package graft

import org.apache.spark.sql.functions._
import graft.plans.ScanPruner
import graft.sources._

/** Pins the stats-sidecar + conservative pruning contract (reference
  * pydala/helpers/metadata.py:127-266, tests/test_table.py:35-224,
  * tests/test_dataset_lifecycle.py:1085-1266).
  */
class ScanPrunerSpec extends SparkSpecBase {

  import spark.implicits._

  private def mkDataset(): ParquetDataset = {
    val dir = tmpDir("scan")
    val ds = new ParquetDataset(spark, dir)
    // three files with disjoint id ranges via repartitionByRange
    val a = (1 to 100).map(i => (i, s"n$i")).toDF("id", "name")
    a.filter($"id" <= 30).coalesce(1).write.mode("append").parquet(dir)
    a.filter($"id" > 30 && $"id" <= 60).coalesce(1).write.mode("append").parquet(dir)
    a.filter($"id" > 60).coalesce(1).write.mode("append").parquet(dir)
    ds.updateStats()
    ds
  }

  test("sidecar reflects physical files and row-group stats") {
    val ds = mkDataset()
    val st = ds.stats.get
    assert(st.select("file_path").distinct().count() == 3)
    val idStats = st.filter($"column" === "id")
      .select("min_num", "max_num").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(idStats.toSeq == Seq((1.0, 30.0), (31.0, 60.0), (61.0, 100.0)))
    assert(ds.count() == 100) // metadata-only count
  }

  test("scan prunes files by range predicates, keeps whole files") {
    val ds = mkDataset()
    assert(ds.pruneFiles("id > 60").size == 1)
    assert(ds.pruneFiles("id >= 31").size == 2)
    assert(ds.pruneFiles("id = 45").size == 1)
    assert(ds.pruneFiles("id < 5 AND name = 'n3'").size == 1)
    // scan returns ALL rows of surviving files — no row filtering
    assert(ds.scan("id = 45").count() == 30)
  }

  test("unsupported predicates keep all files") {
    val ds = mkDataset()
    assert(ds.pruneFiles("id > 60 OR id < 5").size == 3)
    assert(ds.pruneFiles("id IS NULL").size == 3)
    assert(ds.pruneFiles("unknown_col = 1").size == 3)
  }

  test("timestamp literals prune timestamp stats") {
    val dir = tmpDir("scants")
    val ds = new ParquetDataset(spark, dir)
    val rows = Seq("2024-01-01 00:00:00", "2024-06-01 00:00:00", "2024-12-31 00:00:00")
    rows.foreach { t =>
      Seq(Tuple1(java.sql.Timestamp.valueOf(t))).toDF("ts")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    ds.updateStats()
    assert(ds.pruneFiles("ts >= '2024-07-01'").size == 1)
    assert(ds.pruneFiles("ts < '2024-02-01'").size == 1)
  }

  test("partition-value pruning via path parsing") {
    val dir = tmpDir("scanpart")
    val df = (1 to 40).map(i => (i, if (i <= 20) "a" else "b")).toDF("id", "cat")
    df.write.partitionBy("cat").mode("append").parquet(dir)
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    val chosen = ds.pruneFiles("cat = 'a'")
    assert(chosen.nonEmpty && chosen.forall(_.contains("cat=a")))
    assert(ds.scan("cat = 'a'").count() == 20)
  }

  test("deleteFiles reconciles the sidecar (count/scan stay truthful)") {
    val ds = mkDataset()
    assert(ds.count() == 100)
    val victims = ds.pruneFiles("id <= 30")
    assert(victims.size == 1)
    ds.deleteFiles(victims)
    // a stale sidecar would keep serving the deleted file's 30 rows
    assert(ds.count() == 70)
    assert(ds.pruneFiles("id <= 30").isEmpty)
    assert(ds.stats.get.select("file_path").distinct().count() == 2)
  }

  test("bigint bounds beyond 2^53 never mis-prune (exact int lanes)") {
    val dir = tmpDir("scanbig")
    val base = 1L << 62 // ulp(2^62) = 512: +200 rounds DOWN to +0 in double
    Seq(base, base + 200).toDF("v").coalesce(1).write.mode("append").parquet(dir)
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    // via the double lane, max would round to `base` and v > base+100
    // would wrongly prune the file that contains base+200
    assert(ds.pruneFiles(s"v > ${base + 100}").size == 1)
    assert(ds.scan(s"v > ${base + 100}").count() == 2)
    assert(ds.pruneFiles(s"v = ${base + 200}").size == 1)
    assert(ds.pruneFiles(s"v > ${base + 200}").isEmpty)
    // fractional literal against the integral lane: x > v ⟺ x ≥ ⌊v⌋+1
    assert(ds.pruneFiles(s"v <= ${base + 100}.5").size == 1)
  }

  test("integral-valued float literals don't mis-prune equality") {
    val dir = tmpDir("scandl")
    Seq(5L, 10L, 20L).toDF("v").coalesce(1).write.mode("append").parquet(dir)
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    // 1e1 / 10.0D parse as java Double; 10.0 IS integral → must keep
    assert(ds.pruneFiles("v = 1e1").size == 1)
    assert(ds.pruneFiles("v = 10.0D").size == 1)
    assert(ds.scan("v = 1e1").filter("v = 1e1").count() == 1)
    // strictly fractional equality on an integral lane prunes everything
    assert(ds.pruneFiles("v = 10.5D").isEmpty)
  }

  test("files unknown to the sidecar survive (physical authoritative)") {
    val ds = mkDataset()
    // new file written after the stats refresh
    Seq((1000, "late")).toDF("id", "name")
      .coalesce(1).write.mode("append").parquet(ds.path)
    assert(ds.pruneFiles("id > 500").size == 1)
    assert(ds.scan("id > 500").count() == 1)
  }

  /** scan(p) filtered by p holds exactly the rows of df.filter(p). */
  private def assertSound(ds: ParquetDataset, preds: Seq[String]): Unit = preds.foreach { p =>
    val expected = ds.df.filter(p).count()
    assert(expected > 0, s"[$p] matches nothing: the check would be vacuous")
    val got = ds.scan(p).filter(p).count()
    assert(got == expected, s"pruning dropped rows for [$p]: $got != $expected")
  }

  test("pruning launches one job for stats atoms and none otherwise") {
    val ds = new ParquetDataset(spark, mkDataset().path)
    assert(jobsLaunched(assert(ds.pruneFiles("id > 60").size == 1)) == 1)
    // the rows read once are held while the sidecar is unchanged
    assert(jobsLaunched(ds.pruneFiles("id > 60 AND name < 'n7' AND id < 90")) == 0)
    assert(jobsLaunched(assert(ds.pruneFiles("id > 60 OR id < 5").size == 3)) == 0)
    // updateStats hands its rows over
    val updated = mkDataset()
    assert(jobsLaunched(assert(updated.pruneFiles("id > 60").size == 1)) == 0)

    val dir = tmpDir("scanjobs")
    (1 to 40).map(i => (i, if (i <= 20) "a" else "b")).toDF("id", "cat")
      .write.partitionBy("cat").mode("append").parquet(dir)
    new ParquetDataset(spark, dir).updateStats()
    val part = new ParquetDataset(spark, dir)
    assert(jobsLaunched(assert(part.pruneFiles("cat = 'a'").forall(_.contains("cat=a")))) == 0)
    assert(jobsLaunched(part.pruneFiles("id > 30 AND cat = 'b'")) == 1)
  }

  test("pruning follows Catalyst's string (UTF-8) and double (NaN, -0.0) ordering") {
    val dir = tmpDir("scanord")
    // UTF-8 bytes put '～' (U+FF5E) below '😀' (U+1F600); UTF-16 code
    // units (String.compareTo) put the surrogate pair below '～'
    val nan = Double.NaN
    Seq(Seq(("～", 7.0), ("😀", nan)), Seq(("～", -0.0)), Seq(("😀", nan)),
      Seq(("a", 0.0), ("b", 1.0))).foreach { rows =>
      rows.toDF("s", "d").coalesce(1).write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    // parquet-mr drops NaN bounds and widens ±0.0 when it reads footers,
    // so stamp each file's Catalyst-ordered double bounds into the sidecar
    // (what a writer keeping NaN and -0.0 bounds records)
    val bounds = ds.relFiles.map { f =>
      val r = spark.read.parquet(s"$dir/$f").agg(min("d"), max("d")).collect()(0)
      f -> (r.getDouble(0), r.getDouble(1))
    }.toMap
    val stamped = StatsSidecar.rows(ds.stats.get).toSeq.map { r =>
      if (r.column != "d") r
      else r.copy(min_num = Some(bounds(r.file_path)._1), max_num = Some(bounds(r.file_path)._2))
    }
    stamped.toDF().coalesce(1).write.mode("overwrite").parquet(StatsSidecar.sidecarPath(dir))
    assert(StatsSidecar.rows(ds.stats.get).exists(_.max_num.exists(_.isNaN)))
    assertSound(ds, Seq("s > '～'", "s < '😀'", "s = '😀'", "s = '～'",
      "d > 5", "d < 5", "d = 7", "d >= 0", "d = 0", "d <= 0"))
    // and it still prunes: only the 'a'/'b' file can hold s < '～'
    assert(ds.pruneFiles("s < '～'").size == 1)
  }

  test("a sidecar written before the exact lanes prunes through the double lane") {
    val dir = tmpDir("scanold")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    Seq(1 to 30, 31 to 60, 61 to 100).foreach { ids =>
      ids.map(i => (i.toLong, new java.sql.Timestamp(t0 + i * 3600000L), s"n$i"))
        .toDF("id", "ts", "name").coalesce(1).write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    val exact = ds.timeRange("ts")
    val p = StatsSidecar.sidecarPath(dir)
    StatsSidecar.rows(ds.stats.get).toSeq.toDF().drop("min_int", "max_int")
      .coalesce(1).write.mode("overwrite").parquet(p)
    assert(!spark.read.parquet(p).columns.contains("min_int"))
    assert(StatsSidecar.rows(ds.stats.get).forall(r => r.min_int.isEmpty && r.max_int.isEmpty))

    assert(ds.pruneFiles("id > 60").size == 1)
    assert(ds.pruneFiles("id = 45").size == 1)
    assert(ds.pruneFiles("id > 60.5").size == 1)
    assert(ds.pruneFiles("ts >= '2024-01-03 06:00:00'").size == 2)
    assert(ds.pruneFiles("ts < '2024-01-01 12:00'").size == 1)
    assertSound(ds, Seq("id > 60", "id <= 30", "id = 31", "id >= 30.5",
      "ts >= '2024-01-03 06:00:00'", "ts < '2024-01-02'", "ts = '2024-01-02 06:00:00'",
      "id > 10 AND ts < '2024-01-03'"))
    assert(exact.nonEmpty && ds.timeRange("ts") == exact)
  }
}
