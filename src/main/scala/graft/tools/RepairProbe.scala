package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Probe: repairSchema's schema-discovery cost vs file count
  * (round-12, r11 verdict #3 "Done" criterion). Builds N+1 tiny
  * parquet files (N uniform + 1 divergent so the plan is non-empty)
  * and times `repairSchema(dryRun = true)` — only the discovery phase:
  * the per-file footer schemas `ParquetDataset` resolves. Run against
  * two code generations for an A/B.
  *
  * Usage: RepairProbe [nFiles] [reps]
  */
object RepairProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .appName("graft-repair-probe")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-repairprobe").toString
    // n uniform files (k: bigint, v: bigint) ...
    spark.range(0, n.toLong).repartition(n)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(dir)
    // ... plus one divergent file (k: int — promotes to bigint)
    spark.range(0, 4).select(col("id").cast("int").as("k"),
        (col("id") * 2).as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    val ds = new graft.sources.ParquetDataset(spark, dir)
    println(s"[probe] files=${ds.files.size}")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val plan = graft.operators.Maintenance.repairSchema(ds, dryRun = true)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] rep=$i dryRun discovery $sec%.2f s " +
        s"(candidates=${plan.candidates.size})")
    }
    graft.sources.FsUtil.deleteRecursively(dir)
    spark.stop()
  }
}
