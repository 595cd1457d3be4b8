package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      // write timestamps as annotated INT64 micros (not legacy INT96)
      // so parquet footers carry usable min/max stats for pruning
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // the local disk with object-store rename semantics, as objstore:;
      // uncached, so that, as on a cluster's executors, a task finds it
      // only through the Hadoop settings shipped to it
      .config("spark.hadoop.fs.objstore.impl", classOf[ObjectStoreFs].getName)
      .config("spark.hadoop.fs.objstore.impl.disable.cache", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs the calling thread launches inside `f`. */
  def jobsLaunched(f: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try { f; ListenerBusDrain(sc); n.get }
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
