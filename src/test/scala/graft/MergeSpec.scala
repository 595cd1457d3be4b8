package graft

import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.sources._

/** Pins the merge contract (reference tests/test_dataset_merge.py). */
class MergeSpec extends SparkSpecBase {

  import spark.implicits._

  private def seed(dir: String): ParquetDataset = {
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3, "c", 30.0), (4, "d", 40.0)).toDF("id", "name", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    ds
  }

  test("insert: only absent keys append; existing rows untouched") {
    val ds = seed(tmpDir("mi"))
    val src = Seq((2, "B2", 99.0), (5, "e", 50.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Seq("id"), "insert")
    assert(r.sourceCount == 2 && r.inserted == 1 && r.updated == 0)
    val rows = ds.df.orderBy("id").collect().map(x => (x.getInt(0), x.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
    assert(r.rewrittenFiles.isEmpty)
  }

  test("insert: duplicate source keys → last row wins") {
    val ds = seed(tmpDir("mlw"))
    val src = Seq((7, "first", 1.0), (7, "last", 2.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Seq("id"), "insert")
    assert(r.inserted == 1)
    val row = ds.df.filter($"id" === 7).collect()(0)
    assert(row.getString(1) == "last")
  }

  test("multi-source list is one logical batch; later sources win") {
    val ds = seed(tmpDir("mms"))
    val s1 = Seq((5, "from-first", 1.0)).toDF("id", "name", "v")
    val s2 = Seq((5, "from-second", 2.0), (6, "f", 60.0)).toDF("id", "name", "v")
    val r = Merge(ds, Seq(s1, s2), Seq("id"), "insert")
    assert(r.sourceCount == 2 && r.inserted == 2)
    val row5 = ds.df.filter($"id" === 5).collect()(0)
    assert(row5.getString(1) == "from-second") // last list element wins
    assert(ds.df.count() == 6)
  }

  test("update: rewrites only matching files, leaves others intact") {
    val ds = seed(tmpDir("mu"))
    val filesBefore = ds.relFiles
    val src = Seq((1, "A!", 11.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Seq("id"), "update")
    assert(r.updated == 1 && r.inserted == 0)
    assert(r.rewrittenFiles.size == 1)       // only the file containing id=1
    assert(r.preservedFiles.size == 1)       // the (3,4) file untouched
    assert(filesBefore.contains(r.preservedFiles.head))
    val rows = ds.df.orderBy("id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getDouble(2)))
    assert(rows.toSeq == Seq((1, "A!", 11.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)))
  }

  test("update: unmatched source keys are dropped (no insert)") {
    val ds = seed(tmpDir("mun"))
    val src = Seq((99, "x", 0.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Seq("id"), "update")
    assert(r.updated == 0 && r.inserted == 0 && r.rewrittenFiles.isEmpty)
    assert(ds.df.count() == 4)
  }

  test("upsert: update matched + insert remainder") {
    val ds = seed(tmpDir("mup"))
    val src = Seq((2, "B!", 22.0), (9, "i", 90.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Seq("id"), "upsert")
    assert(r.updated == 1 && r.inserted == 1)
    val rows = ds.df.orderBy("id").collect().map(x => (x.getInt(0), x.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, "B!"), (3, "c"), (4, "d"), (9, "i")))
  }

  test("null-safe composite keys: null == null matches") {
    val dir = tmpDir("mnull")
    val ds = new ParquetDataset(spark, dir)
    Seq((Some(1), Some("k"), "orig"), (None, Some("k"), "nullkey"))
      .toDF("a", "b", "v").coalesce(1).write.mode("append").parquet(dir)
    val src = Seq((Option.empty[Int], Some("k"), "updated")).toDF("a", "b", "v")
    val r = Merge(ds, src, Seq("a", "b"), "upsert")
    assert(r.updated == 1 && r.inserted == 0)
    val vs = ds.df.orderBy($"a".asc_nulls_first).collect().map(_.getString(2))
    assert(vs.toSeq == Seq("updated", "orig"))
  }

  test("key inference: omitted keys use all common columns") {
    val ds = seed(tmpDir("minf"))
    // whole-row identity: existing row is a no-op, new row inserts
    val src = Seq((1, "a", 10.0), (6, "f", 60.0)).toDF("id", "name", "v")
    val r = Merge(ds, src, Nil, "insert")
    assert(r.inserted == 1)
    assert(ds.df.count() == 5)
  }

  test("update rejecting partition-value changes") {
    val dir = tmpDir("mpart")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "x", "p1"), (2, "y", "p2")).toDF("id", "v", "part")
      .write.partitionBy("part").mode("append").parquet(dir)
    val src = Seq((1, "x2", "p2")).toDF("id", "v", "part") // moves 1 from p1→p2
    val e = intercept[IllegalArgumentException] {
      Merge(ds, src, Seq("id"), "update")
    }
    assert(e.getMessage.contains("partition"))
    // same-partition update passes
    val ok = Merge(ds, Seq((1, "x2", "p1")).toDF("id", "v", "part"), Seq("id"), "update")
    assert(ok.updated == 1)
  }

  test("merge into empty dataset inserts everything") {
    val ds = new ParquetDataset(spark, tmpDir("mempty"))
    val r = Merge(ds, Seq((1, "a")).toDF("id", "v"), Seq("id"), "upsert")
    assert(r.inserted == 1)
    assert(ds.df.count() == 1)
  }

  test("upsert with matches issues one staged data write and one promote") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val ds = seed(tmpDir("mone"))
    ds.updateStats()
    val before = ds.relFiles.toSet
    val outputs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.toString }.foreach(outputs.add)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r = try {
      val res = Merge(ds, Seq((2, "B!", 22.0), (9, "i", 90.0)).toDF("id", "name", "v"),
        Seq("id"), "upsert")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      res
    } finally spark.listenerManager.unregister(listener)
    assert(r.updated == 1 && r.inserted == 1)
    val staged = outputs.toArray.map(_.toString).filter(_.contains("/_tmp_"))
    assert(staged.length == 1, outputs)
    // one promote: every file the merge added came from that one write
    // job (Spark names a job's files part-<n>-<job uuid>-c<n>)
    val added = ds.relFiles.filterNot(before)
    assert(added.nonEmpty && added.map(_.split("-").slice(2, 7).mkString("-")).distinct.size == 1,
      added)
    assert(r.insertedFiles.toSet == added.toSet)
  }
}
