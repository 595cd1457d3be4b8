package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own checks (run by perfbench/test_perfbench.py):
  * inputs depend only on the seed, and every correctness check rejects
  * a corrupted result. Exits non-zero when any expectation fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    def digest(lines: Seq[String]): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

    val inputs: Seq[(String, Long => Seq[String])] = Seq(
      "query-mix" -> (s => QueryMix.inputs(s, 3)),
      "lookup-scan" -> (s => LookupScan.inputs(s, 5)),
      "ingest-merge" -> (s => IngestMerge.inputs(s, 2 * IngestMerge.Kinds.size)))
    inputs.foreach { case (w, f) =>
      expect(s"$w: the same seed gives the same inputs", digest(f(7)) == digest(f(7)))
      expect(s"$w: another seed gives other inputs", digest(f(7)) != digest(f(8)))
    }

    expect("read check accepts the expected (rows, amount)",
      PrunedRead.verdict((10L, 100L), (10L, 100L)).isEmpty)
    expect("read check rejects a result missing one row",
      PrunedRead.verdict((9L, 93L), (10L, 100L)).nonEmpty)

    expect("sidecar check accepts the physical file set",
      IngestMerge.sidecarError(Set("day=1/a.parquet", "day=2/b.parquet"),
        Seq("day=2/b.parquet", "day=1/a.parquet")).isEmpty)
    expect("sidecar check rejects a file missing from the sidecar",
      IngestMerge.sidecarError(Set("day=1/a.parquet"), Seq("day=1/a.parquet", "day=2/b.parquet")).nonEmpty)

    val model = new IngestMerge.Model(7)
    model.base()
    val rows = model.rows.toSeq.sortBy(_._1).map { case (id, r) =>
      Row(id, EventRows.ts(r.ts), s"r${r.region}", r.userKey, r.amount, s"t${r.tag}")
    }
    expect("final-state check accepts the model's rows",
      IngestMerge.finalStateError(rows, model.rows).isEmpty)
    expect("final-state check rejects a dropped row",
      IngestMerge.finalStateError(rows.tail, model.rows).nonEmpty)
    expect("final-state check rejects a changed value",
      IngestMerge.finalStateError(rows.updated(0, Row.fromSeq(rows.head.toSeq.updated(4, -1L))),
        model.rows).nonEmpty)
    expect("final-state check rejects a duplicated row",
      IngestMerge.finalStateError(rows.head +: rows.tail.dropRight(1) :+ rows.head, model.rows).nonEmpty)

    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val full = spark.range(1000).toDF("id")
      expect("pruning check accepts the same rows", PrunedRead.sameRows(full, full).isEmpty)
      expect("pruning check rejects a dropped row",
        PrunedRead.sameRows(full.filter("id != 42"), full).nonEmpty)
      expect("pruning check rejects an added row",
        PrunedRead.sameRows(full.union(full.filter("id = 42")), full).nonEmpty)
    } finally spark.stop()

    if (failures > 0) {
      System.err.println(s"$failures expectation(s) failed")
      sys.exit(1)
    }
  }
}
