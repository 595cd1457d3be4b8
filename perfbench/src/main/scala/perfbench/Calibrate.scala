package perfbench

import graft.SparkEntry
import graft.core.Tables

/** Measures each catalog query's cost on generated tables, for the
  * query-mix sampling frame (src/main/resources/query_costs.tsv):
  *
  *   perfbench.Calibrate <tablesDir> <workDir> <out.tsv> [query id ...]
  *
  * (all queries when no id is given). Each query runs once cold and
  * then twice through the `noop` sink;
  * the cost is the faster of the two. Queries run in name order with
  * `Tables.trimStorage` between them, as in the workload.
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val Array(dir, work, outFile) = args.take(3)
    val only = args.drop(3).toSet
    val spark = Main.session(work)
    val out = new java.io.PrintWriter(outFile)
    out.println(s"# query id <TAB> seconds: faster of two warm runs through the noop sink, " +
      s"star_schema.py tables (seed 1), local[${spark.sparkContext.defaultParallelism}]")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name.takeWhile(_ != '_')) }
      .foreach { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cost = scala.util.Try { once(); math.min(once(), once()) }.getOrElse(Double.NaN)
      Tables.trimStorage(spark, QueryMix.CacheBudgetBytes)
      out.println(f"${name.takeWhile(_ != '_')}\t$cost%.3f")
      out.flush()
    }
    out.close()
    spark.stop()
  }
}
