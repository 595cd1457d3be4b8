package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.Tables
import graft.queries._

/** `query-mix`: a sample of the catalog queries over a seeded star
  * schema, each forced through the `noop` sink, repeated in seeded order
  * after a warm pass, with `Tables.trimStorage` between queries.
  *
  * The sample is fixed: `SampleSize` queries from different query
  * families whose calibrated cost (query_costs.tsv, measured by
  * [[Calibrate]] on these tables) lies in `CostBand`, one from each of
  * `SampleSize` equal-count cost bands, drawn with [[SampleSeed]]. The
  * band holds the cheaper half of the suite only (the cost table lists
  * the queries at or below the suite median): the upper half holds 312
  * of the suite's 384 s in graft.Bench's per-query figures, up to 8 s a
  * query, so a stratum from it would leave an 8 s run one or two cycles.
  * An odd sample size puts the median inside one query's latencies
  * rather than between two queries'. A sample drawn per run seed moved
  * the percentiles between seeds by more than any usable regression
  * bound; the run seed draws the table values and the query order.
  */
object QueryMix {
  val SampleSize = 5
  val SampleSeed = 20181L
  val CostBand = (0.25, 0.45)
  /** graft.Bench's default storage budget between queries. */
  val CacheBudgetBytes: Long = 1536L << 20
  /** Cycles through the `noop` sink that end the warm pass. With the
    * result pass alone, the first measured cycle ran 30-45 % slower than
    * the fourth on a 4-core host while the JIT was still compiling.
    */
  val WarmCycles = 2

  val Families: Seq[(String, Iterable[String])] = Seq(
    "Relational" -> Relational.queries.keys, "Relational2" -> Relational2.queries.keys,
    "Events" -> Events.queries.keys, "TextOps" -> TextOps.queries.keys,
    "VectorOps" -> VectorOps.queries.keys, "MultimodalOps" -> MultimodalOps.queries.keys,
    "PipelineOps" -> PipelineOps.queries.keys, "Lifecycle" -> Lifecycle.queries.keys,
    "StreamOps" -> StreamOps.queries.keys, "CorpusOps" -> CorpusOps.queries.keys,
    "Analytics" -> Analytics.queries.keys, "Analytics2" -> Analytics2.queries.keys,
    "Analytics3" -> Analytics3.queries.keys, "Analytics4" -> Analytics4.queries.keys,
    "Analytics5" -> Analytics5.queries.keys, "Analytics6" -> Analytics6.queries.keys,
    "Analytics7" -> Analytics7.queries.keys, "Analytics8" -> Analytics8.queries.keys,
    "Analytics9" -> Analytics9.queries.keys, "Analytics10" -> Analytics10.queries.keys)

  def costs: Map[String, Double] =
    scala.io.Source.fromResource("query_costs.tsv").getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> a(1).toDouble).toMap

  /** The cost- and family-stratified sample (query names). */
  def sample(seed: Long, costs: Map[String, Double]): Seq[String] = {
    val rng = new Rng(seed ^ 0x51L)
    val family = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    def cost(q: String) = costs.getOrElse(q.takeWhile(_ != '_'), Double.NaN)
    val frame = SparkEntry.queries.keys.toVector
      .filter(q => cost(q) >= CostBand._1 && cost(q) <= CostBand._2).sortBy(q => (cost(q), q))
    val used = mutable.Set.empty[String]
    (0 until SampleSize).map { b =>
      val band = frame.slice(frame.size * b / SampleSize, frame.size * (b + 1) / SampleSize)
      val fresh = band.filterNot(q => used(family(q)))
      val q = rng.pick(if (fresh.nonEmpty) fresh else band)
      used += family(q)
      q
    }
  }

  /** The inputs a seed yields besides the tables (star_schema.py): the
    * sample and its order in the first `cycles` cycles, as text.
    */
  def inputs(seed: Long, cycles: Int): Seq[String] = {
    val names = sample(SampleSeed, costs)
    val rng = new Rng(seed ^ 0x52L)
    names ++ (1 to cycles).map(_ => rng.shuffle(names).mkString(","))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val names = sample(SampleSeed, costs)
    ctx.info("sample", names)
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val rng = new Rng(ctx.seed ^ 0x52L)

    def runQuery(fn: (SparkSession, String) => DataFrame, dir: String): Unit = {
      val df = tr.span("queries.build")(fn(spark, dir))
      tr.span("spark.exec")(df.write.format("noop").mode("overwrite").save())
    }

    // the tables are generated before this JVM starts
    // (perfbench/star_schema.py); set-up here is the warm pass: each query
    // once, keeping its result for the DuckDB oracle (timestamps as NTZ, as
    // graft.Verify writes them), then `WarmCycles` cycles as measured
    val dir = ctx.inputs
    val out = s"${ctx.work}/results"
    ctx.warm {
      names.foreach { n =>
        try {
          val df = fns(n)(spark, dir)
          val ntz = df.schema.fields.collect {
            case f if f.dataType == org.apache.spark.sql.types.TimestampType => f.name
          }.foldLeft(df)((d, c) => d.withColumn(c,
            org.apache.spark.sql.functions.col(c).cast("timestamp_ntz")))
          ntz.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        } catch { case e: Throwable => ctx.checkFailed(n, s"result not written: ${e.getMessage}") }
        Tables.trimStorage(spark, CacheBudgetBytes)
      }
      // a query that fails here already failed its result check above
      for (_ <- 1 to WarmCycles; n <- names) {
        scala.util.Try(runQuery(fns(n), dir))
        Tables.trimStorage(spark, CacheBudgetBytes)
      }
    }

    val resident = mutable.ArrayBuffer.empty[Double]
    ctx.loop { () =>
      rng.shuffle(names).map { n =>
        Step("read", n, () => runQuery(fns(n), dir), after = () => {
          if (tr.enabled) resident += spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0
          tr.span("core.trim")(Tables.trimStorage(spark, CacheBudgetBytes))
        })
      }
    }
    if (resident.nonEmpty) ctx.layer("core.resident_mb", resident.sum / resident.size)

    ctx.info("oracle", mutable.LinkedHashMap(
      "tables" -> dir, "results" -> out,
      "sql" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))
  }
}
