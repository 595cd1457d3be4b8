package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One step of a workload loop. `body` is timed; `check` runs after
  * it, untimed, and returns an error when the result is wrong; `after`
  * is untimed bookkeeping between steps.
  */
final case class Step(kind: String, name: String, body: () => Any,
                      check: Any => Option[String] = _ => None,
                      after: () => Unit = () => ())

/** What a workload sees: the session, the tracer, the seed, and the
  * set-up / measure / check protocol shared by all workloads.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val jobs: JobListener, val seed: Long,
                val seconds: Double, val work: String, val inputs: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val infos = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var measuredS = 0.0
  var genS = 0.0
  var warmS = 0.0

  def info(k: String, v: Any): Unit = infos(k) = v
  def layer(k: String, v: Double): Unit = layers(k) = v
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }
  def checkFailed(name: String, detail: String): Unit = check(name, ok = false, detail)

  /** Set-up, first half: builds the inputs the measured loop uses, timed. */
  def setup(gen: => Unit): Unit = {
    val t0 = System.nanoTime()
    gen
    genS = (System.nanoTime() - t0) / 1e9
  }

  /** Set-up, second half: one warm pass over the inputs, timed. */
  def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmS = (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop, one client: runs the batches of steps `next()` yields,
    * one step after the other, until `seconds` of operation time have
    * been measured and at least `minBatches` batches have run.
    * Checks and bookkeeping run outside the measured time; a guard on
    * wall time bounds the run when they are slow.
    */
  def loop(next: () => Seq[Step], minBatches: Int = 0): Unit = {
    val budgetNs = (seconds * 1e9).toLong
    val wall0 = System.nanoTime()
    var measured = 0L
    var batches = 0
    tracer.recording = true
    def more = batches < minBatches ||
      (measured < budgetNs && System.nanoTime() - wall0 < 3 * budgetNs)
    while (more) {
      batches += 1
      // whole batches only, so every run holds the same mix of steps
      val it = next().iterator
      while (it.hasNext) {
        val s = it.next()
        val t0 = System.nanoTime()
        val res = scala.util.Try(tracer.span(s"op.${s.kind}")(s.body()))
        val ns = System.nanoTime() - t0
        measured += ns
        val error = res match {
          case scala.util.Failure(e) =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          case scala.util.Success(v) =>
            scala.util.Try(s.check(v)).fold(e => Some(s"check threw $e"), identity)
        }
        error.foreach(e => System.err.println(s"[perfbench] ${s.kind} ${s.name} failed: $e"))
        ops += Op(s.kind, s.name, ns / 1e6, error.isEmpty, error.getOrElse(""))
        s.after()
      }
    }
    tracer.recording = false
    measuredS = measured / 1e9
  }
}

/** Benchmark entry point (run through perfbench/run.py):
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <inputs> <out.json>
  *
  * `inputs` is the directory of the tables query-mix reads, generated
  * before the JVM starts (the other workloads generate their own inputs
  * in [[Ctx.setup]] and ignore it).
  *
  * Writes one JSON document with the timed operations, set-up times,
  * check outcomes and (traced runs) per-layer metrics and span times.
  */
object Main {
  val Workloads = Seq("query-mix", "lookup-scan", "ingest-merge")
  /** Leaves a core for Spark's scheduling thread, the JIT and the collector. */
  val Cpus: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  /** The session every workload runs in: graft.Bench's settings on
    * local[Cpus], with Spark's scratch space inside `work`.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, inputs, outFile) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val trace = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val plans = new PlanListener
    if (trace) spark.listenerManager.register(plans)
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, jobs, seed, secondsS.toDouble, work, inputs)

    workload match {
      case "query-mix" => QueryMix.run(ctx)
      case "lookup-scan" => LookupScan.run(ctx)
      case "ingest-merge" => IngestMerge.run(ctx)
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val layers = if (trace) Layers.compute(tracer, jobs, plans, ctx.layers) else ctx.layers
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> Cpus,
      "ready_s" -> readyS, "gen_s" -> ctx.genS, "warm_s" -> ctx.warmS, "measured_s" -> ctx.measuredS,
      "peak_rss_mb" -> Host.peakRssMb, "ops" -> ctx.ops,
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> layers, "info" -> ctx.infos)
    if (trace) doc("span_times") = Layers.spanTimes(tracer)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), Json(doc))
    spark.stop()
  }
}
