package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans, the jobs charged
  * to them and the planning events inside them.
  *
  * Units: `*_ms` of a layer call (queries.build, sources.write,
  * operators.*) is the mean duration of one call; `spark.*`,
  * `jvm.gc_ms` and `core.cached_scans` are means per timed operation
  * (root span `op.*`); byte totals are in MiB per operation.
  */
object Layers {
  /** Spans whose wall time is Spark execution: the action of a read
    * and every mutating call (their jobs run inside them).
    */
  val ExecSpans = Set("spark.exec", "sources.write", "operators.merge",
    "operators.delete", "operators.compact")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }

  /** Count, total and self milliseconds (the span minus what its child
    * spans cover) of every span name, and the number of timed operations.
    */
  def spanTimes(tr: Tracer): mutable.LinkedHashMap[String, Any] = {
    val spans = tr.spans.toVector
    val children = spans.groupBy(_.parent)
    val times = spans.groupBy(_.name).map { case (name, xs) =>
      val self = xs.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs) - covered(kids, s.startNs, s.endNs)
      }.sum
      name -> Seq(xs.size.toDouble, xs.map(_.ms).sum, self / 1e6)
    }
    mutable.LinkedHashMap("ops" -> spans.count(s => s.parent == 0 && s.name.startsWith("op.")),
      "spans" -> times)
  }

  def compute(tr: Tracer, jobs: JobListener, plans: PlanListener,
              fromWorkload: collection.Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val spans = tr.spans.toVector
    val byId = spans.map(s => s.id -> s).toMap
    val ops = spans.filter(s => s.parent == 0 && s.name.startsWith("op."))
    val opIds = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val allJobs = jobs.synchronized(jobs.jobs.values.toVector)
    val opJobs = allJobs.filter(j => byId.get(j.spanId).exists(s => opIds(s.op)))
    val jobsBySpan = opJobs.groupBy(_.spanId)
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))
    val planned = plans.synchronized(plans.events.toVector)
      .filter(p => ops.exists(o => p.startMs >= o.startMs && p.startMs <= o.endMs))
    val mb = 1048576.0

    val out = mutable.LinkedHashMap.empty[String, Double]
    def callMean(name: String): Double = {
      val xs = spans.filter(s => s.name == name && opIds(s.op))
      if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size
    }
    out("queries.build_ms") = callMean("queries.build")
    out("queries.build_jobs") = spans.filter(s => s.name == "queries.build" && opIds(s.op))
      .map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum / n
    out("spark.plan_ms") = planned.map(_.planMs).sum / n
    val execSpans = spans.filter(s => ExecSpans(s.name) && opIds(s.op))
    out("spark.exec_ms") = execSpans.map(_.ms).sum / n
    out("spark.jobs") = opJobs.size / n
    out("spark.one_task_jobs") = opJobs.count(_.tasks == 1) / n
    out("spark.job_gap_ms") = execSpans.map { s =>
      val iv = (s +: descendants(s)).flatMap(d => jobsBySpan.getOrElse(d.id, Nil))
        .map(j => (j.startMs, j.endMs))
      s.ms - covered(iv, s.startMs, s.endMs)
    }.sum / n
    out("spark.tasks") = opJobs.map(_.tasks).sum / n
    out("spark.task_run_ms") = opJobs.map(_.taskRunMs).sum / n
    out("spark.input_mb") = opJobs.map(_.inputBytes).sum / mb / n
    out("spark.shuffle_mb") = opJobs.map(_.shuffleBytes).sum / mb / n
    out("spark.spill_mb") = opJobs.map(_.spillBytes).sum / mb / n
    out("spark.output_mb") = opJobs.map(_.outputBytes).sum / mb / n
    out("jvm.gc_ms") = ops.map(o => tr.gcMs.getOrElse(o.id, 0L)).sum / n
    out("core.cached_scans") = planned.map(_.cachedScans).sum / n
    Seq("sources.write", "operators.merge", "operators.delete", "operators.compact")
      .foreach(c => out(c + "_ms") = callMean(c))
    out ++= fromWorkload
    out
  }
}
