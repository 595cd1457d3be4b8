package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. `op` is the id of the root span (the timed
  * operation) it belongs to; `parent` is 0 for a root span.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, recorded while
  * the measured loop runs. Spans live in memory and are written out when
  * the run ends. Each span sets the Spark job group to its id, so
  * [[JobListener]] can charge every job (and its tasks) to the span that
  * launched it. The benchmark drives the library from one thread, so a
  * plain stack tracks nesting.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  var recording = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Driver GC milliseconds spent inside each root span. */
  val gcMs = mutable.HashMap.empty[Int, Long]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var rootId = 0

  def span[T](name: String)(body: => T): T = if (!(enabled && recording)) body else {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    if (parent == 0) rootId = id
    val op = rootId
    stack = id :: stack
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val gc0 = if (parent == 0) Host.gcMillis else 0L
    val m0 = System.currentTimeMillis()
    val s0 = System.nanoTime()
    try body
    finally {
      val s1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      if (parent == 0) gcMs(id) = Host.gcMillis - gc0
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, op, s0, s1, m0, m1)
    }
  }
}

/** Per-job totals, attributed to the span whose job group launched it. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0
  var taskRunMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  def spanId: Int =
    if (group.startsWith("pb-")) scala.util.Try(group.drop(3).toInt).getOrElse(0) else 0
}

/** Counts jobs, tasks and task I/O. Registered on every run: the
  * untraced run needs task output bytes for write amplification; the
  * traced run also uses the job-to-span attribution.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskRunMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def outputBytes: Long = synchronized(jobs.valuesIterator.map(_.outputBytes).sum)
}

/** Planning time and cached-scan count of every query execution,
  * taken from Spark's own QueryPlanningTracker (analysis, optimization
  * and physical planning: the time it takes to produce
  * `queryExecution.executedPlan`).
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Planned(startMs: Long, planMs: Long, cachedScans: Int)
  val events = mutable.ArrayBuffer.empty[Planned]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) {
      val cached = scala.util.Try(countCached(qe.executedPlan)).getOrElse(0)
      synchronized {
        events += Planned(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum, cached)
      }
    }
  }

  private def countCached(p: SparkPlan): Int =
    collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }.size
}
