package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for a run). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long, attrs: mutable.LinkedHashMap[String, Double])

/** The benchmark's own recorder: one SparkListener plus one
  * QueryExecutionListener that it registers on the session. It keeps
  * run → SQL execution → job → stage spans in memory with Catalyst
  * phases attached per query, and sums task metrics at the stage
  * boundary. Everything is read after the listener bus is drained. */
final class Trace extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val runs = mutable.ArrayBuffer.empty[Span]
  private val sqlSpans = mutable.Map.empty[Long, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var pendingPhases: Option[Seq[(String, Double)]] = None

  /** sums over every task, in the units the metric names carry */
  val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var cacheBytes = 0L
  private val blockBytes = mutable.Map.empty[String, Long]

  private def span(parent: Long, kind: String, name: String, start: Long): Span =
    synchronized {
      val s = Span(nextId, parent, kind, name, start, -1L, mutable.LinkedHashMap.empty)
      nextId += 1; spans += s; s
    }

  /** opens a run span; the SQL executions and jobs that start before
    * the next one are its children */
  def beginRun(name: String): Unit = synchronized {
    runs += span(0, "run", name, System.currentTimeMillis())
  }
  def endRun(): Unit = synchronized { runs.last.end = System.currentTimeMillis() }

  private def runId: Long = if (runs.isEmpty) 0L else runs.last.id

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      // named by its description plus the innermost repo frame of its
      // call site; an execution nested in another (a write inside a
      // stream's micro-batch) is that execution's child
      val site = Option(e.details).toSeq.flatMap(_.split('\n')).map(_.trim)
        .find(_.startsWith("graft.")).map(" @ " + _).getOrElse("")
      val name = e.description.replace('\n', ' ').trim.take(80) + site
      val parent = e.rootExecutionId.filter(_ != e.executionId).flatMap(sqlSpans.get)
        .map(_.id).getOrElse(runId)
      sqlSpans(e.executionId) = span(parent, "sql", name, e.time)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      sqlSpans.get(e.executionId).foreach { s =>
        s.end = e.time
        pendingPhases.foreach(s.attrs ++= _)
      }
      pendingPhases = None
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => sqlSpans.get(s.toLong))
    val js = span(exec.map(_.id).getOrElse(runId), "job", s"job ${e.jobId}", e.time)
    jobSpans(e.jobId) = js
    e.stageIds.foreach(stageJob(_) = js)
    totals("sched.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val parent = stageJob.get(info.stageId).map(_.id).getOrElse(runId)
    stageSpans((info.stageId, info.attemptNumber())) = span(parent, "stage",
      s"stage ${info.stageId}: ${info.name}",
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    totals("sched.stages") += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    stageSpans.get(key).foreach { s =>
      s.end = info.completionTime.getOrElse(System.currentTimeMillis())
      s.attrs("tasks") = info.numTasks
    }
    stageTaskMs.remove(key).filter(_.nonEmpty).foreach { ds =>
      val sorted = ds.sorted
      totals("exec.straggler_s") += (sorted.last - sorted(sorted.length / 2)) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals("sched.tasks") += 1
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    totals("slot_s") += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) {
      totals("exec.task_run_s") += m.executorRunTime / 1e3
      totals("exec.task_cpu_s") += m.executorCpuTime / 1e9
      totals("exec.gc_s") += m.jvmGCTime / 1e3
      totals("exec.deser_s") += m.executorDeserializeTime / 1e3
      totals("move.input_mb") += m.inputMetrics.bytesRead / 1e6
      totals("move.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      totals("move.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      totals("move.spill_mb") += m.diskBytesSpilled / 1e6
      totals("move.result_mb") += m.resultSize / 1e6
      totals("mem.peak_exec_mb") =
        math.max(totals("mem.peak_exec_mb"), m.peakExecutionMemory / 1e6)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = info.memSize + info.diskSize
      cacheBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
      totals("mem.cache_peak_mb") = math.max(totals("mem.cache_peak_mb"), cacheBytes / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(funcName, qe)

  /** Catalyst phases of one query, from its QueryPlanningTracker. Spark
    * calls query listeners while it delivers the query's SQL execution
    * end event, just before this listener sees that event, which then
    * attaches the phases to the SQL execution span. */
  private def phases(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    totals("catalyst.queries") += 1
    totals("catalyst.analysis_s") += ms("analysis") / 1e3
    totals("catalyst.optimization_s") += ms("optimization") / 1e3
    totals("catalyst.planning_s") += ms("planning") / 1e3
    pendingPhases = Some(Seq("analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
  }

  /** seconds of the runs' intervals with no Spark job active */
  def driverOnlySeconds(): Double = synchronized {
    val jobs = spans.filter(s => s.kind == "job" && s.end >= 0)
    runs.filter(_.end >= 0).map { run =>
      val within = jobs.map(s => (math.max(s.start, run.start), math.min(s.end, run.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      within.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (run.end - run.start - covered) / 1e3
    }.sum
  }

  def toJson: String = synchronized(Main.mapper.writeValueAsString(spans))
}
