package graftbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (-1 at
  * top level); all spans of one client operation share its root. */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val attrs = new JMap[String, Any]()
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans live in memory and are written out when the run
  * ends. While a span is open, jobs submitted from the client thread
  * carry its id as a local property, so the listeners below can charge
  * them to it. */
final class Spans {
  private val all = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile var sc: Option[SparkContext] = None

  def list: Seq[Span] = all.toSeq

  def apply[T](name: String, attrs: (String, Any)*)(body: Span => T): T = {
    val s = new Span(all.size, stack.headOption.fold(-1)(_.id), name,
      System.currentTimeMillis(), System.nanoTime())
    attrs.foreach { case (k, v) => s.attrs.put(k, v) }
    all += s
    stack = s :: stack
    sc.foreach(_.setLocalProperty(Spans.Prop, s.id.toString))
    try body(s) finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.foreach(_.setLocalProperty(Spans.Prop, stack.headOption.map(_.id.toString).orNull))
    }
  }
}

object Spans { val Prop = "graftbench.span" }

/** Per-job execution counters, filled from the listener bus. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
}

/** Catalyst phase times of one executed query plan. */
final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Listener counters registered by the benchmark itself (traced runs
  * only): a SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for the QueryPlanningTracker phases. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  val plans = mutable.ArrayBuffer[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Prop)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRec(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Charge every job and plan to a span: jobs by the span id they
    * carried, falling back (jobs from pool threads) to the innermost
    * span open at submission; plans by the innermost span open when
    * analysis started. Returns per-span self counters. */
  def attribute(spans: Seq[Span]): Map[Int, JMap[String, Any]] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    def innermost(t: Long): Int = spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => -depth(s)).headOption.fold(-1)(_.id)
    val jobsBy = jobs.values.toSeq.groupBy(j => if (byId.contains(j.span)) j.span else innermost(j.startMs))
    val plansBy = plans.toSeq.groupBy(p => innermost(p.startMs))
    spans.map { s =>
      val js = jobsBy.getOrElse(s.id, Nil)
      val ps = plansBy.getOrElse(s.id, Nil)
      val m = new JMap[String, Any]()
      m.put("jobs", js.size)
      m.put("stages", js.map(_.stages).sum)
      m.put("tasks", js.map(_.tasks).sum)
      m.put("task_run_ms", js.map(_.runMs).sum)
      m.put("task_cpu_ns", js.map(_.cpuNs).sum)
      m.put("gc_ms", js.map(_.gcMs).sum)
      m.put("input_bytes", js.map(_.inputBytes).sum)
      m.put("shuffle_read_bytes", js.map(_.shuffleRead).sum)
      m.put("shuffle_write_bytes", js.map(_.shuffleWrite).sum)
      m.put("spill_bytes", js.map(_.spill).sum)
      m.put("job_intervals", Json.list(js.map(j => Json.list(Seq(j.startMs, j.endMs)))))
      m.put("analysis_ms", ps.map(_.analysisMs).sum)
      m.put("optimization_ms", ps.map(_.optimizationMs).sum)
      m.put("planning_ms", ps.map(_.planningMs).sum)
      s.id -> m
    }.toMap
  }
}
