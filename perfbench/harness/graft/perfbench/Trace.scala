package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer of the program. `parent` is -1 for a
  * root span; spans of one benchmark cycle share `trace`.
  */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    startMs: Long, endMs: Long, durNs: Long)

/** Spans plus the Spark counters attributed to them.
  *
  * Spans are opened by the harness around each public call it makes
  * and kept in memory. Counters come from a [[SparkListener]] (task
  * metrics, job and stage boundaries) and a [[QueryExecutionListener]]
  * (planning time, JDBC write time, output-commit time). Both
  * listeners only record raw events; attribution to spans happens
  * once, in [[summary]], after the run: a job belongs to the operation
  * span (depth 1) whose interval holds its submission time, which is
  * exact here because the harness runs one operation at a time.
  *
  * `enabled` gates recording, so a traced run can interleave traced
  * and untraced operations and report the tracing overhead. Spans
  * open only while it is on (a cycle's root span always). The
  * listeners run on the listener-bus thread, behind the driver, so
  * they judge each event by its own timestamp: a job, its stages and
  * tasks, or a query planned outside every traced interval is dropped
  * before any bookkeeping. An untraced operation pays only the bus's
  * dispatch and that one test.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  // [start, end] wall-clock ms of each traced interval
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def enabled: Boolean = on

  def enabled_=(v: Boolean): Unit = intervals.synchronized {
    val now = System.currentTimeMillis()
    if (v && !on) intervals += ((now, Long.MaxValue))
    else if (!v && on) intervals(intervals.length - 1) =
      (intervals.last._1, now)
    on = v
  }

  private def traced(tMs: Long): Boolean = intervals.synchronized {
    intervals.exists { case (a, b) => tMs >= a && tMs <= b }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  private var trace = ""

  // raw listener events (written on the listener-bus thread)
  private final case class JobEv(jobId: Int, timeMs: Long, stages: Seq[Int])
  private final case class StageEv(stageId: Int, durMs: Long)
  private final case class QueryEv(timeMs: Long, planMs: Double,
      jdbcWriteMs: Double, commitMs: Double)
  private val jobs = mutable.ArrayBuffer.empty[JobEv]
  private val stageDur = mutable.ArrayBuffer.empty[StageEv]
  private val stageCounters =
    mutable.HashMap.empty[Int, mutable.Map[String, Double]]
  // stages of the jobs submitted while traced
  private val tracedStages = mutable.HashSet.empty[Int]
  private def isTraced(stageId: Int): Boolean =
    tracedStages.synchronized(tracedStages.contains(stageId))
  private val queries = mutable.ArrayBuffer.empty[QueryEv]
  @volatile private var lastEventMs = System.currentTimeMillis()
  @volatile private var listenerErrors = 0

  private def guarded(body: => Unit): Unit = {
    lastEventMs = System.currentTimeMillis()
    try body catch {
      case scala.util.control.NonFatal(e) =>
        listenerErrors += 1
        System.err.println(s"[perfbench] listener error: $e")
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = guarded {
      if (traced(e.time)) {
        tracedStages.synchronized { tracedStages ++= e.stageIds }
        jobs.synchronized { jobs += JobEv(e.jobId, e.time, e.stageIds) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      guarded {
        val i = e.stageInfo
        if (isTraced(i.stageId))
          for (a <- i.submissionTime; b <- i.completionTime)
            stageDur.synchronized { stageDur += StageEv(i.stageId, b - a) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = guarded {
      val m = e.taskMetrics
      if (m != null && isTraced(e.stageId)) stageCounters.synchronized {
        val c = stageCounters.getOrElseUpdate(e.stageId,
          mutable.HashMap.empty[String, Double].withDefaultValue(0.0))
        c("exec_cpu_ms") += m.executorCpuTime / 1e6
        c("exec_run_ms") += m.executorRunTime
        c("gc_ms") += m.jvmGCTime
        c("scan_records") += m.inputMetrics.recordsRead
        c("scan_bytes") += m.inputMetrics.bytesRead
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("output_bytes") += m.outputMetrics.bytesWritten
        c("tasks") += 1
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = guarded {
      val phases = qe.tracker.phases
      val startMs = phases.get("analysis").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
      if (traced(startMs)) {
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum
        val isJdbcWrite = qe.logical.getClass.getSimpleName ==
          "SaveIntoDataSourceCommand" &&
          qe.logical.toString.contains("JdbcRelationProvider")
        val commit = helper.collect(qe.executedPlan) {
          case w: DataWritingCommandExec =>
            Seq("jobCommitTime", "taskCommitTime")
              .flatMap(w.cmd.metrics.get).map(_.value.toDouble).sum
        }.sum
        queries.synchronized {
          queries += QueryEv(startMs, planMs,
            if (isJdbcWrite) durationNs / 1e6 else 0.0, commit)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private var isInstalled = false

  /** True once the listeners are registered: a traced run. */
  def installed: Boolean = isInstalled

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    isInstalled = true
  }

  def setTrace(id: String): Unit = trace = id

  /** Time `body` as a span named `name`, child of the innermost open
    * span. A no-op wrapper while tracing is disabled, unless `always`
    * and the tracer is installed.
    */
  def span[T](name: String, always: Boolean = false)(body: => T): T =
    if (!enabled && !(always && isInstalled)) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      stack = (id, name, startMs, t0) :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, trace, startMs,
          System.currentTimeMillis(), t1 - t0)
      }
    }

  /** Wait until the listener bus has been quiet for a moment, so every
    * event of the run has been recorded before attribution.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() - lastEventMs < 500L &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)
  }

  /** Per operation family (the name of a depth-1 span), the summed
    * counters of the jobs, stages and queries attributed to it, plus
    * `ops` (span count), `span_ms` (summed duration), and stage time
    * split into map-side (`map_stage_ms`) and result-stage
    * (`result_stage_ms`) time.
    */
  def summary(): Map[String, Map[String, Double]] = {
    val roots = spans.filter(_.parent == -1).map(_.id).toSet
    val ops = spans.filter(s => roots.contains(s.parent)).sortBy(_.startMs)
    def opAt(tMs: Long): Option[Span] =
      ops.find(s => tMs >= s.startMs && tMs <= s.endMs)
    val out = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    def fam(name: String) = out.getOrElseUpdate(name,
      mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0))
    ops.foreach { s =>
      val f = fam(s.name)
      f("ops") += 1
      f("span_ms") += s.durNs / 1e6
    }
    val durs = stageDur.synchronized(stageDur.map(e => e.stageId -> e.durMs)
      .toMap)
    val counted = mutable.HashSet.empty[Int]
    jobs.synchronized(jobs.toList).foreach { j =>
      opAt(j.timeMs).foreach { s =>
        val f = fam(s.name)
        f("jobs") += 1
        // a stage listed by several jobs ran (at most) once
        j.stages.filter(counted.add).foreach { st =>
          val c = stageCounters.synchronized(
            stageCounters.get(st).map(_.toMap)).getOrElse(Map.empty)
          c.foreach { case (k, v) => f(k) += v }
          // a stage that writes shuffle output is map-side; adaptive
          // execution submits each such stage as a job of its own
          durs.get(st).foreach { d =>
            if (c.getOrElse("shuffle_write_bytes", 0.0) > 0)
              f("map_stage_ms") += d
            else f("result_stage_ms") += d
          }
        }
      }
    }
    queries.synchronized(queries.toList).foreach { q =>
      opAt(q.timeMs).foreach { s =>
        val f = fam(s.name)
        f("plan_ms") += q.planMs
        f("jdbc_write_ms") += q.jdbcWriteMs
        f("commit_ms") += q.commitMs
      }
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  def errors: Int = listenerErrors

  /** Every recorded span as one JSON object per line. */
  def spansJsonl: String = spans.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "trace" -> s.trace, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.durNs / 1e6)
  }.mkString("", "\n", "\n")
}

/** Minimal JSON rendering for the harness's own records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String = render(kv.toMap)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
