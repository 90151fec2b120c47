package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one span (its own jobs, not its children's). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var planMs = 0L
  var interpreted = 0L
  var hof = 0L
  /** Wall-clock (ms) intervals of this span's jobs. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB; outputB += o.outputB
    planMs += o.planMs; interpreted += o.interpreted; hof += o.hof
    jobIntervals ++= o.jobIntervals
  }
}

/** A named, timed region of the client's work. Times are wall-clock
  * milliseconds, so Spark's event times can be placed inside them. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  val own = new Counters
}

/** Spans around the client's calls, and (when enabled) a listener that
  * attributes every Spark job, stage and query execution to the
  * innermost span it ran in.
  *
  * Each span runs under its own job group; the span id also travels in
  * a local property of its own, which threads started inside the span
  * inherit, so a streaming query's micro-batch jobs (which run under
  * the stream's job group) still land in the span that started it.
  * Query executions carry no thread properties on the listener bus;
  * they are placed by the wall time of their planning phase. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var current = -1
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          jobSpan.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageSpan.put(_, s))
          s.own.synchronized(s.own.jobs += 1)
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
        s.own.synchronized(s.own.jobIntervals += ((t0, e.time)))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val m = e.stageInfo.taskMetrics
        val c = s.own
        c.synchronized {
          c.stages += 1
          c.tasks += e.stageInfo.numTasks
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputB += m.inputMetrics.bytesRead
            c.outputB += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      queries.add(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as a span named `name`, nested in the current one. */
  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.length, name, current, System.currentTimeMillis(), System.nanoTime())
    spans += s
    byId.put(s.id, s)
    val outer = current
    current = s.id
    val (group, prop) = (sc.getLocalProperty(GroupKey), sc.getLocalProperty(SpanKey))
    if (enabled) {
      sc.setJobGroup(s"perfbench-${s.id}", name)
      sc.setLocalProperty(SpanKey, s.id.toString)
    }
    try body
    finally {
      s.endNs = System.nanoTime()
      current = outer
      if (enabled) {
        if (group == null) sc.clearJobGroup() else sc.setLocalProperty(GroupKey, group)
        sc.setLocalProperty(SpanKey, prop)
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Delivers every pending listener event, then places the recorded
    * query executions into spans. Call before reading counters. */
  def settle(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    while (!queries.isEmpty) {
      val qe = queries.poll()
      val phases = qe.tracker.phases
      phases.get("planning").orElse(phases.get("optimization")).foreach { p =>
        innermostAt(p.startTimeMs).foreach { s =>
          val planMs = Seq("optimization", "planning").flatMap(phases.get)
            .map(ph => ph.endTimeMs - ph.startTimeMs).sum
          // a query that failed in planning has no executed plan
          val (interp, hof) = scala.util.Try(expressionCounts(qe.executedPlan)).getOrElse((0L, 0L))
          s.own.synchronized {
            s.own.planMs += planMs
            s.own.interpreted += interp
            s.own.hof += hof
          }
        }
      }
    }
  }

  private def innermostAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption

  /** `s` and every span nested in it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).toSeq.flatMap(go)
    go(s)
  }

  /** The counters of `roots` and everything nested in them. */
  def total(roots: Seq[Span]): Counters = {
    val c = new Counters
    roots.flatMap(subtree).distinct.foreach(s => c.add(s.own))
    c
  }

  /** Seconds of `s`'s wall time during which none of its (or its
    * children's) jobs ran. */
  def driverGap(s: Span): Double = {
    val iv = total(Seq(s)).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) busy += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) busy += hi - lo
    math.max(0.0, s.seconds - busy / 1000.0)
  }

  /** The span tree as JSON: name, start/end (s from the first span),
    * parent, self time (own time minus the children's) and counters. */
  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val self = s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum
      val c = s.own
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> self, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_s" -> c.taskRunMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteB / Mb, "plan_s" -> c.planMs / 1e3)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val GroupKey = "spark.jobGroup.id"
  val Mb: Double = 1024.0 * 1024.0

  private object Plans extends AdaptiveSparkPlanHelper

  /** (interpreted `CodegenFallback` nodes, higher-order-function nodes)
    * in an executed plan, adaptive stages and subqueries included. */
  def expressionCounts(plan: SparkPlan): (Long, Long) = {
    val exprs: Seq[Expression] = Plans.collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
    (exprs.count(_.isInstanceOf[CodegenFallback]).toLong,
      exprs.count(_.isInstanceOf[HigherOrderFunction]).toLong)
  }
}
