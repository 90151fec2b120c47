package graft.obs

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** What one Spark job cost. `executionId` is the SQL execution the job
  * ran in (None for a job started outside one, such as an RDD action).
  * `callSite` is the name of the job's last stage. `group` and
  * `description` are the job group and `spark.job.description` of the
  * thread that started the job, which tell apart the jobs of code
  * running side by side. `scope` is the plan operator that started it,
  * with its scope id (`BroadcastExchange 79`): Spark names every
  * broadcast and AQE stage job after the same `CompletableFuture`
  * frame, and carries no group for them. `seconds` is the
  * job's wall time, None while the job is open (no end event yet). The
  * task figures are sums over the tasks that ended. */
final case class Job(
    id: Int,
    executionId: Option[Long],
    callSite: String,
    group: Option[String],
    description: Option[String],
    scope: Option[String],
    seconds: Option[Double],
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long)

/** The engine's one `SparkListener`: the jobs a block of code starts,
  * and what each of them costs. */
object JobCosts {

  // SparkContext's local-property keys (private to Spark)
  private val GroupKey = "spark.jobGroup.id"
  private val ScopeKey = "spark.rdd.scope"
  private val ScopeName = "\"name\":\"([^\"]*)\"".r.unanchored
  private val ScopeId = "\"id\":\"([^\"]*)\"".r.unanchored

  /** Runs `body` and returns its result with every job started while it
    * ran, in id order. Jobs of every thread count, so a stream's
    * micro-batches do too. The listener bus is drained before the jobs
    * are read: each count includes every event posted before `body`
    * returned. */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val recorder = new Recorder
    ListenerBusDrain(sc)
    sc.addSparkListener(recorder)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, recorder.jobs)
    } finally sc.removeSparkListener(recorder)
  }

  /** `{"id":"79","name":"BroadcastExchange"}` → `BroadcastExchange 79`. */
  private def scopeOf(json: String): String = (json, json) match {
    case (ScopeName(name), ScopeId(id)) => s"$name $id"
    case _ => json
  }

  private final class Recorder extends SparkListener {
    private val byId = mutable.Map.empty[Int, Job]
    private val startMs = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]

    def jobs: Seq[Job] = synchronized(byId.values.toSeq.sortBy(_.id))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)
      byId(e.jobId) = Job(e.jobId, prop(SQLExecution.EXECUTION_ID_KEY).map(_.toLong), site,
        prop(GroupKey), prop(DescriptionKey), prop(ScopeKey).map(scopeOf),
        None, 0, 0L, 0L, 0L, 0L, 0L, 0L)
      startMs(e.jobId) = e.time
      // a stage shared by several jobs counts for the first that needs it
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageJob.get(e.stageId); j <- byId.get(id))
        byId(id) = Option(e.taskMetrics).fold(j.copy(tasks = j.tasks + 1)) { m =>
          j.copy(
            tasks = j.tasks + 1,
            runMs = j.runMs + m.executorRunTime,
            cpuNs = j.cpuNs + m.executorCpuTime,
            gcMs = j.gcMs + m.jvmGCTime,
            shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
            shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
            spillBytes = j.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (j <- byId.get(e.jobId); t0 <- startMs.get(e.jobId))
        byId(e.jobId) = j.copy(seconds = Some((e.time - t0) / 1e3))
    }
  }
}
