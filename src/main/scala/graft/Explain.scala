package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.util.control.NonFatal

import graft.obs.JobCosts
import graft.queries.{GQuery, Registry}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's diagnostics main.
  *
  * Usage: runMain graft.Explain <sfDir> [--out <dir> <suffix>] <query-substring>...
  *
  * For each registry query whose name contains one of the substrings, in
  * name order, it runs the query twice, cold and then warm. A run builds
  * the query's DataFrame and writes every row to the noop sink, as the
  * benchmark times a query. It prints both times; for the warm run it
  * prints each Spark job's costs ([[JobCosts]]) and the executed plan.
  * The plan is the noop write's own, so it is AQE's final plan. With
  * `--out` the formatted plan also goes to `<dir>/<name>_<suffix>.txt`.
  * A query that throws prints `FAILED <name>: <exception>` and no time;
  * the main exits 1 when any query failed.
  */
object Explain {
  private val Usage = "usage: Explain <sfDir> [--out <dir> <suffix>] <query-substring>..."
  private val Mb = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val failed = try run(spark, args.toSeq, Registry.all, println) finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Explains the queries of `queries` that `args` names, printing
    * through `say`; returns how many of them failed. */
  def run(spark: SparkSession, args: Seq[String], queries: Seq[GQuery],
          say: String => Unit): Int = {
    val (sfDir, out, wanted) = args match {
      case sf +: "--out" +: dir +: suffix +: names => (sf, Some((dir, suffix)), names)
      case sf +: names => (sf, None, names)
      case _ => throw new IllegalArgumentException(Usage)
    }
    require(wanted.nonEmpty, Usage)
    val chosen = queries.filter(q => wanted.exists(q.name.contains)).sortBy(_.name)
    require(chosen.nonEmpty, s"no registry query matches ${wanted.mkString(" ")}")
    chosen.count { q =>
      try {
        val (cold, _) = materialize(spark, sfDir, q)
        val ((warm, plan), jobs) = JobCosts.during(spark)(materialize(spark, sfDir, q))
        say(f"===== ${q.name} cold $cold%.2f s warm $warm%.2f s, ${jobs.size} jobs =====")
        say("   job  exec   wall_s tasks   run_s   cpu_s   gc_s shufR_MB shufW_MB spill_MB  call site")
        jobs.foreach { j =>
          say(f"  ${j.id}%4d ${j.executionId.fold("-")(_.toString)}%5s " +
            f"${j.seconds.fold("open")(s => f"$s%.3f")}%8s ${j.tasks}%5d " +
            f"${j.runMs / 1e3}%7.2f ${j.cpuNs / 1e9}%7.2f ${j.gcMs / 1e3}%6.2f " +
            f"${j.shuffleReadBytes / Mb}%8.2f ${j.shuffleWriteBytes / Mb}%8.2f " +
            f"${j.spillBytes / Mb}%8.2f  ${j.callSite}")
        }
        say(plan.executedPlan.toString)
        out.foreach { case (dir, suffix) =>
          val file = Paths.get(dir, s"${q.name}_$suffix.txt")
          Files.createDirectories(file.getParent)
          Files.write(file, plan.explainString(FormattedMode).getBytes("UTF-8"))
          say(s"wrote $file")
        }
        false
      } catch {
        case NonFatal(e) => say(s"FAILED ${q.name}: $e"); true
      }
    }
  }

  /** Seconds to build `q`'s DataFrame and write it to the noop sink, and
    * the write's executed query. */
  private def materialize(spark: SparkSession, sfDir: String,
                          q: GQuery): (Double, QueryExecution) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val df = q.run(spark, sfDir)
    val build = System.nanoTime() - t0
    // queries that ran while building are reported before the listener
    // is registered, so the only one it hears of is the write
    ListenerBusDrain(spark.sparkContext)
    val write = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = write.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val secs = (build + System.nanoTime() - t1) / 1e9
      ListenerBusDrain(spark.sparkContext)
      (secs, write.get())
    } finally spark.listenerManager.unregister(listener)
  }
}
