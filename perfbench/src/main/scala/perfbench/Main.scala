package perfbench

import java.io.File
import java.nio.file.{Files => NFiles, Paths}

import scala.collection.mutable.LinkedHashMap

import graft.GraftSession

/** One benchmark run in one JVM on Spark `local[N]`, N = the cores the
  * JVM sees. `run.py` builds the harness and starts it in a fresh
  * working directory; see README.md.
  *
  * {{{
  * Main --workload analytics|daily --seed S --seconds T
  *      --trace 0|1 --data DIR --fingerprints FILE --out FILE
  * Main --pin FILE --data DIR       (writes the result fingerprints)
  * }}}
  */
object Main {

  /** Every per-layer metric with its unit, in report order. */
  val LayerMetrics: Seq[(String, String)] =
    Seq("session.start_s" -> "s", "session.warmup_s" -> "s", "session.peak_rss_mb" -> "MB",
      "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s") ++
      Battery.Families.map { case (f, _) => s"queries.$f.s" -> "s" } ++
      Seq("expressions.interpreted" -> "count", "expressions.hof" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
        "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
        "spark.driver_gap_s" -> "s") ++
      Daily.PipelineCalls.flatMap(c => Seq(s"pipelines.$c.s" -> "s",
        s"pipelines.$c.jobs" -> "count", s"pipelines.$c.written_mb" -> "MB",
        s"pipelines.$c.files_written" -> "count")) ++
      Seq("daily.step_p50_s" -> "s", "daily.docs_per_s" -> "docs/s",
        "daily.search_p50_s" -> "s", "daily.upkeep_s" -> "s",
        "daily.write_amp" -> "ratio", "daily.space_amp" -> "ratio") ++
      Seq("operators.lex_delta_share" -> "ratio", "operators.vec_delta_share" -> "ratio",
        "operators.pq_delta_share" -> "ratio", "operators.vec_cell_skew" -> "ratio",
        "operators.store_files" -> "count", "operators.store_mb" -> "MB",
        "streaming.triggers" -> "count", "streaming.trigger_p50_s" -> "s",
        "streaming.jobs_per_trigger" -> "count", "streaming.rows_per_s" -> "rows/s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(".").getCanonicalPath
    val t0 = System.nanoTime()
    // Spark's scratch space comes from SPARK_LOCAL_DIRS (set by run.py)
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      opt.get("pin") match {
        case Some(out) => pin(spark, opt("data"), out)
        case None => run(spark, opt, jvmStartMs, sessionS, loadStart, cores, work)
      }
    } finally spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, opt: Map[String, String],
                  jvmStartMs: Long, sessionS: Double, loadStart: String,
                  cores: Int, work: String): Unit = {
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, new File(opt("data")).getCanonicalPath, tracer,
      opt("seed").toLong, opt("seconds").toInt, work,
      Paths.get(opt("fingerprints")))
    val w: Workload = workload match {
      case "analytics" => new Battery(ctx, Battery.rows(Battery.AnalyticsRows))
      case "daily" => new Daily(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val w0 = System.nanoTime()
    w.setup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val m0 = System.nanoTime()
    val cpu0 = cpuJiffies()
    val (pc0, jit0) = (Measure.cpuSeconds(), Measure.jitSeconds())
    w.measure()
    val measureS = (System.nanoTime() - m0) / 1e9
    val (measureCpuS, measureJitS) = (Measure.cpuSeconds() - pc0, Measure.jitSeconds() - jit0)
    val stealShare = (cpu0, cpuJiffies()) match {
      case (Seq(t0, s0), Seq(t1, s1)) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }
    tracer.settle()
    val c0 = System.nanoTime()
    val correct = w.check()
    val checkS = (System.nanoTime() - c0) / 1e9
    val tally = w.tally

    val e2e = LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    w.endToEnd.foreach { case (n, v, u) => e2e(n) = (v, u) }

    val layer = LinkedHashMap[String, (Double, String)]()
    LayerMetrics.foreach { case (n, u) => layer(n) = (0.0, u) }
    if (traced) {
      def put(n: String, v: Double) = layer(n) = (v, layer(n)._2)
      put("session.start_s", sessionS)
      put("session.warmup_s", warmupS)
      put("session.peak_rss_mb", peakRssMb())
      val per = math.max(1, w.units).toDouble
      val c = tracer.total(w.timedSpans)
      Seq("expressions.interpreted" -> c.interpreted.toDouble, "expressions.hof" -> c.hof.toDouble,
        "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble, "spark.task_run_s" -> c.taskRunMs / 1e3,
        "spark.task_cpu_s" -> c.taskCpuNs / 1e9, "spark.gc_s" -> c.gcMs / 1e3,
        "spark.shuffle_read_mb" -> c.shuffleReadB / Tracer.Mb,
        "spark.shuffle_write_mb" -> c.shuffleWriteB / Tracer.Mb,
        "spark.spill_mb" -> c.spillB / Tracer.Mb, "spark.input_mb" -> c.inputB / Tracer.Mb,
        "spark.output_mb" -> c.outputB / Tracer.Mb,
        "spark.driver_gap_s" -> w.timedSpans.map(tracer.driverGap).sum
      ).foreach { case (n, v) => put(n, v / per) }
      w.layers.foreach { case (n, v, _) => put(n, v) }
      opt.get("trace-out").foreach(p => NFiles.writeString(Paths.get(p), tracer.toJson))
    }

    val env = Json.obj("workload" -> workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> traced, "nproc" -> cores,
      "local_n" -> cores, "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "cpu_steal_share" -> stealShare,
      "phase_s" -> Map("session" -> sessionS, "setup" -> setupS, "warmup" -> warmupS,
        "measure" -> measureS, "check" -> checkS),
      "peak_rss_mb" -> peakRssMb(),
      "samples" -> tally.samples.size,
      "measure_cpu_s" -> measureCpuS, "measure_jit_s" -> measureJitS,
      "op_s" -> tally.named.map { case (n, v) => Seq(n, v) },
      "errors" -> tally.errors.toSeq)
    def metrics(m: LinkedHashMap[String, (Double, String)]) =
      Json.Raw(m.map { case (n, (v, u)) => Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u) }
        .mkString("{", ",", "}"))
    val result = Json.obj(
      "correct" -> (correct && tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "env" -> Json.Raw(env),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer))
    NFiles.writeString(Paths.get(opt("out")), result + "\n")
  }

  /** Fingerprints of every analytics row on `data`. */
  private def pin(spark: org.apache.spark.sql.SparkSession, data: String, out: String): Unit = {
    val entries = Battery.allRows.map { case (_, q) =>
      spark.catalog.clearCache()
      val fp = Fingerprint.of(q.run(spark, data))
      s"  ${Json.str(q.name)}: ${Json.obj("rows" -> fp.rows, "hash" -> fp.hash, "oracle" -> q.oracle.isDefined)}"
    }
    NFiles.writeString(Paths.get(out), entries.mkString("{\n", ",\n", "\n}\n"))
  }

  /** The host's 1/5/15-minute load averages. */
  def loadavg(): String =
    try new String(NFiles.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** (all, steal) CPU jiffies of the host so far, from /proc/stat. */
  def cpuJiffies(): Seq[Long] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        Seq(xs.take(8).sum, if (xs.length > 7) xs(7) else 0L)
      } finally f.close()
    } catch { case _: Exception => Nil }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally f.close()
  }
}
