package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.queries._

/** A battery of registry rows: set-up runs every row once, untimed, and
  * checks its result fingerprint; then full passes, each in a fresh
  * seed-permuted order, run until `seconds` have elapsed and at least
  * `MinPasses` passes are done. Every timed execution is `run` (which
  * may run eager jobs) followed by a noop-sink write of the returned
  * DataFrame. The last pass's results are fingerprinted again after
  * the timed region, so a result that goes wrong only on repeated
  * calls is a failure too. */
final class Battery(ctx: Ctx, rows: Seq[(String, GQuery)]) extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rng = new scala.util.Random(ctx.seed)
  private val pinned = Fingerprint.load(ctx.fingerprints)
  private val ok = scala.collection.mutable.Map.empty[String, Boolean]
  private val passes = ArrayBuffer.empty[Double]
  /** (row, returned DataFrame) of each counted execution of the last pass. */
  private var lastPass = Seq.empty[(String, DataFrame)]
  val tally = new Measure.Tally

  /** A row whose result does not match its pin fails every timed
    * execution; the reason goes to the run's error list. */
  def setup(): Unit =
    rng.shuffle(rows).foreach { case (_, q) =>
      spark.catalog.clearCache()
      val got = try Some(Fingerprint.of(q.run(spark, ctx.data)))
                catch { case e: Exception => tally.errors += s"${q.name}: ${e.getMessage}"; None }
      ok(q.name) = got.isDefined && got == pinned.get(q.name)
      if (got.isDefined && !ok(q.name))
        tally.errors += s"${q.name}: got ${got.get.json}, pinned ${pinned.get(q.name).map(_.json)}"
    }

  def measure(): Unit = {
    val t0 = System.nanoTime()
    while (passes.size < Battery.MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val order = rng.shuffle(rows)
      val kept = ArrayBuffer.empty[(String, DataFrame)]
      val p0 = System.nanoTime()
      tracer.span("pass") {
        order.foreach { case (family, q) =>
          spark.catalog.clearCache()
          tracer.span(s"$family.${q.name}") {
            tally.record(q.name) {
              val df = tracer.span("build")(q.run(spark, ctx.data))
              tracer.span("exec")(Measure.materialize(df))
              df
            }(_ => ok(q.name))
          }.foreach { case (df, _) => kept += q.name -> df }
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
      lastPass = kept.toSeq
    }
  }

  /** Set-up checked every row's first result; this checks the results
    * the last timed pass returned. A mismatch turns that execution into
    * a failure with no sample. */
  def check(): Boolean = {
    lastPass.foreach { case (name, df) =>
      spark.catalog.clearCache()
      val got = scala.util.Try(Fingerprint.of(df))
      if (got.toOption != pinned.get(name))
        tally.reject(name, s"$name: timed result ${got.fold(_.toString, _.json)}, pinned ${pinned.get(name).map(_.json)}")
    }
    ok.values.forall(identity) && tally.failed == 0
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("battery_s", Measure.median(passes.toSeq), "s"),
    ("query_p50_s", Measure.median(tally.samples), "s"))

  override def units: Int = passes.size

  private def rowSpans: Seq[Span] = {
    val passIds = tracer.all.filter(_.name == "pass").map(_.id).toSet
    tracer.all.filter(s => passIds(s.parent))
  }

  def timedSpans: Seq[Span] = rowSpans

  def layers: Seq[(String, Double, String)] = {
    val spans = tracer.all
    def perPass(x: Double) = x / units
    val build = spans.filter(_.name == "build").map(_.seconds).sum
    val exec = spans.filter(_.name == "exec")
    val plan = tracer.total(rowSpans).planMs / 1e3
    val execPlan = tracer.total(exec).planMs / 1e3
    val byFamily = rowSpans.groupBy(_.name.takeWhile(_ != '.'))
    Seq(
      ("queries.build_s", perPass(build), "s"),
      ("queries.plan_s", perPass(plan), "s"),
      ("queries.exec_s", perPass(exec.map(_.seconds).sum - execPlan), "s")) ++
      Battery.Families.map { case (f, _) =>
        (s"queries.$f.s", perPass(byFamily.getOrElse(f, Nil).map(_.seconds).sum), "s")
      }
  }
}

object Battery {
  /** Later passes run warmer, so a pass count that followed the host's
    * speed would move the per-pass numbers; a fixed minimum keeps the
    * count the same from run to run. */
  val MinPasses = 2

  /** The registry's analytics family objects. */
  val Families: Seq[(String, Seq[GQuery])] = Seq(
    "Relational" -> Relational.queries, "WindowsQ" -> WindowsQ.queries,
    "TimeSeriesQ" -> TimeSeriesQ.queries, "DomainQ" -> DomainQ.queries,
    "DomainQ2" -> DomainQ2.queries, "FitQ" -> FitQ.queries,
    "TextQ" -> TextQ.queries)

  /** Every row of the analytics families. */
  def allRows: Seq[(String, GQuery)] =
    Families.flatMap { case (f, qs) => qs.map(f -> _) }

  /** The rows one run measures: one row per family (README.md gives
    * the choice and the run-time budget behind it). */
  val AnalyticsRows = Seq(
    "q01_pricing_summary", "q15_sigma_clip", "q22_asof_join",
    "q28_quality_score", "q42_filename_surgery", "q67_weight_renorm",
    "q60_multires_spectrum")

  def rows(names: Seq[String]): Seq[(String, GQuery)] = {
    val byName = allRows.map { case (f, q) => q.name -> (f, q) }.toMap
    names.map(n => byName.getOrElse(n, sys.error(s"$n is not an analytics row")))
  }
}
