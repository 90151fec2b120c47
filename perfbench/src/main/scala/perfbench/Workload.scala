package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. */
final case class Ctx(spark: SparkSession, data: String, tracer: Tracer,
                     seed: Long, seconds: Int, work: String,
                     fingerprints: java.nio.file.Path)

/** One workload: an untimed set-up, a timed region, an output check
  * outside timing, and its metrics. */
trait Workload {
  def tally: Measure.Tally
  def setup(): Unit
  def measure(): Unit
  /** Runs after `measure`; false if the outputs are wrong. */
  def check(): Boolean
  /** (name, value, unit) of the workload's end-to-end metrics. */
  def endToEnd: Seq[(String, Double, String)]
  /** (name, value, unit) of the per-layer metrics it can report. */
  def layers: Seq[(String, Double, String)]
  /** The spans of the timed operations. */
  def timedSpans: Seq[Span]
  /** Divisor that turns the timed spans' totals into per-unit values
    * (timed passes for a battery, 1 for a lifecycle). */
  def units: Int = 1
}
