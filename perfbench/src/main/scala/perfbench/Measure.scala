package perfbench

import org.apache.spark.sql.DataFrame

/** The timing rules every workload shares.
  *
  *  - An operation is timed as a FULL materialization: every row and
  *    column of its DataFrame goes through the `noop` sink. `count()`
  *    is never used: Catalyst prunes the columns (and the outer joins
  *    over unique keys) that a count does not need.
  *  - An operation that throws, or whose output check fails, is a
  *    failure. A failure adds to `failed` and yields NO latency sample:
  *    the time until the exception is discarded, never recorded.
  */
object Measure {

  /** Writes every row and column of `df` to the noop sink. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU seconds this JVM has used so far, over all its threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent so far. */
  def jitSeconds(): Double = jit.getTotalCompilationTime / 1e3

  /** Wall seconds of `body`; `Left` carries the failure instead. */
  def timed[A](body: => A): Either[Throwable, (A, Double)] = {
    val t0 = System.nanoTime()
    try {
      val a = body
      Right((a, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
  }

  /** Counts operations and keeps the latency samples of those that
    * succeeded and passed their check. */
  final class Tally {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    private var attempts = 0
    private var failures = 0
    private var spentS = 0.0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]

    def attempted: Int = attempts
    def failed: Int = failures
    /** Wall seconds of every attempt, failed ones included (checks
      * excluded), so a failure never makes a sequence look faster. */
    def spent: Double = spentS
    def samples: Seq[Double] = buf.map(_._2).toSeq
    /** (operation, seconds) of every counted sample, in order. */
    def named: Seq[(String, Double)] = buf.toSeq

    /** Times `body` and records its latency only if it returns and
      * `check` accepts its result (the check runs after the clock
      * stops). Returns the result and its seconds when it counted. */
    def record[A](what: String)(body: => A)(check: A => Boolean): Option[(A, Double)] = {
      attempts += 1
      val t0 = System.nanoTime()
      val r = timed(body)
      spentS += (System.nanoTime() - t0) / 1e9
      r match {
        case Right((a, s)) if check(a) => buf += what -> s; Some((a, s))
        case Right(_) => fail(s"$what: output check failed"); None
        case Left(e) => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      }
    }

    /** An attempt that failed outside `record` (e.g. a check that runs
      * after the timed call). */
    def fail(reason: String): Unit = { failures += 1; errors += reason }

    /** A counted operation whose output was found wrong later (outside
      * the clock): it becomes a failure and its last sample is dropped. */
    def reject(what: String, reason: String): Unit = {
      val i = buf.lastIndexWhere(_._1 == what)
      if (i >= 0) buf.remove(i)
      fail(reason)
    }
  }

  /** Linear-interpolated quantile (the `statistics.quantiles`
    * inclusive method); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
