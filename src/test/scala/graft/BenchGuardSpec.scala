package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the battery-level contamination trigger arithmetic
  * (Bench.batteryContaminated / Bench.passSkewMedian). Pure functions —
  * no Spark session needed. The trigger exists because a uniformly
  * degraded host window inflates every query below the per-query
  * 3×-best threshold (round 11's driver recut: q89 at ~2.1× with zero
  * solo reruns fired, loadavg_start 9.92 on a 32-cpu box).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("load trigger: fires above ncpus/4, not at or below it") {
    assert(!Bench.batteryContaminated(8.0, 32, 1.0))   // exactly ncpus/4
    assert(Bench.batteryContaminated(8.01, 32, 1.0))
    assert(Bench.batteryContaminated(9.92, 32, 1.14))  // the r11 recut window
    assert(!Bench.batteryContaminated(1.78, 32, 1.14)) // the r11 clean window
  }

  test("skew trigger: fires above 1.4 median, not at or below it") {
    assert(!Bench.batteryContaminated(0.5, 32, 1.4))
    assert(Bench.batteryContaminated(0.5, 32, 1.41))
    assert(Bench.batteryContaminated(0.5, 32, 1.52))   // the r11 recut skew
  }

  test("either signal alone is sufficient") {
    assert(Bench.batteryContaminated(20.0, 32, 1.0))
    assert(Bench.batteryContaminated(0.0, 32, 2.0))
    assert(!Bench.batteryContaminated(0.0, 32, 1.0))
  }

  test("passSkewMedian: median of per-query max/min over shared keys") {
    val p1 = Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)
    val p2 = Map("a" -> 2.0, "b" -> 2.0, "c" -> 3.3)
    // ratios: a=2.0, b=1.0, c=1.1 → sorted [1.0, 1.1, 2.0] → median 1.1
    assert(math.abs(Bench.passSkewMedian(p1, p2) - 1.1) < 1e-9)
  }

  test("passSkewMedian: failed runs (non-positive) are excluded") {
    val p1 = Map("a" -> 1.0, "b" -> -1.0)
    val p2 = Map("a" -> 1.2, "b" -> 5.0)
    assert(math.abs(Bench.passSkewMedian(p1, p2) - 1.2) < 1e-9)
  }

  test("passSkewMedian: empty comparable set reads 1.0 (never triggers)") {
    assert(Bench.passSkewMedian(Map.empty, Map.empty) == 1.0)
    assert(Bench.passSkewMedian(Map("a" -> -1.0), Map("a" -> 1.0)) == 1.0)
  }

  test("passSkewMedian: failed runs (+Inf) are excluded") {
    val inf = Double.PositiveInfinity
    assert(Bench.passSkewMedian(Map("a" -> 1.0, "b" -> inf), Map("a" -> 1.5, "b" -> 0.1)) == 1.5)
  }

  test("timeRun: a run that throws records +Inf, not its elapsed time") {
    assert(Bench.timeRun(throw new IllegalStateException("boom")).isPosInfinity)
    val t = Bench.timeRun(Thread.sleep(5))
    assert(t >= 0.004 && t < 60.0)
  }

  test("summarize: a failed query is null, listed as failed and left out of the total") {
    val inf = Double.PositiveInfinity
    val (best, failed, total) = Bench.summarize(Seq(
      "ok" -> Seq(2.0, 1.5),
      "throws_once" -> Seq(inf, 0.2),
      "throws" -> Seq(inf, inf, inf)))
    assert(best == Seq("ok" -> Some(1.5), "throws_once" -> None, "throws" -> None))
    assert(failed == Seq("throws_once", "throws"))
    assert(total == 1.5)
    assert(Bench.summarize(Nil) == ((Nil, Nil, 0.0)))
  }
}
