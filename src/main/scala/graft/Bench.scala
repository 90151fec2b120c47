package graft

object Bench {
  import scala.jdk.CollectionConverters._

  /** The host's 1/5/15-min load averages — recorded at battery start
    * and end so a contaminated window (another heavy process sharing
    * the cores) is visible IN the artifact instead of discovered a
    * round later by a refuting rerun. */
  private def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.trim.split("\\s+").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "[]" }

  /** Battery-level contamination trigger (round 11's lesson: a fully
    * degraded window inflates EVERY query ~uniformly, so no single
    * query crosses the per-query 3×-best threshold — the r11 driver
    * recut carried q89 at ~2.1× with zero solo reruns fired). Two
    * independent signals, either one flags the whole artifact:
    *   - the 1-min load average at battery START already exceeds a
    *     quarter of the cores (someone else is on the box), or
    *   - the median per-query max/min ratio across the two reversed
    *     passes exceeds 1.4 (half the battery saw large pass-to-pass
    *     swings — position effects alone keep the median near 1.1).
    * Pure arithmetic so the trigger is unit-testable without Spark.
    */
  def batteryContaminated(loadavg1m: Double, ncpus: Int,
                          passSkewMedian: Double): Boolean =
    loadavg1m > ncpus / 4.0 || passSkewMedian > 1.4

  /** Median of per-query max/min pass ratios; queries with a failed
    * run (+Inf, or a non-positive time) are excluded. 1.0 when nothing is
    * comparable. */
  def passSkewMedian(p1: Map[String, Double],
                     p2: Map[String, Double]): Double = {
    val ratios = p1.keySet.intersect(p2.keySet).toSeq
      .map(k => (p1(k), p2(k)))
      .collect { case (a, b) if a > 0 && b > 0 && !a.isInfinity && !b.isInfinity =>
        math.max(a, b) / math.min(a, b) }
      .sorted
    if (ratios.isEmpty) 1.0 else ratios(((ratios.size - 1) * 0.5).toInt)
  }

  /** One timed run in seconds, or +Inf when `run` throws: a failed run
    * never publishes its elapsed-until-exception time, so it can never
    * become a query's best time. */
  def timeRun(run: => Unit): Double = {
    val t0 = System.nanoTime()
    try { run; (System.nanoTime() - t0) / 1e9 }
    catch { case _: Throwable => Double.PositiveInfinity }
  }

  /** Per-query best times, the failed queries and the battery total. A
    * query with any failed (+Inf) run is failed: its best time is None
    * (serialized as null) and the total leaves it out. */
  def summarize(runs: Seq[(String, Seq[Double])])
      : (Seq[(String, Option[Double])], Seq[String], Double) = {
    val best = runs.map { case (n, rs) =>
      n -> Some(rs.min).filter(_ => rs.forall(r => !r.isInfinity)) }
    (best, best.collect { case (n, None) => n }, best.flatMap(_._2).sum)
  }

  /** A run time as JSON: a failed (+Inf) run is `null`. */
  private def runJson(r: Double): String = if (r.isInfinity) "null" else r.toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadavg()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen path once with a FIXED cheap query so per-query
    // times measure execution, not first-use classloading — and so no
    // timed query gets an accidental warm cache from the warmup.
    try SparkEntry.queries("q09_catalog_totals")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Optional args: query-name substrings to run a subset while iterating.
    val wanted = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      args.isEmpty || args.exists(n.contains)
    }
    // Each query runs TWICE and the reported time is the min of the two.
    // A single-shot measurement is hostage to host perturbation (GC, page
    // cache eviction, noisy neighbors): round 5's single-run battery
    // recorded 174 s where an immediate re-run gave 115 s, with single
    // queries inflated up to 27×. min-of-2 suppresses one-off stalls while
    // both raw runs stay in the JSON ("runs") for auditability.
    //
    // The two runs are TWO END-TO-END PASSES, the second in REVERSE
    // order — not back-to-back per query. Back-to-back min-of-2 cannot
    // see battery-POSITION effects (round 6: q82 read 3.74 s in-battery
    // vs 2.13 s solo — late-alphabet queries pay accumulated-JVM tax in
    // BOTH consecutive runs). Reversing the second pass puts every query
    // at complementary positions, so the per-query min across passes is
    // position-averaged: a query late in pass 1 is early in pass 2.
    def pass(order: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Map[String, Double] =
      order.map { case (name, fn) =>
        // Each invocation measured standalone: no cached data carried
        // across queries or runs (intra-query .cache() still works).
        spark.catalog.clearCache()
        name -> timeRun(fn(spark, sfDir).count())
      }.toMap
    val (p1, p2) = (pass(wanted), pass(wanted.reverse))
    // CONTAMINATION GUARD (round 10's lesson: a battery where q121 read
    // 80 AND 92 s while the same HEAD's solo run read 8-11 s — a
    // concurrent heavy process can inflate BOTH passes, which
    // min-of-2-reversed cannot detect). Reference = each query's BEST
    // recorded time across every committed BENCH_r*.json (min over
    // history is robust to one contaminated artifact); any query whose
    // min-of-2 exceeds 3× it gets a THIRD, solo re-run, recorded
    // separately in the JSON so the round's record never ships an
    // 8-17× lie about HEAD again.
    // NOTE (minima-pool format dependency): this regex matches only the
    // builder-format `"qNN_name":SECONDS` pairs. Driver-recut artifacts
    // whose tails carry `"qNN":[a,b]` array pairs contribute NOTHING to
    // the pool (the `[` after the colon never matches), so the best-time
    // reference is drawn from committed builder-format artifacts only —
    // intentional today (those are the clean-window records) but the
    // pool silently shrinks if the committed format ever changes.
    val best: Map[String, Double] = {
      val qNum = """"(q\d+[a-zA-Z0-9_]*)":([0-9][0-9.eE+-]*)""".r
      val files =
        try {
          val s = java.nio.file.Files.list(java.nio.file.Paths.get("."))
          try s.iterator().asScala
            .filter(_.getFileName.toString.matches("BENCH_r\\d+\\.json"))
            .toList
          finally s.close()
        } catch { case _: Throwable => Nil }
      files.flatMap { p =>
        try qNum.findAllMatchIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          .map(m => m.group(1) -> m.group(2).toDouble).toList
        catch { case _: Throwable => Nil }
      }.groupMapReduce(_._1)(_._2)(math.min)
    }
    val perQueryFlagged = wanted.collect {
      case (name, _) if best.get(name)
        .exists(b => b > 0 && math.min(p1(name), p2(name)) > 3.0 * b) => name
    }
    // Battery-level trigger: a uniformly contaminated window inflates
    // everything below any per-query threshold. When it fires, mark the
    // artifact AND solo-rerun the top-N slowest queries (the ones whose
    // absolute inflation dominates the total), so the artifact carries
    // its own clean-ish evidence even when every per-query check passed.
    val load1m =
      try loadStart.stripPrefix("[").split(",")(0).toDouble
      catch { case _: Throwable => 0.0 }
    val skewMedianPasses = passSkewMedian(p1, p2)
    val ncpus = Runtime.getRuntime.availableProcessors()
    val contaminated = batteryContaminated(load1m, ncpus, skewMedianPasses)
    val batteryFlagged =
      if (!contaminated) Seq.empty[String]
      else wanted.map(_._1)
        .sortBy(n => -math.min(p1(n), p2(n))).take(8)
    val flagged = (perQueryFlagged ++ batteryFlagged).distinct
    val solo: Map[String, Double] =
      flagged.map { name =>
        spark.catalog.clearCache()
        val fn = SparkEntry.queries(name)
        name -> timeRun(fn(spark, sfDir).count())
      }.toMap
    val allRuns = wanted.map { case (name, _) =>
      name -> (Seq(p1(name), p2(name)) ++ solo.get(name))
    }
    val (bestTimes, failed, total) = summarize(allRuns)
    val qs = bestTimes.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(runJson) }
      .mkString("{", ",", "}")
    val rawRuns = allRuns.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(runJson).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    // Pass-skew summary: per-query max/min ratio across the two passes.
    // High skew = battery-POSITION tax (warmth, accumulated-JVM state),
    // not code — future rounds read this to tell a positional artifact
    // from a real regression without a solo rerun (the r6 q82 lesson).
    val skews = allRuns.collect {
      case (name, rs) if rs.forall(r => r > 0 && !r.isInfinity) =>
        name -> rs.max / rs.min
    }.sortBy(-_._2)
    val skewJson =
      if (skews.isEmpty) "{}"
      else {
        val sorted = skews.map(_._2).sorted
        def pct(p: Double) = sorted(((sorted.size - 1) * p).toInt)
        s"""{"median":${pct(0.5)},"p90":${pct(0.9)},"max":${sorted.last},""" +
          s""""max_query":"${skews.head._1}"}"""
      }
    val soloJson = flagged.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val guardJson =
      s"""{"contaminated_window":$contaminated,"load1m":$load1m,""" +
        s""""ncpus":$ncpus,"pass_skew_median":$skewMedianPasses}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$rawRuns,"pass_skew":$skewJson,"battery_guard":$guardJson,"solo_reruns":$soloJson,"failed":$failedJson,"loadavg_start":$loadStart,"loadavg_end":${loadavg()},"sf":"$sfDir"}"""
    // The driver parses the bench JSON from output where sbt may append its
    // own trailer lines; persist to a file AND print after spark.stop() so
    // the JSON is the program's last stdout line.
    //
    // A SUBSET run (args filtered the battery — an A/B slice, an
    // iterate-on-one-query loop) writes to a DIFFERENT file than the
    // full battery: round 12's committed record was silently clobbered
    // by a later six-query A/B slice because both wrote target/bench
    // .json and the copy step took whichever was newest. The full
    // battery is the only run allowed to own the record filename.
    val outPath = java.nio.file.Paths.get("target",
      if (args.isEmpty) "bench.json" else "bench_slice.json")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
