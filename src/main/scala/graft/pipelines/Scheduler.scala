package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.AstroFunctions._

/** Observation scheduler (`scheduling/bfscheduler.py`) re-expressed
  * Spark-first:
  *
  *  - **Scoring** (`bfscheduler.py:246-324`) is a per-target Column
  *    computation over the (possibly large) target list — fully
  *    distributed, no driver loop: visibility gate, transit times from the
  *    C4 pack, approach/elevation/in-slot bonuses, priority override.
  *  - **Greedy placement** (`bfscheduler.py:334-454`) is inherently
  *    order-dependent (each placement constrains the next), so it runs
  *    driver-side over the COLLECTED scored rows — schedules are tiny
  *    (tens of targets per observing slot) and SURVEY.md §2.3 J10 plans
  *    exactly this split.
  *  - **XML render** (K9, `bfscheduler.py:753-788`) is a driver-side
  *    string render of the placed schedule (capability parity; the
  *    reference splices a MoM template, which is an I/O format detail).
  */
object Scheduler {

  final case class Config(
      startMjd: Double,
      endMjd: Double,
      latDeg: Double = 52.915111, // LOFAR site, azlst.pl defaults
      lonDeg: Double = 6.869883,
      horizonDeg: Double = 0.0,
      transitToleranceMin: Double = 60.0,
      gapMin: Int = 1,
      /** true (default): per-minute horizon check on EVERY placement;
        * false: reference parity — the reference only horizon-checks
        * conflict-relocated scans (`bfscheduler.py:437-445`), accepting
        * edge-clamped scans that dip below the horizon mid-scan. */
      strictHorizonCheck: Boolean = true)

  final case class Target(name: String, raDeg: Double, decDeg: Double,
                          obstimeMin: Int, priority: Double = 0.0)

  final case class Scored(name: String, raDeg: Double, decDeg: Double,
                          obstimeMin: Int, score: Double, transitMjd: Double)

  final case class Placement(name: String, startMin: Int, endMin: Int,
                             midElevationDeg: Double,
                             transitAdvancedMin: Double)

  /** Distributed scoring stage. Input columns: name, ra_deg, dec_deg,
    * obstime_min, priority (0 ⇒ compute). Output adds transit_mjd and
    * score; invisible targets (transit below horizon) are dropped, like
    * the reference's visibility pre-pass (`bfscheduler.py:260-272`). */
  def scoreTargets(targets: DataFrame, cfg: Config): DataFrame = {
    val start = lit(cfg.startMjd); val end = lit(cfg.endMjd)
    val lat = lit(cfg.latDeg); val lon = lit(cfg.lonDeg)
    targets
      .withColumn("transit_el", transitElevation(col("dec_deg"), lat))
      .filter(col("transit_el") > cfg.horizonDeg)
      .withColumn("prev_transit", previousTransitMjd(start, col("ra_deg"), lon))
      .withColumn("next_transit", nextTransitMjd(start, col("ra_deg"), lon))
      .withColumn("approach_min",
        transitApproachMin(start, end, col("prev_transit"), col("next_transit")))
      .withColumn("transit_mjd",
        chosenTransitMjd(start, end, col("prev_transit"), col("next_transit")))
      .withColumn("computed_score",
        when(col("approach_min") > 0 &&
          col("approach_min") <= cfg.transitToleranceMin,
          lit(100.0) + col("approach_min") / 10.0).otherwise(0.0) +
          lit(90.0) / col("transit_el") +
          when(col("next_transit").between(start, end), 10.0).otherwise(0.0))
      // priority field overrides the computed score when non-zero
      // (`bfscheduler.py:314-318`)
      .withColumn("score",
        when(col("priority") =!= 0.0, col("priority"))
          .otherwise(col("computed_score")))
      .select(col("name"), col("ra_deg").as("raDeg"),
        col("dec_deg").as("decDeg"), col("obstime_min").as("obstimeMin"),
        col("score"), col("transit_mjd").as("transitMjd"))
  }

  /** Driver-side elevation at a given MJD (spherical-triangle form of
    * `azza.pl`, same math as the azEl Column). */
  private[pipelines] def elevationDeg(mjd: Double, raDeg: Double,
                                      decDeg: Double, cfg: Config): Double = {
    val lst = {
      val x = 280.46061837 + 360.98564736629 * (mjd - 51544.5) + cfg.lonDeg
      val r = x % 360.0; if (r < 0) r + 360.0 else r
    }
    val ha = math.toRadians({ val r = (lst - raDeg) % 360.0; if (r < 0) r + 360.0 else r })
    val dec = math.toRadians(decDeg); val lat = math.toRadians(cfg.latDeg)
    math.toDegrees(math.asin(
      math.sin(dec) * math.sin(lat) + math.cos(dec) * math.cos(lat) * math.cos(ha)))
  }

  /** Greedy minute-grid placement (`bfscheduler.py:334-454`): targets in
    * score order; each scan is anchored mid-point-at-transit, clamped to
    * the slot, and on conflict moved to the open gap whose trial midpoint
    * stays closest to transit; a scan is rejected when its midpoint drifts
    * more than transitToleranceMin from transit or dips below the horizon.
    * Sequential by design — placements are a shared resource. */
  def greedyPlace(scored: Seq[Scored], cfg: Config): Seq[Placement] = {
    val mStart = 0
    val mEnd = math.round(1440.0 * (cfg.endMjd - cfg.startMjd)).toInt
    var reserved = scala.collection.immutable.SortedSet(mStart - 1, mEnd + 1)
    val placements = scala.collection.mutable.ArrayBuffer.empty[Placement]
    val tol = cfg.transitToleranceMin

    for (s <- scored.sortBy(t => (-t.score, t.name))) {
      val obstime = s.obstimeMin
      val transitMin = 1440.0 * (s.transitMjd - cfg.startMjd)
      var scanstart = math.round(transitMin - 0.5 * obstime).toInt
      var scanend = scanstart + obstime
      var schedule = true

      // clamp into the observing window; too-far-from-transit shifts fail
      if (scanstart < mStart) {
        if (mStart - (scanstart + 0.5 * obstime) > tol) schedule = false
        val shift = mStart - scanstart
        scanstart += shift; scanend += shift
      }
      if (scanend > mEnd) {
        if (scanend - 0.5 * obstime - mEnd > tol) schedule = false
        val shift = scanend - mEnd
        scanstart -= shift; scanend -= shift
      }

      val overlaps = reserved.exists(m => m >= scanstart && m <= scanend)
      var relocated = false
      if (overlaps && schedule) {
        // open gaps between consecutive reserved minutes, large enough for
        // the scan plus setup gaps on both sides
        val sorted = reserved.toIndexedSeq
        val slots = sorted.zip(sorted.tail).filter {
          case (a, b) => b - a >= obstime + 2 * cfg.gapMin
        }
        if (slots.isEmpty) schedule = false
        else {
          var best = Int.MaxValue.toDouble
          for ((a, b) <- slots) {
            val slotstart = a + cfg.gapMin
            val slotend = b - cfg.gapMin
            val (trialstart, trialend) =
              if (slotend <= transitMin) (slotend - obstime, slotend)
              else if (slotstart >= transitMin) (slotstart, slotstart + obstime)
              else {
                var ts = math.round(transitMin - 0.5 * obstime).toInt
                if (ts < slotstart) ts = slotstart
                var te = ts + obstime
                if (te > slotend) { te = slotend; ts = te - obstime }
                (ts, te)
              }
            val diff = math.abs(trialstart + 0.5 * obstime - transitMin)
            if (diff < best) { best = diff; scanstart = trialstart; scanend = trialend }
          }
          if (math.abs(scanstart + 0.5 * obstime - transitMin) > tol)
            schedule = false
          relocated = true
        }
      }

      // per-minute horizon check: by default for EVERY candidate
      // placement — stricter than the reference, which only checks
      // conflict-relocated scans (`bfscheduler.py:437-445`); a
      // transit-anchored scan clamped by the slot edge can still dip
      // below the horizon mid-scan. strictHorizonCheck=false restores
      // exact reference parity.
      if (schedule && (cfg.strictHorizonCheck || relocated)) {
        val minEl = (scanstart to scanend).map { mm =>
          elevationDeg(cfg.startMjd + mm / 1440.0, s.raDeg, s.decDeg, cfg)
        }.min
        if (minEl < cfg.horizonDeg) schedule = false
      }

      if (schedule) {
        reserved = reserved ++ (scanstart to scanend)
        val midMjd = cfg.startMjd + (scanstart + 0.5 * obstime) / 1440.0
        placements += Placement(s.name, scanstart, scanend,
          elevationDeg(midMjd, s.raDeg, s.decDeg, cfg),
          1440.0 * (midMjd - s.transitMjd))
      }
    }
    placements.sortBy(_.startMin).toSeq
  }

  /** End-to-end: score distributed, place on the driver. */
  def run(targets: DataFrame, cfg: Config): Seq[Placement] = {
    import org.apache.spark.sql.Encoders
    val scored = scoreTargets(targets, cfg)
      .as(Encoders.product[Scored]).collect().toSeq
    greedyPlace(scored, cfg)
  }

  /** K9: merged schedule XML (driver-side render, one item per placed
    * scan inside a project folder — `bfscheduler.py:753-788` shape). */
  def renderScheduleXml(project: String, cfg: Config,
                        placements: Seq[Placement]): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    def minToUtc(m: Int): String = {
      val mjd = cfg.startMjd + m / 1440.0
      val unixSec = math.round((mjd - 40587.0) * 86400.0)
      java.time.Instant.ofEpochSecond(unixSec).toString.replace("Z", "")
    }
    val items = placements.zipWithIndex.map { case (p, i) =>
      s"""    <item index="$i">
         |      <name>${esc(p.name)}</name>
         |      <startTime>${minToUtc(p.startMin)}</startTime>
         |      <endTime>${minToUtc(p.endMin)}</endTime>
         |      <midElevation>${f"${p.midElevationDeg}%.2f"}</midElevation>
         |    </item>""".stripMargin
    }.mkString("\n")
    s"""<schedule project="${esc(project)}">
       |  <children>
       |$items
       |  </children>
       |</schedule>""".stripMargin
  }
}
