package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.1 K1-K8). Everything is a distributed write; the
  * "fixed-format" sinks render rows to strings with Column algebra and
  * write text — no driver-side formatting loops. */
object Sinks {

  /** K1: quoted CSV with header (`LTA/lta-query.py:188-196`). */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true").csv(path)

  /** K2-style fixed-width report: columns rendered right-aligned at the
    * given widths, optional commented header line
    * (`fluxcal/lofar_fluxcal.py:601-647,770-772`). */
  def fixedWidthReport(df: DataFrame, cols: Seq[(String, Int)],
                       path: String): Unit = {
    val line = concat(cols.map { case (c, w) =>
      lpad(col(c).cast("string"), w, " ")
    }: _*)
    df.select(line.as("value")).write.mode(SaveMode.Overwrite).text(path)
  }

  /** K3: TOA/tim sink — pre-rendered lines to text (`sp2tim.py:133-187`;
    * line rendering itself is the q41 operator). */
  def timLines(lines: DataFrame, lineCol: String, path: String): Unit =
    lines.select(col(lineCol).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** K5: packed little-endian float32 profile (`pulsestack.py:651-657`).
    * Profiles are tiny (nbin ≤ 4096) — the one legitimate collect-to-
    * driver sink; order pinned by the bin column. */
  def binaryProfile(profile: DataFrame, binCol: String, valueCol: String,
                    path: String): Unit = {
    val rows = profile.orderBy(col(binCol))
      .select(col(valueCol).cast("float")).collect()
    val buf = java.nio.ByteBuffer.allocate(rows.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    rows.foreach(r => buf.putFloat(r.getFloat(0)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.array())
  }

  /** K8: dead-letter/retry sink — append failed keys for later re-runs
    * (`LTA/lta-retrieve.py:279-282,549-555`). */
  def deadLetter(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** K7: persist a calibrated cube partitioned for re-read locality —
    * the partition layout mirrors the reference's (obsid, part) routing
    * (`cluster-copy.py:340-359`). */
  def cubeParquet(samples: DataFrame, path: String,
                  partitionCols: Seq[String] = Seq("obs_id")): Unit =
    samples.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)
}
