package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.BinarySources
import graft.operators.ProfileOps

/** `pulsestack.py` §3.3/§2.9 analog: raw float32 stream → per-chunk
  * piecewise detrend (W7) → phase fold (A2) → profile.
  *
  * The reference's block loop (1e6-sample reads, running counters) is
  * replaced by Spark partitioning: detrend is a grouped closed-form
  * regression per chunk, folding keys on absolute sample time, so the
  * result is independent of block/partition boundaries (ST3 insight —
  * the running state was an artifact of sequential reading).
  */
object PulseStack {

  final case class Config(
      tsampSec: Double,
      t0Sec: Double,
      periodSec: Double,
      nbins: Int,
      detrendChunk: Int = 1000)

  /** W7: remove a per-chunk least-squares line (closed-form from sums —
    * no collect, no UDF). `seriesCols` keys the chunks when several
    * independent series (e.g. one per file) share the frame — chunk ids
    * are file-relative, so pooling them would fit one line through
    * unrelated samples. */
  def detrend(ts: DataFrame, chunkLen: Int,
              seriesCols: Seq[String] = Nil): DataFrame = {
    val x = col("idx").cast(DoubleType)
    val g = ts.withColumn("chunk", (col("idx") / chunkLen).cast(LongType))
    val fits = g.groupBy((seriesCols.map(col) :+ col("chunk")): _*).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(col("value")).as("sy"), sum(x * col("value")).as("sxy"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("n"))
      .select((seriesCols.map(col) :+ col("chunk") :+ col("slope") :+
        col("intercept")): _*)
    g.join(fits, seriesCols :+ "chunk")
      .withColumn("value",
        col("value") - (col("intercept") + col("slope") * x))
      .drop("slope", "intercept", "chunk")
  }

  /** Full pipeline from a sigproc tim-file glob: tsamp and start MJD come
    * from the embedded header (S6, `pulsestack.py:292-301`) instead of a
    * hand-fed Config — only the fold ephemeris stays external.
    *
    * Each FILE is an independent series: detrend chunks key on (path,
    * chunk) and the fold emits one profile per path — a multi-file glob
    * never pools samples across files. Phase is computed from the file's
    * absolute start time minus `refMjd`; the default (NaN) references
    * each file to ITS OWN integer MJD, keeping the phase argument small
    * enough that double precision holds even for millisecond periods
    * (absolute-MJD seconds ≈ 5e9 would cost ~0.1 bin of jitter at
    * P = 5 ms). Pass an explicit epoch near the data to phase-align
    * profiles across files. */
  def runTim(spark: SparkSession, timGlob: String, periodSec: Double,
             nbins: Int, detrendChunk: Int = 1000,
             refMjd: Double = Double.NaN): DataFrame = {
    val ref =
      if (refMjd.isNaN) floor(col("tstart_mjd")) else lit(refMjd)
    val raw = graft.sources.SigprocHeader.timFileStream(spark, timGlob)
      .withColumn("t",
        (col("tstart_mjd") - ref) * 86400.0 +
          col("idx").cast(DoubleType) * col("tsamp_sec"))
      .select(col("path"), col("idx"), col("t"),
        col("value").cast(DoubleType).as("value"))
    val flat = detrend(raw, detrendChunk, Seq("path"))
    ProfileOps.fold(flat, "t", "value", 0.0, periodSec, nbins, Seq("path"))
      .orderBy(col("path"), col("ibin"))
  }

  /** Full pipeline from a `.dat` glob. Like runTim, each file is its own
    * series: detrend and fold key on path so multi-file globs never pool
    * unrelated samples (all files share cfg's tsamp/t0 — the `.dat`
    * format carries no header; per-file epochs need the tim path). */
  def run(spark: SparkSession, datGlob: String, cfg: Config): DataFrame = {
    val raw = BinarySources.float32Stream(spark, datGlob)
      .withColumn("t", col("idx").cast(DoubleType) * cfg.tsampSec)
      .select(col("path"), col("idx"), col("t"),
        col("value").cast(DoubleType).as("value"))
    val flat = detrend(raw, cfg.detrendChunk, Seq("path"))
    ProfileOps.fold(flat, "t", "value", cfg.t0Sec, cfg.periodSec, cfg.nbins,
      Seq("path"))
      .orderBy(col("path"), col("ibin"))
  }
}
