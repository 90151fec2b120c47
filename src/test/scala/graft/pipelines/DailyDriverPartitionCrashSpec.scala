package graft.pipelines

import graft.SparkSpecBase
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DELTA-GRAIN decision publish's crash window: a step now
  * rewrites only the touched `batch=` partitions (PartitionSwap), so
  * the dangerous new state is a PARTIALLY applied partition set —
  * some partitions new, some old. The commit-marker discipline must
  * make every crash position resolve to the complete old or the
  * complete new table at the next open, and a replayed step must
  * converge byte-identically whether it crashed before the marker
  * (recompute) or after the full publish (probe-cost no-op). */
class DailyDriverPartitionCrashSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("torn partition publish: pre-marker invisible, post-marker rolls forward, replays converge") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-pswap-crash")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val dec = s"$dir/decisions"
    val fs = fsOf(dec)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = canon(DailyDriver.openDecisions(spark, dir))
    val saved = new Path(s"$dir/__decisions_saved")
    FileUtil.copy(fs, new Path(dec), fs, saved, false, conf)

    DailyDriver.step(spark, delta, bench, dir, cfg)
    val want = canon(DailyDriver.openDecisions(spark, dir))
    val wantSig = canon(DailyDriver.openSigIndex(spark, dir))
    assert(!want.sameElements(before), "fixture vacuous: step changed nothing")
    val minId = delta.agg(min(col("doc_id"))).collect()(0).getLong(0)
    // the step touched the arrivals' partition AND day 0's (components
    // span the boundary) — the multi-partition window this spec is for
    assert(fs.exists(new Path(dec, s"batch=$minId")),
      "arrivals' partition missing")
    assert(fs.exists(new Path(dec, "batch=0")), "day-0 partition missing")

    // --- crash AFTER the marker, with the arrivals' partition not yet
    // applied: stage holds it, the live table lacks it — without the
    // roll-forward this is the torn mix a replayed step would read
    fs.mkdirs(new Path(dec + "__stage"))
    require(fs.rename(new Path(dec, s"batch=$minId"),
      new Path(dec + "__stage", s"batch=$minId")))
    fs.create(new Path(dec + "__pcommit"), false).close()
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "post-marker crash did not roll forward to the complete new table")
    assert(!fs.exists(new Path(dec + "__pcommit")) &&
      !fs.exists(new Path(dec + "__stage")), "roll-forward left artifacts")

    // --- replay AFTER the full publish: the landed-arrivals probe must
    // make the whole step a no-op (recomputing against a prev that
    // already contains the arrivals would break the disjointness
    // contract), every store byte-identical
    DailyDriver.step(spark, delta, bench, dir, cfg)
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "post-publish replay changed the decision table")
    assert(canon(DailyDriver.openSigIndex(spark, dir)).sameElements(wantSig),
      "post-publish replay changed the signature index")

    // --- crash BEFORE the marker: pre-step table + uncommitted stage
    // debris — reads serve the old table; the replayed step recomputes
    // and converges to the clean run's bytes
    fs.delete(new Path(dec), true)
    FileUtil.copy(fs, saved, fs, new Path(dec), false, conf)
    // un-land the sig append too so the replay is a genuine pre-crash
    // rerun of the decisions half against consistent stores? No — the
    // sig append LANDED before the decisions publish in the crashed
    // attempt; the replay must skip it and still publish decisions
    // (DailyDriverCrashSpec's replay contract, now at partition grain).
    spark.range(1).select(lit(0L).as("batch"), lit(0L).as("x"))
      .write.partitionBy("batch").parquet(dec + "__stage")
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(before),
      "uncommitted stage debris leaked into the decision table")
    DailyDriver.step(spark, delta, bench, dir, cfg)
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "replayed step diverged from the clean run")
    assert(canon(DailyDriver.openSigIndex(spark, dir)).sameElements(wantSig),
      "replayed step double-appended the signature index")
  }

  test("a forget torn mid-publish (one victim partition applied) converges on replay") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-pswap-forget")
    DailyDriver.init(spark, a, bench, dir, cfg)
    DailyDriver.step(spark, delta, bench, dir, cfg)
    val dec = s"$dir/decisions"
    val fs = fsOf(dec)
    val conf = spark.sparkContext.hadoopConfiguration
    // victims from BOTH batches so the publish spans two partitions
    val victims = docs.filter(col("doc_id") % 31 === 1).select(col("doc_id"))
    val saved = new Path(s"$dir/__decisions_saved")
    FileUtil.copy(fs, new Path(dec), fs, saved, false, conf)
    DailyDriver.forget(spark, victims, docs, dir, cfg)
    val want = canon(DailyDriver.openDecisions(spark, dir))
    val minId = delta.agg(min(col("doc_id"))).collect()(0).getLong(0)
    // forge the torn state: day-0 partition applied, the arrivals'
    // partition still pre-forget, marker durable, stage holding the
    // unapplied partition (the exact mid-apply crash)
    val post = new Path(s"$dir/__decisions_post")
    FileUtil.copy(fs, new Path(dec), fs, post, false, conf)
    fs.delete(new Path(dec, s"batch=$minId"), true)
    FileUtil.copy(fs, new Path(saved, s"batch=$minId"),
      fs, new Path(dec, s"batch=$minId"), false, conf)
    fs.mkdirs(new Path(dec + "__stage"))
    FileUtil.copy(fs, new Path(post, s"batch=$minId"),
      fs, new Path(dec + "__stage", s"batch=$minId"), false, conf)
    fs.create(new Path(dec + "__pcommit"), false).close()
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "torn forget publish did not roll forward")
    // replay after the roll-forward: no victims anywhere → no-op
    DailyDriver.forget(spark, victims, docs, dir, cfg)
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "replayed forget changed the table")
  }

  test("a forget torn mid-publish of the fingerprint table converges on open and replay") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-pswap-fps")
    DailyDriver.init(spark, a, bench, dir, cfg)
    DailyDriver.step(spark, delta, bench, dir, cfg)
    val fps = s"$dir/fps"
    val fs = fsOf(fps)
    val conf = spark.sparkContext.hadoopConfiguration
    // fps holds EVERY doc (candidacy doesn't gate the audit substrate),
    // so victims from both batches make the publish span two partitions
    val victims = docs.filter(col("doc_id") % 31 === 1).select(col("doc_id"))
    val minId = delta.agg(min(col("doc_id"))).collect()(0).getLong(0)
    assert(fs.exists(new Path(fps, s"batch=$minId")) &&
      fs.exists(new Path(fps, "batch=0")),
      "fixture vacuous: fps is not batch-partitioned across two days")
    val saved = new Path(s"$dir/__fps_saved")
    FileUtil.copy(fs, new Path(fps), fs, saved, false, conf)
    DailyDriver.forget(spark, victims, docs, dir, cfg)
    val want = canon(DailyDriver.openFingerprints(spark, dir))
    val wantDec = canon(DailyDriver.openDecisions(spark, dir))
    // forge the torn state: day-0 fps partition applied, the arrivals'
    // still pre-forget, marker durable, stage holding the unapplied
    // partition (the mid-apply crash inside the fps PartitionSwap)
    val post = new Path(s"$dir/__fps_post")
    FileUtil.copy(fs, new Path(fps), fs, post, false, conf)
    fs.delete(new Path(fps, s"batch=$minId"), true)
    FileUtil.copy(fs, new Path(saved, s"batch=$minId"),
      fs, new Path(fps, s"batch=$minId"), false, conf)
    fs.mkdirs(new Path(fps + "__stage"))
    FileUtil.copy(fs, new Path(post, s"batch=$minId"),
      fs, new Path(fps + "__stage", s"batch=$minId"), false, conf)
    fs.create(new Path(fps + "__pcommit"), false).close()
    assert(canon(DailyDriver.openFingerprints(spark, dir)).sameElements(want),
      "torn fps publish did not roll forward")
    // replay after the roll-forward: no victims anywhere → probe-cost
    // no-op on every store, fps and decisions byte-identical
    DailyDriver.forget(spark, victims, docs, dir, cfg)
    assert(canon(DailyDriver.openFingerprints(spark, dir)).sameElements(want),
      "replayed forget changed the fingerprint table")
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(wantDec),
      "replayed forget changed the decision table")
  }
}
