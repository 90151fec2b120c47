package graft.pipelines

import graft.SparkSpecBase
import graft.operators.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver's sealed-snapshot surface: a snapshot seals exactly the
  * live decision table plus the incrementally-maintained fingerprints
  * (never a text rescan), the diff between two sealed days is exactly
  * the day's effects (independently re-derived here), verify audits
  * reproducibility, forget redacts sealed history, and a replayed step
  * never duplicates fingerprint rows. */
class DailyDriverSnapshotSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)
  private val cols = Curation.DecisionCols

  private def corpus(): (DataFrame, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0).localCheckpoint(true)
    val b = docs.filter(col("doc_id") % 4 === 0).localCheckpoint(true)
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select("doc_id", "text").localCheckpoint(true)
    (a, b, bench)
  }

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("snapshot seals the live decisions plus correct fingerprints, one table version per seal") {
    val (a, _, bench) = corpus()
    val dir = tempDir("snapdrv")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val v = DailyDriver.snapshot(spark, dir)
    assert(v == 1L && DailyDriver.snapshotVersions(spark, dir) == Seq(1L))
    val sealedRows = DailyDriver.openSnapshot(spark, dir, v)
    // decision columns: exactly the live table
    assert(canon(sealedRows.select(cols.map(col): _*))
      .sameElements(canon(DailyDriver.openDecisions(spark, dir)
        .select(cols.map(col): _*))),
      "sealed decision columns diverge from the live table")
    // fingerprints: every sealed row carries strHash(text) of its doc
    val wrong = sealedRows.select(col("doc_id"), col("fp"))
      .join(a.select(col("doc_id"),
        Snapshots.fingerprint(col("text")).as("want")), Seq("doc_id"))
      .filter(!(col("fp") <=> col("want")))
    assert(wrong.isEmpty, "sealed fingerprints diverge from strHash(text)")
    assert(sealedRows.filter(col("fp").isNull).isEmpty,
      "a sealed row lost its fingerprint")
  }

  test("diff between two sealed days is exactly the day's effects (re-derived independently)") {
    val (a, b, bench) = corpus()
    val dir = tempDir("snapdiffdrv")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val v1 = DailyDriver.snapshot(spark, dir)
    val before = DailyDriver.openDecisions(spark, dir)
      .select(cols.map(col): _*).localCheckpoint(true)
    DailyDriver.step(spark, b, bench, dir, cfg)
    val v2 = DailyDriver.snapshot(spark, dir)
    val after = DailyDriver.openDecisions(spark, dir)
      .select(cols.map(col): _*).localCheckpoint(true)

    val d = DailyDriver.snapshotDiff(spark, dir, v1, v2)
      .select(col("doc_id"), col("status")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every arrival is 'added'; nothing is 'removed' on a pure step
    val bIds = b.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bIds.forall(d.get(_).contains("added")),
      "an arrival is missing from the diff or not 'added'")
    assert(!d.valuesIterator.contains("removed"),
      "a pure step produced a 'removed' row")
    // 'changed' = exactly the prior docs whose decision row changed
    // (re-derived here straight from the two decision tables — the
    // sealed compare columns keep/split/component/dedup_keep, fp can't
    // change without text)
    val key = Seq("keep", "split", "component", "dedup_keep")
    def m(df: DataFrame) = df.select(col("doc_id") +: key.map(col): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val mb = m(before); val ma = m(after)
    val wantChanged = mb.keySet.filter(id => ma.get(id).exists(_ != mb(id)))
    val gotChanged = d.filter(_._2 == "changed").keySet
    assert(gotChanged == wantChanged,
      s"changed-set mismatch: got ${gotChanged.size}, want ${wantChanged.size}")
    // and the diff carries nothing else
    assert(d.keySet == bIds ++ wantChanged, "diff contains spurious rows")
  }

  test("verifySnapshot: empty on the sealed corpus, flags tampered and missing text") {
    val (a, b, bench) = corpus()
    val dir = tempDir("snapverifydrv")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val v1 = DailyDriver.snapshot(spark, dir)
    DailyDriver.step(spark, b, bench, dir, cfg)
    // day-0 snapshot verifies against day-0 docs AND against the grown
    // corpus (extra docs are not the snapshot's concern)
    assert(DailyDriver.verifySnapshot(spark, dir, v1, a).isEmpty)
    assert(DailyDriver.verifySnapshot(spark, dir, v1, a.unionByName(b)).isEmpty)
    // tamper one doc, drop another
    val tamperedId = a.select(min(col("doc_id"))).head.getLong(0)
    val droppedId = a.select(max(col("doc_id"))).head.getLong(0)
    val mutated = a.filter(col("doc_id") =!= droppedId)
      .withColumn("text", when(col("doc_id") === tamperedId,
        concat(col("text"), lit(" TAMPERED"))).otherwise(col("text")))
    val bad = DailyDriver.verifySnapshot(spark, dir, v1, mutated)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bad == Map(tamperedId -> "changed", droppedId -> "missing"))
  }

  test("forget redacts sealed history: victims gone, every other sealed row untouched") {
    val (a, b, bench) = corpus()
    val docs = a.unionByName(b)
    val dir = tempDir("snapforgetdrv")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val v1 = DailyDriver.snapshot(spark, dir)
    DailyDriver.step(spark, b, bench, dir, cfg)
    val v2 = DailyDriver.snapshot(spark, dir)
    val victims = docs.filter(col("doc_id") % 31 === 1)
      .select("doc_id").localCheckpoint(true)
    val vSet = victims.collect().map(_.getLong(0)).toSet
    // non-vacuity: both sealed versions contain victims
    assert(!DailyDriver.openSnapshot(spark, dir, v1)
      .join(victims, Seq("doc_id"), "left_semi").isEmpty)
    val keepBefore1 = canon(DailyDriver.openSnapshot(spark, dir, v1)
      .join(victims, Seq("doc_id"), "left_anti"))
    val keepBefore2 = canon(DailyDriver.openSnapshot(spark, dir, v2)
      .join(victims, Seq("doc_id"), "left_anti"))

    DailyDriver.forget(spark, victims, docs, dir, cfg)

    for (v <- Seq(v1, v2)) {
      val s = DailyDriver.openSnapshot(spark, dir, v)
      assert(s.join(victims, Seq("doc_id"), "left_semi").isEmpty,
        s"victims survive in sealed v=$v")
    }
    assert(canon(DailyDriver.openSnapshot(spark, dir, v1))
      .sameElements(keepBefore1), "redaction disturbed non-victim rows in v1")
    assert(canon(DailyDriver.openSnapshot(spark, dir, v2))
      .sameElements(keepBefore2), "redaction disturbed non-victim rows in v2")
    // the live fingerprint table dropped the victims too
    assert(DailyDriver.openFingerprints(spark, dir)
      .join(victims, Seq("doc_id"), "left_semi").isEmpty,
      "victim fingerprints survive the forget")
    // the redacted day-0 snapshot still verifies against the post-
    // takedown corpus (reproducibility survives the redaction)
    assert(DailyDriver.verifySnapshot(spark, dir, v1,
      docs.filter(!col("doc_id").isin(vSet.toSeq: _*))).isEmpty)
  }

  test("a replayed step never duplicates fingerprint rows") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val (a, b, bench) = corpus()
    val dir = tempDir("snapreplaydrv")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val saved = new Path(s"$dir/__saved_decisions")
    FileUtil.copy(fs, new Path(s"$dir/decisions"), fs, saved, false, conf)
    DailyDriver.step(spark, b, bench, dir, cfg)
    val want = canon(DailyDriver.openFingerprints(spark, dir))
    // crash state "fps append landed, decision swap didn't": restore the
    // old table and replay the whole step
    FileUtil.copy(fs, saved, fs, new Path(s"$dir/decisions"), true, conf)
    DailyDriver.step(spark, b, bench, dir, cfg)
    val got = canon(DailyDriver.openFingerprints(spark, dir))
    assert(got.length == want.length,
      s"replay duplicated fps rows: ${got.length} vs ${want.length}")
    assert(got.sameElements(want), "replay changed the fingerprint table")
  }
}
