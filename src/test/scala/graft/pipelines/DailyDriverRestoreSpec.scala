package graft.pipelines

import graft.SparkSpecBase
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot ROLLBACK: [[DailyDriver.restore]] must land every store
  * exactly where a fresh init over the sealed day lands (the forget
  * spec's contract, rollback edition), re-stepping the rolled-back
  * days must reproduce the original history, a torn restore replays
  * to the same bytes, and a live vector index without embeddings is
  * refused. */
class DailyDriverRestoreSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  private def fixtures(): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 =!= 0).localCheckpoint(true)
    val b = docs.filter(col("doc_id") % 4 === 0).localCheckpoint(true)
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select("doc_id", "text").localCheckpoint(true)
    (docs, emb, a, b, bench)
  }

  test("restore equals a fresh init over the sealed day; replayed steps reproduce history") {
    import graft.operators.{LexIndex, PqIndex, VecIndex}
    val (docs, emb, a, b, bench) = fixtures()
    val dir = tempDir("restore")
    val embA = emb.join(a.select(col("doc_id")), Seq("doc_id"))
    DailyDriver.init(spark, a, bench, dir, cfg, Some(embA))
    val v1 = DailyDriver.snapshot(spark, dir)
    DailyDriver.step(spark, b, bench, dir, cfg, Some(emb))
    val postStep = canon(DailyDriver.openDecisions(spark, dir))

    DailyDriver.restore(spark, dir, v1, docs, Some(emb))

    // reference: a fresh init over the sealed day, sharing the
    // restore-trained quantizer so cell layouts compare
    val cents = VecIndex.openCentroids(spark, DailyDriver.vecIndexDir(dir))
      .getOrElse(fail("restored index has no quantizer")).localCheckpoint()
    val refDir = tempDir("restore-ref")
    DailyDriver.init(spark, a, bench, refDir, cfg, Some(embA),
      quantizer = Some(cents))
    def dec(d: String) = canon(DailyDriver.openDecisions(spark, d))
    def sig(d: String) = canon(DailyDriver.openSigIndex(spark, d))
    def fps(d: String) = canon(DailyDriver.openFingerprints(spark, d))
    def postings(d: String) = LexIndex.openPostings(spark, s"$d/lex_index")
      .select("term", "doc_id", "tf", "dl", "df", "tb")
      .collect().map(_.toString).sorted
    def vecRows(d: String) = VecIndex.open(spark, DailyDriver.vecIndexDir(d))
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    def pqIds(d: String) = PqIndex.open(spark, DailyDriver.pqIndexDir(d))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(dec(dir).sameElements(dec(refDir)), "decisions diverged")
    assert(sig(dir).sameElements(sig(refDir)), "signature index diverged")
    assert(fps(dir).sameElements(fps(refDir)), "fingerprints diverged")
    assert(postings(dir).sameElements(postings(refDir)), "postings diverged")
    assert(vecRows(dir).sameElements(vecRows(refDir)), "vector cells diverged")
    assert(pqIds(dir).sameElements(vecRows(dir).map(_._1)),
      "PQ id set diverged from the vector index")
    assert(DailyDriver.status(spark, dir).forall(_.aligned),
      "stores desynced after restore")

    // the rolled-back day re-steps (its ids left the decision table)
    // and reproduces the original history byte-for-byte
    DailyDriver.step(spark, b, bench, dir, cfg, Some(emb))
    assert(canon(DailyDriver.openDecisions(spark, dir))
      .sameElements(postStep),
      "restore + replayed step diverged from the original history")
  }

  test("a torn restore (derived stores done, decisions not swapped) replays to the same bytes") {
    val (docs, emb, a, b, bench) = fixtures()
    val dir = tempDir("restore-torn")
    DailyDriver.init(spark, a, bench, dir, cfg,
      Some(emb.join(a.select(col("doc_id")), Seq("doc_id"))))
    val v1 = DailyDriver.snapshot(spark, dir)
    DailyDriver.step(spark, b, bench, dir, cfg, Some(emb))
    val conf = spark.sparkContext.hadoopConfiguration
    val fsys = new Path(dir).getFileSystem(conf)
    val saved = new Path(tempDir("restore-saved"), "decisions")
    FileUtil.copy(fsys, new Path(s"$dir/decisions"), fsys, saved, false, conf)
    val want = canon(DailyDriver.restore(spark, dir, v1, docs, Some(emb)))
    // torn shape: every derived store restored, decisions still post-step
    fsys.delete(new Path(s"$dir/decisions"), true)
    FileUtil.copy(fsys, saved, fsys, new Path(s"$dir/decisions"), false, conf)
    val replayed = canon(DailyDriver.restore(spark, dir, v1, docs, Some(emb)))
    assert(replayed.sameElements(want),
      "replayed torn restore diverged from the first run")
  }

  test("embeddings on a text-only driver are refused (no silent vector-half creation)") {
    val (docs, emb, a, _, bench) = fixtures()
    val dir = tempDir("restore-textonly")
    DailyDriver.init(spark, a, bench, dir, cfg) // no embeddings: text-only
    val v1 = DailyDriver.snapshot(spark, dir)
    intercept[IllegalArgumentException](
      DailyDriver.restore(spark, dir, v1, docs, Some(emb)))
    assert(graft.operators.VecIndex
      .currentVersion(spark, DailyDriver.vecIndexDir(dir)) == 0L,
      "refused restore still created a vector index")
    // the embeddings-less restore of the same dir works
    DailyDriver.restore(spark, dir, v1, docs)
    assert(DailyDriver.openDecisions(spark, dir).count() > 0)
  }

  test("a live vector index without embeddings is refused") {
    val (docs, emb, a, _, bench) = fixtures()
    val dir = tempDir("restore-guard")
    DailyDriver.init(spark, a, bench, dir, cfg,
      Some(emb.join(a.select(col("doc_id")), Seq("doc_id"))))
    val v1 = DailyDriver.snapshot(spark, dir)
    val before = canon(DailyDriver.openDecisions(spark, dir))
    intercept[IllegalArgumentException](
      DailyDriver.restore(spark, dir, v1, docs))
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(before),
      "refused restore still mutated the decision table")
  }
}
