package graft.pipelines

import graft.SparkSpecBase
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed takedown's contract: one [[DailyDriver.forget]] call
  * leaves every driver store exactly where a fresh [[DailyDriver.init]]
  * over corpus-minus-victims (same quantizer) lands — decisions,
  * signature index, lexical postings, and vector cells bit-for-bit; the
  * lossy PQ table id-for-id with its quantizer pairing intact. Plus the
  * crash story: a forget torn before its decision swap replays to the
  * same bytes.
  */
class DailyDriverForgetSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)
  private val cols = Curation.DecisionCols

  private def canon(df: DataFrame): Array[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted

  test("forget equals a fresh init over corpus minus victims, across all stores") {
    import graft.operators.{LexIndex, PqIndex, VecIndex}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    // residue class chosen to contain KEPT candidates (probed against
    // the q79 oracle — %37's members all lose their dedup elections on
    // this corpus, %31 keeps three)
    val victims = docs.filter(col("doc_id") % 31 === 1)
      .select(col("doc_id")).localCheckpoint(true)
    assert(victims.count() > 0, "fixture: no victims")

    val dir = tempDir("daily-forget")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb))
    // non-vacuity: at least one victim is a KEPT candidate — its
    // removal exercises the re-decide path, not just row drops
    assert(!DailyDriver.openDecisions(spark, dir)
      .join(victims, Seq("doc_id"), "left_semi")
      .filter(col("keep")).isEmpty,
      "fixture: no victim was a kept candidate")
    // pin the quantizer BEFORE the forget so the reference init can
    // share the cell layout (forget never retrains)
    val cents = VecIndex.openCentroids(spark, DailyDriver.vecIndexDir(dir))
      .getOrElse(fail("driver vec index has no quantizer")).localCheckpoint()

    val got = DailyDriver.forget(spark, victims, docs, dir, cfg)

    val minus = docs.join(victims, Seq("doc_id"), "left_anti")
    val refDir = tempDir("daily-forget-ref")
    DailyDriver.init(spark, minus, bench, refDir, cfg, Some(emb),
      quantizer = Some(cents))

    // decisions: row-for-row, including re-elected survivors and splits
    val want = canon(DailyDriver.openDecisions(spark, refDir))
    val g = canon(got)
    assert(g.length == want.length, s"rows ${g.length} vs ${want.length}")
    g.zip(want).zipWithIndex.find { case ((a, b), _) => a != b }.foreach {
      case ((a, b), i) => fail(s"decision divergence at $i:\nforget=$a\ninit- =$b")
    }
    // signature index: same row set
    def sig(d: String): Array[String] =
      DailyDriver.openSigIndex(spark, d).collect().map(_.toString).sorted
    assert(sig(dir).sameElements(sig(refDir)),
      "signature index diverged from the fresh init-minus")
    // lexical postings: victim buckets rewritten with recounted df must
    // equal the fresh build over surviving candidates
    def postings(d: String): Array[String] =
      LexIndex.openPostings(spark, s"$d/lex_index")
        .select("term", "doc_id", "tf", "dl", "df", "tb")
        .collect().map(_.toString).sorted
    assert(postings(dir).sameElements(postings(refDir)),
      "lexical index diverged from the fresh init-minus")
    // vector cells: same quantizer → same (id, cid) rows exactly
    def vecRows(d: String): Array[(Long, Int)] =
      VecIndex.open(spark, DailyDriver.vecIndexDir(d))
        .select(col("doc_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(vecRows(dir).sameElements(vecRows(refDir)),
      "vector index diverged from the fresh init-minus")
    // PQ: the codes are lossy re-trainings (sub-codebooks depend on the
    // candidate set) so byte equality is not the contract — victim
    // absence, survivor presence, and a live quantizer pairing are
    def pqIds(d: String): Array[Long] =
      PqIndex.open(spark, DailyDriver.pqIndexDir(d))
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(pqIds(dir).sameElements(vecRows(dir).map(_._1)),
      "PQ id set diverged from the vector index after the forget")
    // fingerprints: the sixth store follows the same contract — the
    // forget's anti-join rewrite must equal the init-minus table
    // row-for-row (same docs, same hashes)
    def fpsRows(d: String): Array[String] =
      DailyDriver.openFingerprints(spark, d).collect().map(_.toString).sorted
    assert(fpsRows(dir).sameElements(fpsRows(refDir)),
      "fingerprint table diverged from the fresh init-minus")
    // retrieval never surfaces a victim, on either path
    val qs = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 300)
      .select(col("doc_id").as("q_id"), col("text"))
    val ps = emb.join(qs.select(col("q_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    def fused(pqDepth: Int): DataFrame =
      DailyDriver.hybridSearch(spark, dir, qs, ps, pqDepth = pqDepth)
    assert(fused(0).join(victims, Seq("doc_id"), "left_semi").isEmpty,
      "exact-path retrieval surfaced a forgotten doc")
    assert(fused(DailyDriver.ExhaustiveRerank)
      .join(victims, Seq("doc_id"), "left_semi").isEmpty,
      "PQ-path retrieval surfaced a forgotten doc")

    // ---- crash/replay: torn before the decision swap ----
    // save post-forget decisions, restore the PRE-forget table
    // (indexes keep the forget's work — the torn shape), replay
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val saved = new Path(tempDir("daily-forget-saved"), "decisions")
    FileUtil.copy(fs, new Path(s"$dir/decisions"), fs, saved, false, conf)
    // reconstruct the pre-forget decision table from the reference:
    // easier — re-init a scratch dir over the FULL corpus and steal its
    // decisions (init decisions are deterministic)
    val fullDir = tempDir("daily-forget-full")
    DailyDriver.init(spark, docs, bench, fullDir, cfg)
    fs.delete(new Path(s"$dir/decisions"), true)
    FileUtil.copy(fs, new Path(s"$fullDir/decisions"), fs,
      new Path(s"$dir/decisions"), false, conf)
    val replayed = DailyDriver.forget(spark, victims, docs, dir, cfg)
    assert(canon(replayed).sameElements(g),
      "replayed torn forget diverged from the first run")
    assert(postings(dir).sameElements(postings(refDir)) &&
      vecRows(dir).sameElements(vecRows(refDir)),
      "replayed torn forget perturbed an already-scrubbed index")
    // and a SECOND full forget (post-swap replay) is a no-op
    val again = DailyDriver.forget(spark, victims, docs, dir, cfg)
    assert(canon(again).sameElements(g), "post-swap forget replay moved rows")
    // the live dedup-health profile equals the from-scratch corpus's —
    // the monitor stays exact across forgets, not just steps
    def profile(d: String): Array[String] =
      DailyDriver.dedupProfile(spark, d).collect().map(_.toString)
    assert(profile(dir).sameElements(profile(refDir)),
      "post-forget dedup profile diverged from the init-minus profile")
  }

  test("chunkForget removes victims' cleaned text at batch grain; empty batches go") {
    import graft.operators.ChunkDedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 400)
    val b = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
    val dir = tempDir("chunk-forget")
    DailyDriver.chunkInit(spark, a, dir)
    DailyDriver.chunkStep(spark, b, dir)
    // victims: a slice of day 0 plus ALL of day 1 — the day-1 batch
    // must be deleted outright (zero survivors: the dynamic-overwrite
    // silent-survival trap), day 0 rewritten in place
    val victims = docs.filter(
        (col("doc_id") >= 400 && col("doc_id") < 500) ||
        col("doc_id") % 13 === 2)
      .select(col("doc_id")).localCheckpoint(true)
    val beforeIdx = DailyDriver.openChunkIndex(spark, dir)
      .collect().map(_.toString).sorted
    DailyDriver.chunkForget(spark, victims, dir)
    val cleanedRows = DailyDriver.openCleaned(spark, dir)
      .collect().map(_.toString).sorted
    assert(DailyDriver.openCleaned(spark, dir)
      .join(victims, Seq("doc_id"), "left_semi").isEmpty,
      "a victim's cleaned text survived the takedown")
    // survivors' rewritten text is untouched (no re-chunking)
    val wantSurvivors = ChunkDedup.rewrite(a, "doc_id", "text", 20)
      .join(victims, Seq("doc_id"), "left_anti")
      .collect().map(_.toString).sorted
    assert(cleanedRows.sameElements(wantSurvivors),
      "chunkForget perturbed surviving docs' cleaned text")
    // the batch=minId(b) partition is gone from disk, not just empty
    val minB = b.agg(min(col("doc_id"))).head.getLong(0)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/cleaned/batch=$minB")),
      "an all-victim batch partition survived on disk")
    // the chunk-hash index is UNTOUCHED by design (takedown = text)
    assert(DailyDriver.openChunkIndex(spark, dir)
      .collect().map(_.toString).sorted.sameElements(beforeIdx),
      "chunkForget moved the chunk-hash index")
    // idempotent
    DailyDriver.chunkForget(spark, victims, dir)
    assert(DailyDriver.openCleaned(spark, dir)
      .collect().map(_.toString).sorted.sameElements(cleanedRows),
      "replayed chunkForget moved rows")
    // a takedown of EVERYTHING left would strand a schema-less
    // directory (every later open/step wedges on parquet inference) —
    // that shape is a reset, refused loudly
    val eAll = intercept[IllegalArgumentException] {
      DailyDriver.chunkForget(spark, docs.select(col("doc_id")), dir)
    }
    assert(eAll.getMessage.contains("re-chunkInit"), eAll.getMessage)
    assert(DailyDriver.openCleaned(spark, dir)
      .collect().map(_.toString).sorted.sameElements(cleanedRows),
      "a refused full takedown still mutated the cleaned corpus")
  }
}
