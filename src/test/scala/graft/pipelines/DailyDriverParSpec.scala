package graft.pipelines

import graft.SparkSpecBase
import graft.obs.JobCosts
import graft.operators.{Lease, LexIndex, PqIndex, UnigramLm, VecIndex}
import graft.sources.DriverParquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A `step` or `init` whose store halves run side by side keeps the
  * call's failure contract: when one half throws, the call throws that
  * error only after every other half has finished and released its
  * lease, and a replay (a re-`init`) lands the day exactly. */
class DailyDriverParSpec extends SparkSpecBase {
  private val sf = "perfbench/data/sf0.01"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def canon(df: DataFrame): Seq[String] =
    df.select(Curation.DecisionCols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def sigRows(df: DataFrame): Seq[String] =
    df.select("doc_id", "toks", "n", "buckets").collect().map(_.toString).sorted.toSeq

  private def postings(p: String): Seq[String] = LexIndex.openPostings(spark, p)
    .select("term", "doc_id", "tf", "dl", "df", "tb").collect().map(_.toString).sorted.toSeq

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("an init whose lexical half fails throws after the other halves finish; a re-init lands day 0") {
    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
      .filter(col("doc_id") < 160).select(col("doc_id"), col("text"))
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val dir = tempDir("daily-par-init")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lexDir = s"$dir/lex_index"
    val vdir = DailyDriver.vecIndexDir(dir)
    val pdir = DailyDriver.pqIndexDir(dir)

    // a live writer holds the lexical index: init's lex build fails
    // fast, while its fps, sig and vec+PQ halves have work to do
    val holder = Lease.acquire(spark, lexDir, "another-writer")
    val (thrown, jobs) = JobCosts.during(spark) {
      intercept[Lease.LeaseHeldException](
        DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb)))
    }
    assert(thrown.getMessage.contains(lexDir), thrown)
    assert(jobs.nonEmpty && jobs.forall(_.seconds.isDefined),
      s"a job was still running when init threw: ${jobs.filter(_.seconds.isEmpty)}")
    Seq(dir, vdir, pdir).foreach { d =>
      assert(!fs.exists(new Path(s"$d/__lease")), s"lease of $d still held after init threw")
    }
    assert(VecIndex.open(spark, vdir).count() > 0, "the vector half had not landed when init threw")
    assert(PqIndex.open(spark, pdir).count() > 0, "the PQ half had not landed when init threw")
    assert(DailyDriver.openSigIndex(spark, dir).count() > 0,
      "the signature half had not landed when init threw")

    // once the lease is released a re-init converges on day 0
    Lease.release(spark, holder)
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb))
    val got = DailyDriver.openDecisions(spark, dir)
    assert(canon(got) == canon(Curation.curate(docs, bench, cfg)),
      "re-init diverged from the full curation")
    val cand = docs.join(got.filter(col("quality_pass") && col("contam_pass"))
      .select("doc_id"), Seq("doc_id"))
    assert(sigRows(DailyDriver.openSigIndex(spark, dir)) ==
      sigRows(graft.streaming.StreamOps.signatureIndex(cand)),
      "signature index built from the curation's token sets diverged from a tokenize pass")
    val seqLex = tempDir("daily-par-init-lex")
    LexIndex.build(UnigramLm.termFreq(cand, "doc_id", "text"), seqLex)
    assert(postings(lexDir) == postings(seqLex), "lexical index diverged from a sequential build")
    val candIds = ids(cand.join(emb.select("doc_id"), Seq("doc_id")))
    assert(ids(VecIndex.open(spark, vdir)) == candIds, "vector index diverged from the candidates")
    assert(ids(PqIndex.open(spark, pdir)) == candIds, "PQ code table diverged from the candidates")
  }

  test("a step whose lexical half fails throws after the other halves finish; a replay lands the day") {
    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
      .filter(col("doc_id") < 240).select(col("doc_id"), col("text"))
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val day0 = docs.filter(col("doc_id") < 160)
    val day1 = docs.filter(col("doc_id") >= 160)
    val dir = tempDir("daily-par")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DailyDriver.init(spark, day0, bench, dir, cfg, Some(emb))
    val decBefore = canon(DailyDriver.openDecisions(spark, dir))
    val vdir = DailyDriver.vecIndexDir(dir)
    val vecBefore = VecIndex.open(spark, vdir).count()

    // a live writer holds the lexical index: the step's lex merge fails
    // fast, while its sig, fps and vec+PQ halves have work to do
    val lexDir = s"$dir/lex_index"
    val holder = Lease.acquire(spark, lexDir, "another-writer")
    val (thrown, jobs) = JobCosts.during(spark) {
      intercept[Lease.LeaseHeldException](
        DailyDriver.step(spark, day1, bench, dir, cfg, Some(emb)))
    }
    assert(thrown.getMessage.contains(lexDir), thrown)
    assert(jobs.nonEmpty && jobs.forall(_.seconds.isDefined),
      s"a job was still running when step threw: ${jobs.filter(_.seconds.isEmpty)}")
    Seq(dir, vdir, DailyDriver.pqIndexDir(dir)).foreach { d =>
      assert(!fs.exists(new Path(s"$d/__lease")), s"lease of $d still held after step threw")
    }
    assert(VecIndex.open(spark, vdir).count() > vecBefore,
      "the vector half had not landed when step threw")
    assert(DriverParquet.read(spark).load(s"$dir/fps")
      .join(day1.select("doc_id"), Seq("doc_id"), "left_semi").count() == day1.count(),
      "the fps half had not landed when step threw")
    assert(canon(DailyDriver.openDecisions(spark, dir)) == decBefore,
      "the failed step changed the decision table")

    // the replay skips the landed halves and lands the rest
    Lease.release(spark, holder)
    val got = DailyDriver.step(spark, day1, bench, dir, cfg, Some(emb))
    val want = Curation.curate(docs, bench, cfg)
    assert(canon(got) == canon(want), "replayed step diverged from the full rerun")

    val cand = docs.join(got.filter(col("quality_pass") && col("contam_pass"))
      .select("doc_id"), Seq("doc_id"))
    val fullLex = tempDir("daily-par-lex")
    LexIndex.build(UnigramLm.termFreq(cand, "doc_id", "text"), fullLex)
    assert(postings(lexDir) == postings(fullLex), "lexical index diverged from the full build")
    val candIds = ids(cand.join(emb.select("doc_id"), Seq("doc_id")))
    assert(ids(VecIndex.open(spark, vdir)) == candIds, "vector index double- or under-appended")
    assert(ids(PqIndex.open(spark, DailyDriver.pqIndexDir(dir))) == candIds,
      "PQ code table double- or under-appended")
    assert(ids(DailyDriver.openSigIndex(spark, dir)) ==
      ids(graft.streaming.StreamOps.signatureIndex(cand)),
      "signature index double- or under-appended")
  }

  test("a step whose PQ half fails throws after the vec append finishes; a replay lands the day") {
    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
      .filter(col("doc_id") < 240).select(col("doc_id"), col("text"))
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val day0 = docs.filter(col("doc_id") < 160)
    val day1 = docs.filter(col("doc_id") >= 160)
    val dir = tempDir("daily-par-pq")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DailyDriver.init(spark, day0, bench, dir, cfg, Some(emb))
    val decBefore = canon(DailyDriver.openDecisions(spark, dir))
    val vdir = DailyDriver.vecIndexDir(dir)
    val pdir = DailyDriver.pqIndexDir(dir)
    val vecBefore = VecIndex.open(spark, vdir).count()

    // a live writer holds the PQ code table: the step's PQ append fails
    // fast, while the vec append beside it has work to do
    val holder = Lease.acquire(spark, pdir, "another-writer")
    val (thrown, jobs) = JobCosts.during(spark) {
      intercept[Lease.LeaseHeldException](
        DailyDriver.step(spark, day1, bench, dir, cfg, Some(emb)))
    }
    assert(thrown.getMessage.contains(pdir), thrown)
    assert(jobs.nonEmpty && jobs.forall(_.seconds.isDefined),
      s"a job was still running when step threw: ${jobs.filter(_.seconds.isEmpty)}")
    Seq(dir, vdir).foreach { d =>
      assert(!fs.exists(new Path(s"$d/__lease")), s"lease of $d still held after step threw")
    }
    assert(VecIndex.open(spark, vdir).count() > vecBefore,
      "the vector half had not landed when step threw")
    assert(canon(DailyDriver.openDecisions(spark, dir)) == decBefore,
      "the failed step changed the decision table")
    Lease.release(spark, holder)
    assert(!fs.exists(new Path(s"$pdir/__lease")), "the failed step left a PQ lease behind")

    // the replay skips the landed vec append and lands the PQ one
    val got = DailyDriver.step(spark, day1, bench, dir, cfg, Some(emb))
    assert(canon(got) == canon(Curation.curate(docs, bench, cfg)),
      "replayed step diverged from the full rerun")
    val fresh = tempDir("daily-par-pq-fresh")
    DailyDriver.init(spark, day0, bench, fresh, cfg, Some(emb))
    DailyDriver.step(spark, day1, bench, fresh, cfg, Some(emb))
    assert(rows(VecIndex.open(spark, vdir)) ==
      rows(VecIndex.open(spark, DailyDriver.vecIndexDir(fresh))),
      "vector index diverged from a fresh build of the same days")
    assert(rows(PqIndex.open(spark, pdir)) ==
      rows(PqIndex.open(spark, DailyDriver.pqIndexDir(fresh))),
      "PQ code table diverged from a fresh build of the same days")
  }
}
