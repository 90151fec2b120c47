package graft

import graft.obs.JobCosts
import graft.operators.{LexIndex, PqIndex, VecIndex}
import graft.pipelines.{Curation, DailyDriver}
import graft.sources.DriverParquet
import org.apache.spark.sql.functions._

/** Opening a table or a store builds a DataFrame and runs nothing: the
  * parquet schema is read on the driver ([[DriverParquet]]), not by a
  * Spark job. Every job a DailyDriver lifecycle starts therefore runs
  * inside a SQL execution. A parquet read that bypasses DriverParquet
  * (Spark's schema job runs outside any SQL execution) fails here. */
class ReadJobGuardSpec extends SparkSpecBase {
  private val sf = "perfbench/data/sf0.01"

  test("loading each table starts no job") {
    Tables.names.foreach { n =>
      assert(JobCosts.during(spark)(Tables.load(spark, sf, n))._2.isEmpty, n)
    }
    assert(JobCosts.during(spark)(Tables.events(spark, sf))._2.isEmpty, "events")
  }

  test("init, step and hybridSearch start no job outside a SQL execution; " +
       "store opens start none at all") {
    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
      .filter(col("doc_id") < 240).select(col("doc_id"), col("text"))
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val cfg = Curation.Config(minQuality = 2.95)
    val dir = tempDir("read-job-guard")

    val (_, costs) = JobCosts.during(spark) {
      DailyDriver.init(spark, docs.filter(col("doc_id") < 160), bench, dir, cfg, Some(emb))
      DailyDriver.step(spark, docs.filter(col("doc_id") >= 160), bench, dir, cfg, Some(emb))
      val queries = docs.filter(col("doc_id") % 20 === 1)
        .select(col("doc_id").as("q_id"), col("text"))
      val probes = emb.join(queries.select(col("q_id").as("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("q_id"), col("embedding"))
      DailyDriver.hybridSearch(spark, dir, queries, probes, k = 3).collect()
    }
    val jobs = costs.map(_.executionId)
    assert(jobs.nonEmpty)
    assert(jobs.count(_.isEmpty) == 0,
      s"${jobs.count(_.isEmpty)} of ${jobs.size} jobs ran outside a SQL execution")

    val lex = s"$dir/lex_index"
    assert(LexIndex.deltaShare(spark, lex) == 0.0, "the lexical store has a live delta")
    val opens = Seq(
      "openDecisions" -> (() => DailyDriver.openDecisions(spark, dir)),
      "openCentroids" -> (() => VecIndex.openCentroids(spark, DailyDriver.vecIndexDir(dir)).get),
      "openQuant" -> (() => PqIndex.openQuant(spark, DailyDriver.pqIndexDir(dir))),
      "LexIndex.stats" -> (() => LexIndex.stats(spark, lex)),
      "Pinned.stats" -> (() => LexIndex.pinned(spark, lex).stats))
    opens.foreach { case (name, open) =>
      val (df, started) = JobCosts.during(spark)(open())
      assert(started.isEmpty, s"$name started ${started.size} job(s)")
      assert(df.columns.nonEmpty, name)
    }
  }
}
