package graft.pipelines

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** [[DailyDriver.hybridSearchReport]] — the (nprobe, pqDepth) tuning
  * sweep: self-consistent at the truth combo, bitwise-exact at
  * ExhaustiveRerank, and above the recall floor at the production
  * default depth. */
class DailyDriverReportSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  test("report pins recall=1 at the truth combos and a floor at the default depth") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-report")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb))
    val qBatch = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 500)
    val queries = qBatch.select(col("doc_id").as("q_id"), col("text"))
    val probes = emb.join(qBatch.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    val rep = DailyDriver.hybridSearchReport(spark, dir, queries, probes,
      nprobes = Seq(2, DailyDriver.VecCells),
      pqDepths = Seq(0, 40, DailyDriver.ExhaustiveRerank))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(rep.size == 6, s"sweep shape wrong: ${rep.keys}")
    // the truth combo reproduces itself; the exhaustive rerank is the
    // exact path bitwise — both must be recall 1.0 exactly
    assert(rep((DailyDriver.VecCells, 0))._1 == 1.0,
      s"truth combo not self-consistent: $rep")
    assert(rep((DailyDriver.VecCells, DailyDriver.ExhaustiveRerank))._1 == 1.0,
      s"exhaustive rerank diverged from the exact path: $rep")
    // the production default (driverCheck's measured row): the
    // bounded nomination's OWN recall cost at fixed nprobe — what
    // pqDepth actually trades — stays small (the nprobe cost is the
    // exact path's too and is priced separately by the (2, 0) row),
    // and the absolute fused recall keeps a floor an owner can tune up
    // from
    assert(rep((2, 40))._1 >= rep((2, 0))._1 - 0.15,
      s"pqDepth=40 lost more than 0.15 recall vs the exact scan at " +
        s"the same nprobe: $rep")
    assert(rep((2, 40))._1 >= 0.5,
      s"default-depth recall under the floor: $rep")
    // more probes never hurt recall at fixed pqDepth
    assert(rep((DailyDriver.VecCells, 40))._1 >= rep((2, 40))._1 - 1e-9,
      s"recall not monotone in nprobe: $rep")
    assert(rep.values.forall(_._2 > 0.0), "wall times missing")
  }
}
