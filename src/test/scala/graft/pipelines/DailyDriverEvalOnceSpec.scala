package graft.pipelines

import graft.SparkSpecBase
import graft.sources.DriverParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A batch `step` evaluates the caller's arrival relation once: every
  * probe, the curation and each store half read one materialized copy
  * of it. */
class DailyDriverEvalOnceSpec extends SparkSpecBase {
  private val sf = "perfbench/data/sf0.01"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def canon(df: DataFrame): Seq[String] =
    df.select(Curation.DecisionCols.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("a batch step reads its arrival relation once per arrival row") {
    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
      .filter(col("doc_id") < 240).select(col("doc_id"), col("text"))
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val dir = tempDir("daily-eval-once")
    DailyDriver.init(spark, docs.filter(col("doc_id") < 160), bench, dir, cfg, Some(emb))

    val day1 = docs.filter(col("doc_id") >= 160).localCheckpoint()
    // a deterministic pass-through projection that counts the rows it
    // sees: every evaluation of the arrivals adds one per arrival row.
    // A projection, not a filter: the optimizer would copy a filter's
    // predicate onto the other side of every doc_id join and count
    // those rows too.
    val reads = spark.sparkContext.longAccumulator("arrival reads")
    val counted = udf { (id: Long) => reads.add(1L); id }
    val got = DailyDriver.step(spark, day1.withColumn("doc_id", counted(col("doc_id"))),
      bench, dir, cfg, Some(emb))
    val rows = day1.count()
    assert(reads.sum == rows, s"step read ${reads.sum} arrival rows for a $rows-row day")
    assert(canon(got) == canon(Curation.curate(docs, bench, cfg)),
      "the step diverged from the full curation")
  }
}
