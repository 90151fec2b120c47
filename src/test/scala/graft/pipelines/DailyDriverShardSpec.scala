package graft.pipelines

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver's snapshot → training-shard loop: export a sealed
  * version's kept docs as the packed, token-balanced shard manifest;
  * later steps never perturb the sealed export; a forget that redacts
  * the version re-exports it over the survivors automatically. */
class DailyDriverShardSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def canon(df: DataFrame): Array[String] =
    df.select(col("doc_id"), col("lang"), col("split"), col("shard"),
      col("bin"), col("start"), col("chunk_len"), col("fp"))
      .collect().map(_.toString).sorted

  test("seal → export → step leaves it sealed; forget redacts and re-exports it") {
    val docsAll = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val docs = docsAll.select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-shards")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val v = DailyDriver.snapshot(spark, dir)
    DailyDriver.exportShards(spark, dir, v, docsAll)
    val sealed0 = canon(DailyDriver.openShards(spark, dir, v))
    assert(sealed0.nonEmpty, "empty shard export — fixture vacuous")
    // the manifest equals the pack composition over the sealed kept set
    val keptDocs = DailyDriver.openSnapshot(spark, dir, v)
      .filter(col("keep")).select(col("doc_id"), col("split"), col("fp"))
      .join(docsAll, Seq("doc_id"))
    assert(sealed0.sameElements(
      canon(graft.operators.ShardExport.pack(keptDocs))),
      "driver export diverged from the pack composition")
    // a later day lands: the sealed export must not move a byte
    DailyDriver.step(spark, delta, bench, dir, cfg)
    assert(canon(DailyDriver.openShards(spark, dir, v)).sameElements(sealed0),
      "a step perturbed a sealed shard export")
    // a takedown hitting sealed-kept docs: the forget cascade redacts
    // v AND re-exports its shards over the survivors
    val victims = DailyDriver.openSnapshot(spark, dir, v)
      .filter(col("keep")).select(col("doc_id")).limit(3)
      .localCheckpoint(true)
    val vIds = victims.collect().map(_.getLong(0)).toSet
    assert(vIds.nonEmpty)
    DailyDriver.forget(spark, victims, docs, dir, cfg)
    val after = DailyDriver.openShards(spark, dir, v)
    assert(after.filter(col("doc_id").isin(vIds.toSeq: _*)).isEmpty,
      "forgotten documents' chunks still in the sealed export")
    val keptAfter = DailyDriver.openSnapshot(spark, dir, v)
      .filter(col("keep")).select(col("doc_id"), col("split"), col("fp"))
      .join(docsAll, Seq("doc_id"))
    assert(canon(after).sameElements(
      canon(graft.operators.ShardExport.pack(keptAfter))),
      "post-takedown export diverged from the pack over survivors")
  }
}
