package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sealed training-shard export: marker-committed revisions tied
  * to the snapshot's DATA revision, the staleness fence after a
  * redaction, the params-preserving re-export, coverage refusal, and
  * gc of superseded exports. */
class SnapshotsShardSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf: DataFrame = (1L to 20L)
    .map(i => (i, if (i % 2 == 0) "en" else "de",
      Seq.fill((i % 5).toInt + 1)(s"w$i tok").mkString(" ")))
    .toDF("doc_id", "lang", "text")

  private def sealedOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit(true).as("keep"),
      lit("train").as("split"), col("doc_id").as("component"),
      lit(true).as("dedup_keep"))
      .join(Snapshots.fingerprints(docs), Seq("doc_id"))

  private def canon(df: DataFrame): Array[String] =
    df.select(col("doc_id"), col("lang"), col("split"), col("shard"),
      col("bin"), col("start"), col("chunk_len"), col("fp"))
      .collect().map(_.toString).sorted

  test("export round-trips the pack, sealed under a marker; open refuses without one") {
    val root = tempDir("shardexp")
    val docs = docsDf
    val v = Snapshots.create(spark, root, sealedOf(docs))
    intercept[IllegalArgumentException](Snapshots.openShards(spark, root, v))
    Snapshots.exportShards(spark, root, v, docs, ctx = 8, chunk = 2)
    val got = canon(Snapshots.openShards(spark, root, v))
    val want = canon(ShardExport.pack(
      sealedOf(docs).filter(col("keep"))
        .select(col("doc_id"), col("split"), col("fp"))
        .join(docs.select(col("doc_id"), col("lang"), col("text")), Seq("doc_id")),
      ctx = 8, chunk = 2))
    assert(got.nonEmpty && got.sameElements(want),
      "sealed shard manifest diverged from the pack composition")
    assert(Snapshots.shardsFresh(spark, root, v))
    // replay-idempotent: re-export overwrites the same revision
    Snapshots.exportShards(spark, root, v, docs, ctx = 8, chunk = 2)
    assert(canon(Snapshots.openShards(spark, root, v)).sameElements(want))
  }

  test("export refuses a docs relation that does not cover the kept set") {
    val root = tempDir("shardcov")
    val docs = docsDf
    val v = Snapshots.create(spark, root, sealedOf(docs))
    val e = intercept[IllegalArgumentException](
      Snapshots.exportShards(spark, root, v,
        docs.filter(col("doc_id") =!= 7L)))
    assert(e.getMessage.contains("cover"), e.getMessage)
    assert(!Snapshots.shardsFresh(spark, root, v))
  }

  test("a redaction makes the export stale; re-export re-packs survivors with the sealed params") {
    val root = tempDir("shardstale")
    val docs = docsDf
    val v = Snapshots.create(spark, root, sealedOf(docs))
    Snapshots.exportShards(spark, root, v, docs, ctx = 8, chunk = 2)
    Snapshots.redact(spark, root, Seq(4L, 6L).toDF("doc_id"))
    val e = intercept[IllegalStateException](
      Snapshots.openShards(spark, root, v))
    assert(e.getMessage.contains("STALE"), e.getMessage)
    assert(!Snapshots.shardsFresh(spark, root, v))
    Snapshots.reexportStaleShards(spark, root, docs)
    val got = Snapshots.openShards(spark, root, v)
    assert(got.filter(col("doc_id").isin(4L, 6L)).isEmpty,
      "re-export still carries forgotten documents' chunks")
    // params came back from the marker (chunk=2 → no chunk longer)
    assert(got.agg(max(col("chunk_len"))).head.getLong(0) <= 2L,
      "re-export lost the sealed packing params")
    val survivors = docs.filter(!col("doc_id").isin(4L, 6L))
    val want = canon(ShardExport.pack(
      sealedOf(survivors).filter(col("keep"))
        .select(col("doc_id"), col("split"), col("fp"))
        .join(survivors.select(col("doc_id"), col("lang"), col("text")),
          Seq("doc_id")),
      ctx = 8, chunk = 2))
    assert(canon(got).sameElements(want),
      "re-export diverged from the pack over survivors")
    // gc: superseded export + superseded data revision sweep under
    // grace; the live pair survives
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 60L * 60 * 1000)
    assert(canon(Snapshots.openShards(spark, root, v)).sameElements(want))
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    assert(canon(Snapshots.openShards(spark, root, v)).sameElements(want))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/shards/v=$v/r=0")),
      "superseded shard export survived a zero-grace gc")
    // retiring the version takes its shard tree with it
    Snapshots.gc(spark, root, keep = _ => false, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/shards/v=$v")),
      "retired version's shard exports stranded")
  }

  test("a torn export (data without marker) is invisible and swept by gc") {
    val root = tempDir("shardtorn")
    val docs = docsDf
    val v = Snapshots.create(spark, root, sealedOf(docs))
    docs.limit(2).select(col("doc_id"), lit(0).as("shard"))
      .write.parquet(s"$root/shards/v=$v/r=0")
    intercept[IllegalArgumentException](Snapshots.openShards(spark, root, v))
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/shards/v=$v/r=0")),
      "torn export survived the sweep")
  }
}
